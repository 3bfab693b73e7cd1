"""Readers over ``/proc``: the benchmark's process tree and the host's load.

psutil is not available, so the tree is found by scanning
``/proc/<pid>/stat`` for parent links.  The tree rooted at the benchmark's
own process covers the Spark driver JVM (started by PySpark as a child)
and the Python workers the JVM forks.

CPU time of a process that exits during a measured region is kept only
if its parent reaps it (it then moves into the parent's ``cutime`` and
``cstime``); Spark's Python daemon reaps its workers, so that case holds
for everything the engine starts.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime
    vsize: int
    rss_pages: int


def parse_stat(pid: int, text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line.  The command name may hold
    spaces and parentheses, so fields are counted after its last ``)``."""
    fields = text[text.rindex(")") + 2 :].split()
    # fields[0] is the state (field 3 of proc(5)); field k is fields[k - 3]
    ppid = int(fields[1])
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ProcStat(pid, ppid, cpu, int(fields[20]), int(fields[21]))


def read_all(proc: str = "/proc") -> dict[int, ProcStat]:
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                out[int(name)] = parse_stat(int(name), f.read())
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def tree(stats: dict[int, ProcStat], root: int) -> list[ProcStat]:
    """``root`` and all its descendants present in ``stats``."""
    kids: dict[int, list[int]] = {}
    for s in stats.values():
        kids.setdefault(s.ppid, []).append(s.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(kids.get(pid, ()))
    return out


@dataclass(frozen=True)
class TreeUsage:
    cpu_s: float
    rss_bytes: int
    n_procs: int


def shares_parent_memory(s: ProcStat, stats: dict[int, ProcStat]) -> bool:
    """A child caught between vfork and exec (the JVM starts helper
    processes this way) reports its parent's address space as its own."""
    p = stats.get(s.ppid)
    return p is not None and (s.vsize, s.rss_pages) == (p.vsize, p.rss_pages)


def tree_usage(root: int, proc: str = "/proc",
               rss_exclude: tuple[int, ...] = ()) -> TreeUsage:
    """CPU seconds of the whole tree; RSS of its members except
    ``rss_exclude`` (the JVM, whose memory is read from its own beans)."""
    stats = read_all(proc)
    members = tree(stats, root)
    return TreeUsage(
        sum(s.cpu_ticks for s in members) / CLOCK_TICKS,
        sum(
            s.rss_pages for s in members
            if s.pid not in rss_exclude and not shares_parent_memory(s, stats)
        ) * PAGE_BYTES,
        len(members),
    )


def descendants(root: int, proc: str = "/proc") -> list[int]:
    return [s.pid for s in tree(read_all(proc), root) if s.pid != root]


class TreeSampler:
    """Background thread that samples the tree's resident memory.

    ``region()`` opens a measured region: ``end()`` on it returns the
    tree's CPU seconds spent inside the region and the highest summed RSS
    of the members not in ``rss_exclude`` seen by any sample taken inside
    it (plus one taken at each end)."""

    def __init__(self, root: int, interval_s: float = 0.2, proc: str = "/proc",
                 rss_exclude: tuple[int, ...] = ()):
        self.root = root
        self.interval_s = interval_s
        self.proc = proc
        self.rss_exclude = rss_exclude
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _usage(self) -> TreeUsage:
        return tree_usage(self.root, self.proc, self.rss_exclude)

    def _sample(self) -> TreeUsage:
        u = self._usage()
        with self._lock:
            self._peak = max(self._peak, u.rss_bytes)
        return u

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def region(self) -> "Region":
        u = self._usage()
        with self._lock:
            self._peak = u.rss_bytes
        return Region(self, u.cpu_s)


class Region:
    def __init__(self, sampler: TreeSampler, cpu0: float):
        self._sampler = sampler
        self._cpu0 = cpu0
        self._t0 = time.perf_counter()

    def end(self) -> dict:
        u = self._sampler._sample()
        with self._sampler._lock:
            peak = self._sampler._peak
        return {
            "wall_s": time.perf_counter() - self._t0,
            "cpu_s": u.cpu_s - self._cpu0,
            "peak_rss_bytes": peak,
        }


def _pressure(path: str) -> dict:
    out = {}
    try:
        with open(path) as f:
            for line in f:
                kind, *kv = line.split()
                out[kind] = {k: float(v) for k, v in (p.split("=") for p in kv)}
    except OSError:
        return {}
    return out


def _first_line_fields(path: str) -> list[int]:
    try:
        with open(path) as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _vmstat(path: str, keys: tuple[str, ...]) -> dict:
    try:
        with open(path) as f:
            pairs = (line.split() for line in f)
            return {k: int(v) for k, v in pairs if k in keys}
    except OSError:
        return {}


def host_load(proc: str = "/proc") -> dict:
    """loadavg, CPU / memory pressure (PSI), the host's cumulative CPU
    steal ticks and page-reclaim scans, for spotting runs spoiled by
    co-tenants; recorded with every run, never used to drop one."""
    try:
        with open(f"{proc}/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except OSError:
        load = []
    cpu = _first_line_fields(f"{proc}/stat")
    return {
        "t": time.time(),
        "loadavg": load,
        "pressure_cpu": _pressure(f"{proc}/pressure/cpu"),
        "pressure_memory": _pressure(f"{proc}/pressure/memory"),
        # /proc/stat's cpu line: user nice system idle iowait irq softirq steal
        "cpu_steal_ticks": cpu[7] if len(cpu) > 7 else None,
        "vmstat": _vmstat(f"{proc}/vmstat", ("pgscan_kswapd", "pgscan_direct")),
    }
