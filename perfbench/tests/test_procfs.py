import os
import time

import procfs


def _stat(pid, comm, ppid, ut, st, cut, cst, rss, vsize=None):
    # fields after the command name: state, ppid, then 9 fields up to
    # utime (field 14), stime, cutime, cstime, 5 more, vsize (field 23),
    # rss (field 24)
    vsize = 1000 + pid if vsize is None else vsize
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, ut, st, cut, cst,
            0, 0, 0, 0, 0, vsize, rss, 0]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(tmp_path, procs):
    for pid, comm, ppid, cpu, rss, *vsize in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, cpu, 0, 0, 0, rss, *vsize))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_parse_stat_with_spaces_and_parens_in_name():
    s = procfs.parse_stat(7, _stat(7, "java (main) x", 3, 10, 20, 30, 40, 99, 5))
    assert (s.pid, s.ppid, s.cpu_ticks, s.vsize, s.rss_pages) == (7, 3, 100, 5, 99)


def test_tree_covers_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, [
        (10, "python", 1, 100, 10),
        (11, "java", 10, 200, 20),
        (12, "python3 -m pyspark.daemon", 11, 300, 30),
        (13, "worker", 12, 400, 40),
        (20, "other", 1, 999, 999),
    ])
    stats = procfs.read_all(proc)
    assert sorted(s.pid for s in procfs.tree(stats, 10)) == [10, 11, 12, 13]
    u = procfs.tree_usage(10, proc)
    assert u.n_procs == 4
    assert u.cpu_s == 1000 / procfs.CLOCK_TICKS
    assert u.rss_bytes == 100 * procfs.PAGE_BYTES
    assert sorted(procfs.descendants(11, proc)) == [12, 13]


def test_host_load_reads_loadavg_and_pressure(tmp_path):
    (tmp_path / "loadavg").write_text("1.50 2.00 3.25 2/100 42\n")
    (tmp_path / "pressure").mkdir()
    (tmp_path / "pressure" / "cpu").write_text(
        "some avg10=2.77 avg60=2.58 avg300=7.30 total=398459575\n"
        "full avg10=0.00 avg60=0.00 avg300=0.00 total=0\n")
    (tmp_path / "stat").write_text("cpu  10 0 5 100 1 0 2 7 0 0\ncpu0 1 0 0 0\n")
    (tmp_path / "vmstat").write_text("nr_free_pages 5\npgscan_kswapd 42\npgscan_direct 3\n")
    h = procfs.host_load(str(tmp_path))
    assert h["loadavg"] == [1.5, 2.0, 3.25]
    assert h["cpu_steal_ticks"] == 7
    assert h["vmstat"] == {"pgscan_kswapd": 42, "pgscan_direct": 3}
    assert h["pressure_cpu"]["some"]["avg10"] == 2.77
    assert h["pressure_memory"] == {}  # missing file: recorded as empty


def test_sampler_region_sees_own_cpu_and_memory():
    with procfs.TreeSampler(os.getpid(), interval_s=0.01) as sampler:
        region = sampler.region()
        t_end = time.process_time() + 0.3
        while time.process_time() < t_end:
            pass
        r = region.end()
    assert r["cpu_s"] >= 0.2
    assert r["peak_rss_bytes"] > 0
    assert r["wall_s"] >= 0.2


def test_vforked_child_memory_is_not_counted_twice(tmp_path):
    proc = _fake_proc(tmp_path, [
        (10, "java", 1, 100, 500, 7000),
        (11, "java", 10, 1, 500, 7000),  # between vfork and exec
        (12, "python3", 10, 1, 30),
    ])
    u = procfs.tree_usage(10, proc)
    assert u.n_procs == 3
    assert u.rss_bytes == 530 * procfs.PAGE_BYTES


def test_rss_exclude_drops_only_that_member(tmp_path):
    proc = _fake_proc(tmp_path, [
        (10, "python", 1, 100, 10),
        (11, "java", 10, 200, 500),
        (12, "python3 -m pyspark.daemon", 11, 300, 30),
    ])
    u = procfs.tree_usage(10, proc, rss_exclude=(11,))
    assert u.cpu_s == 600 / procfs.CLOCK_TICKS  # CPU still covers the JVM
    assert u.rss_bytes == 40 * procfs.PAGE_BYTES
