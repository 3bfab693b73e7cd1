"""Reader for the Spark driver's ``AppStatusStore`` over py4j.

The store is what the (disabled) web UI would show: cumulative executor
counters, and per-job and per-stage records.  ``counters()`` returns a
flat dict of cumulative numbers; ``diff`` turns two of them into the
work done between the two reads.  Job intervals give a call's
``driver_gap_s``: the part of its wall time during which no Spark job
was running (driver-side planning, Python on the driver, file commits).
"""

from __future__ import annotations

import statistics


def diff(before: dict, after: dict) -> dict:
    """Per-key ``after - before`` for cumulative counters."""
    return {k: after[k] - before.get(k, 0) for k in after}


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def max_over_median(values: list[float]) -> float:
    """Straggler ratio: slowest task over the median task."""
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seq = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._gateway = sc._gateway
        self._jvm = sc._jvm

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store reflects all jobs that have returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def counters(self) -> dict:
        self.settle()
        out = dict.fromkeys(
            ("tasks", "failed_tasks", "task_ms", "shuffle_write_bytes"),
            0,
        )
        for e in self._seq(self._store.executorList(True)):
            out["tasks"] += e.totalTasks()
            out["failed_tasks"] += e.failedTasks()
            out["task_ms"] += e.totalDuration()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
        # the executor summary leaves GC time at 0 in local mode; the
        # driver JVM is the executor there, so read its collectors
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        out["gc_ms"] = sum(max(0, b.getCollectionTime()) for b in beans)
        return out

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def _memory_pools(self):
        return self._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()

    def reset_memory_peaks(self) -> None:
        """Collect the heap, so that a job's peak does not depend on how
        much garbage earlier jobs left in the old generation, then reset
        every pool's peak."""
        self._jvm.java.lang.System.gc()
        for p in self._memory_pools():
            p.resetPeakUsage()

    def memory_peaks(self) -> dict[str, int]:
        """Each JVM memory pool's (heap generations, metaspace, code cache)
        peak used bytes since the last ``reset_memory_peaks``."""
        return {p.getName(): p.getPeakUsage().getUsed() for p in self._memory_pools()}

    @staticmethod
    def _ms(opt_date) -> float | None:
        return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None

    def jobs(self) -> list[dict]:
        self.settle()
        out = []
        for j in self._seq(self._store.jobsList(None)):
            out.append({
                "job_id": j.jobId(),
                "start": self._ms(j.submissionTime()),
                "end": self._ms(j.completionTime()),
            })
        return out

    def stages(self) -> list[dict]:
        self.settle()
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        out = []
        for s in self._seq(self._store.stageList(None, False, False, quantiles, None)):
            out.append({
                "stage_id": s.stageId(),
                "attempt": s.attemptId(),
                "tasks": s.numTasks(),
                "cpu_ns": s.executorCpuTime(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                # rows, not bytes: the local file system under-reports
                # bytes read by the Parquet reader
                "input_records": s.inputRecords(),
                "output_bytes": s.outputBytes(),
            })
        return out

    def task_durations_ms(self, stage_id: int, attempt: int) -> list[int]:
        out = []
        for t in self._seq(self._store.taskList(stage_id, attempt, 1 << 20)):
            d = t.duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out


class Window:
    """Everything the status store recorded while one call ran."""

    def __init__(self, reader: StatusReader):
        self.reader = reader
        self._jobs0 = {j["job_id"] for j in reader.jobs()}
        self._stages0 = {(s["stage_id"], s["attempt"]) for s in reader.stages()}
        self._c0 = reader.counters()

    def close(self, t0: float, t1: float) -> dict:
        """``t0``/``t1``: the call's wall-clock bounds (``time.time()``)."""
        r = self.reader
        c = diff(self._c0, r.counters())
        jobs = [j for j in r.jobs() if j["job_id"] not in self._jobs0]
        stages = [
            s for s in r.stages()
            if (s["stage_id"], s["attempt"]) not in self._stages0
        ]
        busy = covered_s(
            [(j["start"], j["end"] if j["end"] is not None else t1)
             for j in jobs if j["start"] is not None],
            t0, t1,
        )
        # straggler ratio of the stage that ran the most tasks (the scan
        # and kernel stage; ties go to the later stage)
        big = max(stages, key=lambda s: (s["tasks"], s["stage_id"]), default=None)
        durations = r.task_durations_ms(big["stage_id"], big["attempt"]) if big else []
        return {
            **c,
            "jobs": len(jobs),
            "driver_gap_s": max(0.0, (t1 - t0) - busy),
            "task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "input_records": sum(s["input_records"] for s in stages),
            "output_bytes": sum(s["output_bytes"] for s in stages),
            "task_max_over_median": max_over_median(durations),
        }
