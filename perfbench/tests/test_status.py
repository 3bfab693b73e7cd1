import pytest

from status import Window, covered_s, diff, max_over_median


def test_diff_subtracts_cumulative_counters():
    assert diff({"tasks": 10, "gc_ms": 5}, {"tasks": 25, "gc_ms": 5}) == {
        "tasks": 15, "gc_ms": 0}


def test_covered_s_merges_overlaps_and_clips():
    assert covered_s([], 0, 10) == 0
    assert covered_s([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_s([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_s([(4, 6), (1, 2), (5, 5.5)], 0, 10) == 3


def test_max_over_median():
    assert max_over_median([1, 1, 1, 4]) == 4
    assert max_over_median([]) == 0


class FakeReader:
    def __init__(self):
        self.c = {"tasks": 4, "failed_tasks": 0, "gc_ms": 0}
        self.j = [{"job_id": 0, "start": 0.0, "end": 1.0}]
        self.s = [{"stage_id": 0, "attempt": 0, "tasks": 4, "cpu_ns": 10**9,
                   "spill_bytes": 0, "input_records": 5, "output_bytes": 0}]

    def counters(self):
        return dict(self.c)

    def jobs(self):
        return list(self.j)

    def stages(self):
        return list(self.s)

    def task_durations_ms(self, stage_id, attempt):
        return {1: [10, 10, 30], 2: [5]}[stage_id]


def test_window_counts_only_new_jobs_and_stages():
    r = FakeReader()
    w = Window(r)
    # the call: two jobs from 10 s to 12 s and 13 s to 14 s of a 10..15 s call
    r.c = {"tasks": 10, "failed_tasks": 1, "gc_ms": 7}
    r.j += [{"job_id": 1, "start": 10.0, "end": 12.0},
            {"job_id": 2, "start": 13.0, "end": 14.0}]
    r.s += [{"stage_id": 1, "attempt": 0, "tasks": 3, "cpu_ns": 2 * 10**9,
             "spill_bytes": 8, "input_records": 100, "output_bytes": 64},
            {"stage_id": 2, "attempt": 0, "tasks": 1, "cpu_ns": 10**9,
             "spill_bytes": 0, "input_records": 0, "output_bytes": 0}]
    out = w.close(10.0, 15.0)
    assert out["tasks"] == 6 and out["failed_tasks"] == 1 and out["gc_ms"] == 7
    assert out["jobs"] == 2
    assert out["driver_gap_s"] == pytest.approx(2.0)
    assert out["task_cpu_s"] == pytest.approx(3.0)
    assert out["spill_bytes"] == 8
    assert out["input_records"] == 100
    assert out["output_bytes"] == 64
    assert out["task_max_over_median"] == 3  # stage 1 has the most tasks
