import json
import statistics

import pytest

import metrics as M


def _job(docs, wall, cpu, rss, out_b=50, in_b=100):
    return {"docs": docs, "wall_s": wall, "cpu_s": cpu, "peak_rss_bytes": rss,
            "out_bytes": out_b, "in_bytes": in_b}


def test_end_to_end_medians():
    jobs = [_job(1000, 2.0, 4.0, 3 * M.MB), _job(1000, 1.0, 2.0, 5 * M.MB),
            _job(1000, 4.0, 8.0, 1 * M.MB)]
    m = M.end_to_end(jobs, setup_s=7.5, checked=40, matched=39, tasks=100,
                     failed_tasks=2)
    assert m["setup_s"] == (7.5, "s")
    assert m["docs_per_s"] == (500.0, "1/s")  # median of 500, 1000, 250
    assert m["cpu_s_per_kdoc"] == (4.0, "s")
    assert m["peak_rss_mb"] == (3.0, "MB")  # median of the job peaks
    assert m["out_bytes_per_in_byte"] == (0.5, "ratio")
    assert m["ok_frac"] == (39 / 40, "ratio")
    assert m["task_ok_frac"] == (0.98, "ratio")


def test_spread_is_iqr_over_median():
    v = [10, 11, 9, 10.5, 12, 8, 10, 10.2, 9.8, 11.1]
    q1, med, q3 = statistics.quantiles(v, n=4)
    assert M.spread(v) == pytest.approx((q3 - q1) / med)
    assert M.spread([5.0] * 10) == 0


def test_result_line_shape():
    line = M.result_line(True, 3, 0, {"docs_per_s": (12.5, "1/s")})
    d = json.loads(line)
    assert list(d) == ["correct", "attempted", "failed", "metrics"]
    assert d["metrics"] == {"docs_per_s": {"value": 12.5, "unit": "1/s"}}
