"""Metric arithmetic shared by the run and its tests: per-job figures,
their medians, and the one-line result the benchmark prints."""

from __future__ import annotations

import json
import statistics

MB = 1 << 20


def docs_per_s(docs: int, wall_s: float) -> float:
    return docs / wall_s


def cpu_s_per_kdoc(cpu_s: float, docs: int) -> float:
    return cpu_s / (docs / 1000.0)


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def spread(values: list[float]) -> float:
    """Interquartile range over the median (``statistics.quantiles`` with
    n=4, its default 'exclusive' method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def end_to_end(jobs: list[dict], setup_s: float, checked: int, matched: int,
               tasks: int, failed_tasks: int) -> dict:
    """Per-job samples -> the end-to-end metrics, medians over jobs (of
    each job's peak, for the memory).

    Each job dict holds ``docs``, ``wall_s``, ``cpu_s``,
    ``peak_rss_bytes``, ``out_bytes`` and ``in_bytes``."""
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (med(docs_per_s(j["docs"], j["wall_s"]) for j in jobs), "1/s"),
        "cpu_s_per_kdoc": (med(cpu_s_per_kdoc(j["cpu_s"], j["docs"]) for j in jobs), "s"),
        "peak_rss_mb": (med(j["peak_rss_bytes"] for j in jobs) / MB, "MB"),
        "out_bytes_per_in_byte": (
            med(ratio(j["out_bytes"], j["in_bytes"]) for j in jobs), "ratio"),
        "ok_frac": (ratio(matched, checked), "ratio"),
        "task_ok_frac": (ratio(tasks - failed_tasks, tasks), "ratio"),
    }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(v), "unit": unit}
            for name, (v, unit) in metrics.items()
        },
    })
