"""Shared span/metrics types for the extraction kernels.

Kernels are PURE Python — no Spark imports — so that the exact same code
runs (a) inside vectorized Arrow batches on executors and (b) in the
single-process pytest oracle. Golden span-sequence equality
``(kind, text, media_ref, order)`` between the two is the correctness
contract (BASELINE.json north_rule).

A span is a plain tuple ``(kind: str, text: str, media_ref: str,
offset: int)`` — cheap to build inside Arrow batches and hashable for
test comparison.
"""

from __future__ import annotations

# Output span kinds (FIXTURES.md golden output contract).
KIND_TEXT = "text"
KIND_HEADING = "heading"
KIND_SECTION = "section"
KIND_CELL = "cell"
KIND_MEDIA = "media"

Span = tuple  # (kind, text, media_ref, offset)


def new_metrics(spans_in: int = 0) -> dict:
    return {
        "spans_in": spans_in,
        "spans_out": 0,
        "dropped": 0,
        "drop_reasons": {},
    }


def drop(metrics: dict, reason: str, n: int = 1) -> None:
    metrics["dropped"] += n
    metrics["drop_reasons"][reason] = metrics["drop_reasons"].get(reason, 0) + n


def finalize(out_spans: list, metrics: dict) -> tuple[list, dict]:
    """Re-sequence output offsets 0..n-1 (array order == reading order)."""
    metrics["spans_out"] = len(out_spans)
    return (
        [(k, t, m, i) for i, (k, t, m, _o) in enumerate(out_spans)],
        metrics,
    )
