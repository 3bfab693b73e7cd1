"""Single-process pure-Python oracle for golden span equality.

The oracle calls the SAME kernel functions, through the same dispatch
table (``kernels.KERNELS``), as the Spark Arrow batches (SURVEY.md §7.0
kernel/shell split), so pytest can assert per-document span-sequence
equality ``(kind, text, media_ref, order)`` between the Spark pipeline
output and this reference evaluation without Spark.
"""

from __future__ import annotations

from .corpus import corpus_of, generate_doc
from .kernels import KERNELS


def extract_document(doc_id: str, spans: list[tuple]) -> tuple[list, dict]:
    """Dispatch one document to its corpus kernel → (out_spans, metrics)."""
    kernel = KERNELS[corpus_of(doc_id)]
    return kernel(spans)


def oracle(doc_id: str, seed: int = 42) -> tuple[list, dict]:
    """Golden result for a synthetic document: generate + extract."""
    return extract_document(doc_id, generate_doc(doc_id, seed))
