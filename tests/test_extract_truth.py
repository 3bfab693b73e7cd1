"""Spark extraction against truth that no kernel computes: documents
built together with their exact expected output (corpus.py
``*_truth_doc``), twin documents that must extract to the same sequence
(corpus.py ``*_pair``), and the ``__spark_entry__`` flagship over the
testdata documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_ocr_spark import corpus
from pdf_ocr_spark.extract.pipeline import extract
from pdf_ocr_spark.extract.schema import INPUT_SCHEMA, span_dicts

_N_TRUTH = 16  # docs per truth family
_N_PAIRS = 24  # pairs per twin family

# (tag, routing corpus, generator): the doc_id prefix routes each side to
# its kernel (corpus.corpus_of)
_PAIR_FAMILIES = (
    ("t", "pdfish", corpus.transposed_pair),
    ("m", "pdfish", corpus.multirow_pair),
    ("w", "pdfish", corpus.merged_pair),
    ("s", "pdfish", corpus.stacked_pair),
    ("r", "pdfish", corpus.reheader_pair),
    ("g", "grid", corpus.grid_header_pair),
    ("n", "grid", corpus.grid_format_pair),
    ("f", "flow", corpus.flow_header_pair),
)


def _seqs(spark, docs: dict[str, list[tuple]]):
    """One extract() over ``docs``; doc_id -> (row, (kind, text,
    media_ref) sequence)."""
    inp = spark.createDataFrame(
        [{"doc_id": d, "spans": span_dicts(s)} for d, s in docs.items()],
        INPUT_SCHEMA,
    )
    return {
        r.doc_id: (r, [(s.kind, s.text, s.media_ref) for s in r.spans])
        for r in extract(inp).collect()
    }


@pytest.mark.spark
def test_truth_docs_extract_to_their_construction(spark):
    """Boilerplate stripping (html), box clustering and table gating
    (boxes), coercion, enum validation, normalization and empty drops
    (mixed), and output order, against each generator's expectation."""
    want = {}
    docs = {}
    for fam, gen in (
        ("mixed", corpus.mixed_truth_doc),
        ("html", corpus.html_truth_doc),
        ("boxes", corpus.boxes_truth_doc),
    ):
        for i in range(_N_TRUTH):
            spans, exp, dropped = gen(i)
            doc_id = f"{fam}-tr{i:06d}"
            docs[doc_id] = spans
            want[doc_id] = (exp, len(spans), dropped)

    got = _seqs(spark, docs)
    assert set(got) == set(want)
    for doc_id, (exp, spans_in, dropped) in want.items():
        row, seq = got[doc_id]
        assert seq == exp, doc_id
        assert [s.offset for s in row.spans] == list(range(len(exp))), doc_id
        assert row.metrics.spans_in == spans_in, doc_id
        assert row.metrics.dropped == dropped, doc_id


@pytest.mark.spark
def test_twin_pairs_extract_to_equal_sequences(spark):
    """Transposed, multi-row, width-merged, stacked-header, re-header,
    grid-header, grid-format and flow-header documents each extract to
    the same sequence as their flat twin."""
    docs = {}
    for tag, corp, pair_fn in _PAIR_FAMILIES:
        for i in range(_N_PAIRS):
            a, b = pair_fn(i)
            docs[f"{corp}-{tag}a{i:04d}"] = a
            docs[f"{corp}-{tag}b{i:04d}"] = b

    got = _seqs(spark, docs)
    assert set(got) == set(docs)
    for tag, corp, _ in _PAIR_FAMILIES:
        for i in range(_N_PAIRS):
            a = got[f"{corp}-{tag}a{i:04d}"][1]
            b = got[f"{corp}-{tag}b{i:04d}"][1]
            assert a and a == b, (tag, i)


@pytest.mark.spark
def test_spark_entry_flagship(spark):
    """entry() emits one row per output span of every document, and on
    these plain-word documents the mixed kernel keeps every span."""
    import __spark_entry__

    out = __spark_entry__.entry(spark)
    per_doc = (
        out.groupBy("doc_id")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("offset").alias("offsets"),
            F.max("offset").alias("max_offset"),
            F.min("spans_in").alias("spans_in"),
            F.max("spans_out").alias("spans_out"),
            F.max("dropped").alias("dropped"),
        )
        .collect()
    )
    n_docs = spark.read.parquet(*out.inputFiles()).count()
    assert len(per_doc) == n_docs > 0
    for r in per_doc:
        assert r.rows == r.offsets == r.max_offset + 1 == r.spans_out, r
        assert r.spans_in == r.spans_out, r
        assert r.dropped == 0, r
