"""Spark-vs-oracle golden span-sequence equality (the correctness gate:
BASELINE.json north_rule — per-document equality on
(kind, text, media_ref, order))."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.corpus import doc_ids
from pdf_ocr_spark.extract.pipeline import extract, extract_routed_media
from pdf_ocr_spark.oracle import oracle
from pdf_ocr_spark.sources.synthetic import synthetic_corpus

from .conftest import rows_to_tuples


def _assert_golden(result_rows, expected_ids):
    got = {r.doc_id: r for r in result_rows}
    assert set(got) == set(expected_ids)
    for doc_id in expected_ids:
        exp_spans, exp_metrics = oracle(doc_id)
        row = got[doc_id]
        assert rows_to_tuples(row.spans) == exp_spans, f"span mismatch: {doc_id}"
        m = row.metrics
        assert m.spans_in == exp_metrics["spans_in"], doc_id
        assert m.spans_out == exp_metrics["spans_out"], doc_id
        assert m.dropped == exp_metrics["dropped"], doc_id
        assert dict(m.drop_reasons) == exp_metrics["drop_reasons"], doc_id


@pytest.mark.spark
def test_golden_equality_t1(spark):
    """t1 smoke tier: 60 docs across all three corpora + 1 mega doc
    through the skew (page-explode) path."""
    ids = doc_ids(60, skew_docs=1)
    df = synthetic_corpus(spark, 60, skew_docs=1, partitions=8)
    out = extract(df)
    _assert_golden(out.collect(), ids)


@pytest.mark.spark
def test_skew_path_equals_whole_doc_path(spark):
    """The page-explode mega-doc path must produce byte-identical spans to
    the whole-document kernel (ordering never from partition order)."""
    df = synthetic_corpus(spark, 0, skew_docs=2)
    forced_skew = extract(df, big_doc_threshold=10)  # force explode path
    whole = extract(df, big_doc_threshold=10**9)  # force whole-doc path
    a = {r.doc_id: rows_to_tuples(r.spans) for r in forced_skew.collect()}
    b = {r.doc_id: rows_to_tuples(r.spans) for r in whole.collect()}
    assert a == b


@pytest.mark.spark
def test_page_stream_equals_grouped_path(spark):
    """The flat-row streaming page grouping (page_stream=True) must be
    byte-identical to the groupBy(collect_list) shape, including metrics
    (both feed the same fused reassembly)."""
    df = synthetic_corpus(spark, 6, skew_docs=3)
    a = extract(
        df, big_doc_threshold=10, page_stream=True, doc_stream=False
    ).collect()
    b = extract(
        df, big_doc_threshold=10, page_stream=False, doc_stream=False
    ).collect()
    assert {r.doc_id: r for r in a} == {r.doc_id: r for r in b}


@pytest.mark.spark
def test_doc_stream_equals_whole_doc_path(spark):
    """The doc-grain streaming shape (doc_stream=True, the default) —
    one flat shuffle, sorted-run page kernels, in-stream reassembly —
    must be byte-identical to the whole-doc path, including metrics."""
    df = synthetic_corpus(spark, 6, skew_docs=3)
    a = extract(df, big_doc_threshold=10, doc_stream=True).collect()
    b = extract(df, big_doc_threshold=10**9).collect()
    assert {r.doc_id: r for r in a} == {r.doc_id: r for r in b}


@pytest.mark.spark
def test_media_routed_path_equals_kernel(spark):
    """Columnar media routing (filter/array_sort/transform) == full kernel."""
    ids = [d for d in doc_ids(90) if d.startswith("mixed-")]
    df = synthetic_corpus(spark, 90).filter("doc_id like 'mixed-%'")
    routed = extract_routed_media(df)
    _assert_golden(routed.collect(), ids)


@pytest.mark.spark
def test_salted_repartition_preserves_golden(spark):
    ids = doc_ids(30)
    df = synthetic_corpus(spark, 30, partitions=2)
    out = extract(df, salt_partitions=16)
    _assert_golden(out.collect(), ids)


@pytest.mark.spark
def test_output_schema_stable(spark):
    df = synthetic_corpus(spark, 3)
    out = extract(df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans", "metrics"]
    span_type = out.schema["spans"].dataType.elementType
    assert [f.name for f in span_type.fields] == [
        "kind",
        "text",
        "media_ref",
        "offset",
    ]


@pytest.mark.spark
def test_dirty_nullable_table_tolerance(spark, tmp_path):
    """Production tables are nullable (parquet/Iceberg scans don't
    enforce INPUT_SCHEMA's non-null contract): NULL spans arrays, NULL
    span structs' fields, and NULL doc_ids must be dropped/coerced with
    metrics — never crash the job or silently lose the row."""
    from pyspark.sql import functions as F

    clean = synthetic_corpus(spark, 6)
    rows = [
        {"doc_id": "null-spans", "spans": None},
        {"doc_id": "empty-spans", "spans": []},
        {
            "doc_id": "pdfish-990001",
            "spans": [
                {"kind": None, "text": "x", "media_ref": None, "offset": 0},
                {"kind": "text", "text": None, "media_ref": None,
                 "offset": None},
            ],
        },
        {"doc_id": None,
         "spans": [{"kind": "text", "text": "a", "media_ref": "",
                    "offset": 0}]},
    ]
    nullable = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    dirty = spark.createDataFrame(rows, nullable)
    path = str(tmp_path / "dirty")
    clean.select("doc_id", "spans").unionByName(dirty).write.parquet(path)
    out = {r["doc_id"]: r for r in extract(spark.read.parquet(path)).collect()}

    # every input row survives to the output (null doc_id -> '')
    assert len(out) == 6 + 4
    assert out["null-spans"]["metrics"]["spans_in"] == 0
    assert out["empty-spans"]["metrics"]["spans_in"] == 0
    m = out["pdfish-990001"]["metrics"]
    # both spans invalid: one null kind, one null offset
    assert m["spans_in"] == 2 and m["dropped"] == 2
    assert dict(m["drop_reasons"]) == {"invalid_span": 2}
    assert dict(out[""]["metrics"]["drop_reasons"]) == {"unknown_corpus": 1}
    # the clean docs still match their golden oracle exactly
    clean_ids = [r["doc_id"] for r in clean.select("doc_id").collect()]
    _assert_golden(
        [r for r in out.values() if r["doc_id"] in clean_ids], clean_ids
    )


@pytest.mark.spark
def test_dirty_rows_equal_on_both_branches(spark, tmp_path):
    """The dirty rows give the same rows and metrics whether they take
    the small branch (the default threshold) or the mega branch
    (threshold 1): a doc whose spans are all invalid keeps its row, a
    partly invalid one counts its invalid span, and a NULL doc_id with
    more spans than the threshold stays in the small branch."""
    from pyspark.sql import functions as F

    def span(kind, offset, text="x"):
        return {"kind": kind, "text": text, "media_ref": None, "offset": offset}

    rows = [
        {"doc_id": "null-spans", "spans": None},
        {"doc_id": "empty-spans", "spans": []},
        # both spans invalid: one NULL kind, one NULL offset
        {"doc_id": "pdfish-990001",
         "spans": [span(None, 0), span("text", None, None)]},
        # one invalid span of four, on two pages, one NULL text
        {"doc_id": "pdfish-990002",
         "spans": [span("text", 1_002_003, "kept"), span(None, 5),
                   span("text", 4_005, "also kept"), span("text", 6, None)]},
        {"doc_id": None, "spans": [span("text", 0, "a"), span("text", 1, "b")]},
    ]
    nullable = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    path = str(tmp_path / "dirty")
    (
        spark.createDataFrame(rows, nullable)
        .withColumn("n_spans", F.when(F.col("spans").isNotNull(), F.size("spans")))
        .write.parquet(path)
    )
    inp = spark.read.parquet(path)

    def run(threshold):
        return sorted(
            extract(inp, big_doc_threshold=threshold).collect(),
            key=lambda r: r.doc_id,
        )

    small, big = run(4000), run(1)
    assert len(small) == len(rows)
    assert big == small
    m = {r.doc_id: r.metrics for r in small}
    assert (m["pdfish-990001"].spans_in, m["pdfish-990001"].dropped) == (2, 2)
    assert dict(m["pdfish-990001"].drop_reasons) == {"invalid_span": 2}
    assert m["pdfish-990002"].spans_in == 4
    assert dict(m["pdfish-990002"].drop_reasons)["invalid_span"] == 1
