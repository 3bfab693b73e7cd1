"""Spark-vs-oracle golden span-sequence equality (the correctness gate:
BASELINE.json north_rule — per-document equality on
(kind, text, media_ref, order))."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.corpus import doc_ids
from pdf_ocr_spark.extract.pipeline import extract
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
def test_doc_stream_equals_whole_doc_path(spark):
    """The mega branch — one flat shuffle, sorted doc runs, the kernel
    per run — must be byte-identical to the whole-doc path, including
    metrics."""
    df = synthetic_corpus(spark, 6, skew_docs=3)
    a = extract(df, big_doc_threshold=10).collect()
    b = extract(df, big_doc_threshold=10**9).collect()
    assert {r.doc_id: r for r in a} == {r.doc_id: r for r in b}


@pytest.mark.spark
def test_styled_docs_equal_oracle(spark):
    """styled- docs dispatch through the same kernel table in the
    pipeline and in the oracle."""
    from pdf_ocr_spark.corpus import generate_doc
    from pdf_ocr_spark.extract.schema import INPUT_SCHEMA, span_dicts

    ids = [f"styled-{i:06d}" for i in range(4)]
    df = spark.createDataFrame(
        [(d, span_dicts(generate_doc(d))) for d in ids], INPUT_SCHEMA
    )
    _assert_golden(extract(df).collect(), ids)


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


@pytest.mark.spark
def test_dirty_docs_straddling_arrow_batches(spark, tmp_path):
    """Multi-page pdfish docs with NULL kind, offset, text and media_ref
    spans, cut into Arrow batches of 7 records: documents and single
    pages straddle batch boundaries in the mega branch's sorted stream,
    and both branches still give identical rows and metrics."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.corpus import generate_doc

    rows, n_invalid = [], {}
    for i in range(0, 60, 6):
        doc_id = f"pdfish-{i:06d}"
        spans = []
        for j, (k, t, r, o) in enumerate(generate_doc(doc_id)):
            spans.append({
                "kind": None if j % 11 == 3 else k,
                "text": None if j % 7 == 2 else t,
                "media_ref": None if j % 5 == 1 else r,
                "offset": None if j % 13 == 5 else o,
            })
        rows.append({"doc_id": doc_id, "spans": spans})
        n_invalid[doc_id] = sum(
            s["kind"] is None or s["offset"] is None for s in spans
        )
    nullable = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    path = str(tmp_path / "dirty_pages")
    (
        spark.createDataFrame(rows, nullable)
        .withColumn("n_spans", F.size("spans"))
        .write.parquet(path)
    )
    inp = spark.read.parquet(path)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = sorted(extract(inp).collect(), key=lambda r: r.doc_id)
        big = sorted(
            extract(inp, big_doc_threshold=1).collect(), key=lambda r: r.doc_id
        )
    finally:
        spark.conf.set(key, old)
    assert len(small) == len(rows)
    assert big == small
    for r in small:
        assert dict(r.metrics.drop_reasons)["invalid_span"] == n_invalid[r.doc_id]
        assert r.metrics.spans_in == len(generate_doc(r.doc_id))
