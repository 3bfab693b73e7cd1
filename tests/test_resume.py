"""Checkpoint/resume: a killed run resumes without reprocessing and the
final output is identical to an uninterrupted run (north_rule)."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.extract.checkpoint import (
    _bucketed,
    chunk_input,
    chunk_partitions,
    read_ledger,
    read_output,
    run_resumable,
)
from pdf_ocr_spark.extract.pipeline import extract
from pdf_ocr_spark.sources.synthetic import synthetic_corpus, write_corpus_table

from .conftest import rows_to_tuples


def _spans_by_doc(df):
    return {r.doc_id: rows_to_tuples(r.spans) for r in df.collect()}


@pytest.mark.spark
def test_kill_and_resume(spark, tmp_path):
    inp = synthetic_corpus(spark, 48, partitions=4)

    # uninterrupted reference run
    full_dir = str(tmp_path / "full")
    run_resumable(spark, inp, full_dir, n_buckets=8, chunk_buckets=8)
    expected = _spans_by_doc(read_output(spark, full_dir))

    # killed run: dies after 1 of 4 chunks
    out_dir = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable(
            spark, inp, out_dir, n_buckets=8, chunk_buckets=2, fail_after_chunks=1
        )
    done_before = {b for r in read_ledger(spark, out_dir) for b in r.buckets}
    assert 0 < len(done_before) < 8
    with pytest.raises(ValueError, match="no complete snapshot"):
        read_output(spark, out_dir)

    # resume: must process ONLY the remaining buckets
    stats = run_resumable(spark, inp, out_dir, n_buckets=8, chunk_buckets=2)
    assert stats["buckets_skipped"] == len(done_before)
    assert stats["chunks_processed"] == (8 - len(done_before) + 1) // 2

    # ledger has no duplicate buckets and the output matches the one-shot run
    ledger = spark.read.parquet(f"{out_dir}/_progress")
    buckets = [b for r in ledger.select("buckets").collect() for b in r.buckets]
    assert len(buckets) == len(set(buckets)) == 8
    assert _spans_by_doc(read_output(spark, out_dir)) == expected


@pytest.mark.spark
def test_rerun_after_completion_is_noop(spark, tmp_path):
    inp = synthetic_corpus(spark, 12, partitions=2)
    out_dir = str(tmp_path / "once")
    run_resumable(spark, inp, out_dir, n_buckets=4, chunk_buckets=4)
    stats = run_resumable(spark, inp, out_dir, n_buckets=4, chunk_buckets=4)
    assert stats["chunks_processed"] == 0
    assert stats["buckets_skipped"] == 4
    # a rerun with another bucket count cannot reuse the ledger's buckets
    with pytest.raises(ValueError, match="n_buckets other than"):
        run_resumable(spark, inp, out_dir, n_buckets=8, chunk_buckets=4)


@pytest.mark.spark
def test_ledger_probe_missing_partial_and_corrupt(spark, tmp_path):
    """No ledger is a fresh run, a killed first append (``_temporary``
    only) holds no buckets, and an unreadable ledger raises instead of
    passing for "nothing done yet"."""
    out_dir = str(tmp_path / "out")
    assert read_ledger(spark, out_dir) == []

    (tmp_path / "out" / "_progress" / "_temporary" / "0").mkdir(parents=True)
    assert read_ledger(spark, out_dir) == []

    (tmp_path / "out" / "_progress" / "part-0.parquet").write_bytes(b"junk")
    with pytest.raises(Exception, match="part-0.parquet"):
        read_ledger(spark, out_dir)


@pytest.mark.spark
def test_ledger_rows_equal_their_committed_rows(spark, tmp_path):
    """Each ledger row's observed totals equal the committed ``data/``
    rows of its buckets, over an input with a mega doc (doc-stream
    branch) and a dirty doc; the rows' buckets cover every bucket once,
    and the summary's totals are the ledger's."""
    from pyspark.sql import functions as F

    nullable = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    dirty = spark.createDataFrame(
        [("pdfish-990002", [("text", "a", None, 0), (None, "b", None, 1),
                            ("text", "c", None, 1_000_000)])],
        nullable,
    )
    path = str(tmp_path / "in")
    (
        synthetic_corpus(spark, 40, skew_docs=1)
        .unionByName(dirty)
        .withColumn("n_spans", F.size("spans"))
        .write.parquet(path)
    )
    out_dir = str(tmp_path / "out")
    summary = run_resumable(
        spark, spark.read.parquet(path), out_dir, n_buckets=8, chunk_buckets=2
    )

    data = spark.read.parquet(f"{out_dir}/data")
    per_bucket = {
        r.bucket: r
        for r in data.groupBy("bucket").agg(
            F.count("*").alias("docs"),
            F.sum("metrics.spans_in").alias("spans_in"),
            F.sum("metrics.spans_out").alias("spans_out"),
            F.sum("metrics.dropped").alias("dropped"),
        ).collect()
    }
    ledger = spark.read.parquet(f"{out_dir}/_progress").collect()
    assert len(ledger) == 4
    totals = ("docs", "spans_in", "spans_out", "dropped")
    for row in ledger:
        for k in totals:
            want = sum(per_bucket[b][k] for b in row.buckets if b in per_bucket)
            assert row[k] == want, (row.chunk, k)
    assert sorted(b for r in ledger for b in r.buckets) == list(range(8))
    assert summary["docs"] == 42
    for k in totals:
        assert summary[k] == sum(r[k] for r in ledger), k


def test_chunk_partitions_rule():
    """A chunk gets its share of the input's partitions, floored at the
    default parallelism and capped at the input's partition count."""
    assert chunk_partitions(8, 8, 16, 2) == 4
    for n_in in (1, 2, 5, 8, 64):
        for chunk in (1, 3, 8, 16):
            for par in (1, 2, 4, 16):
                n = chunk_partitions(n_in, chunk, 16, par)
                assert min(n_in, par) <= n <= n_in


@pytest.mark.spark
def test_mega_branch_predicate_reaches_the_scan(spark, tmp_path):
    """Over an ingest table with ``n_spans``, the chunk's mega branch
    pushes ``n_spans > 4000`` into the parquet scan (read from the
    executed plan; no Spark job runs it)."""
    path = str(tmp_path / "in")
    write_corpus_table(spark, path, n_docs=12)
    work = _bucketed(spark.read.parquet(path), 16)
    plan = (
        extract(chunk_input(work, list(range(8)), 16, n_in=8))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThan(n_spans,4000)" in plan
