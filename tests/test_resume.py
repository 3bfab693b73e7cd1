"""Checkpoint/resume: a killed run resumes without reprocessing and the
final output is identical to an uninterrupted run (north_rule)."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.extract.checkpoint import (
    completed_buckets,
    read_output,
    run_resumable,
)
from pdf_ocr_spark.sources.synthetic import synthetic_corpus

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
    done_before = completed_buckets(spark, out_dir)
    assert 0 < len(done_before) < 8

    # resume: must process ONLY the remaining buckets
    stats = run_resumable(spark, inp, out_dir, n_buckets=8, chunk_buckets=2)
    assert stats["buckets_skipped"] == len(done_before)
    assert stats["chunks_processed"] == (8 - len(done_before) + 1) // 2

    # ledger has no duplicate buckets and the output matches the one-shot run
    ledger = spark.read.parquet(f"{out_dir}/_progress")
    buckets = [r.bucket for r in ledger.select("bucket").collect()]
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


@pytest.mark.spark
def test_ledger_probe_missing_partial_and_corrupt(spark, tmp_path):
    """No ledger is a fresh run, a killed first append (``_temporary``
    only) holds no buckets, and an unreadable ledger raises instead of
    passing for "nothing done yet"."""
    out_dir = str(tmp_path / "out")
    assert completed_buckets(spark, out_dir) == set()

    (tmp_path / "out" / "_progress" / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, out_dir) == set()

    (tmp_path / "out" / "_progress" / "part-0.parquet").write_bytes(b"junk")
    with pytest.raises(Exception, match="part-0.parquet"):
        completed_buckets(spark, out_dir)
