"""Resumable extraction runner: bucketed chunks + a per-chunk ledger.

north_rule: "checkpoints per-partition progress with lineage + extraction
metrics (spans/doc, drop reasons) so a killed run resumes without
reprocessing". The reference has no resume at all (SURVEY.md §2.10); this
is new job design, not a port.

Mechanism:
  - work is hash-bucketed by ``pmod(xxhash64(doc_id), n_buckets)``;
  - buckets are processed in chunks; each chunk's output is written to
    ``<out>/data/`` partitioned by ``bucket`` with DYNAMIC partition
    overwrite (idempotent — a replayed bucket replaces, never duplicates);
  - a chunk runs in as many tasks as its share of the input would get in
    one unchunked pass (``chunk_partitions``), so chunking adds no Python
    tasks, each of which has a fixed start-up cost;
  - the write observes its own rows (``DataFrame.observe``: docs and the
    sums of spans in/out and dropped), and after the data commit one
    ledger row per chunk is appended to ``<out>/_progress/``: the chunk's
    buckets, run_id, commit time and those observed totals. Nothing
    re-reads the output;
  - resume = read ledger → anti-set of completed buckets → process only
    the remainder. A bucket is completed iff a ledger row lists it, and
    ledger rows are written only after the data commit, so a kill between
    data-write and ledger-append merely re-extracts one chunk
    idempotently.
"""

from __future__ import annotations

import math
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .pipeline import BIG_DOC_THRESHOLD, extract

LEDGER_SCHEMA = (
    "chunk int, buckets array<int>, run_id string, committed_at double, "
    "docs long, spans_in long, spans_out long, dropped long"
)
TOTALS = ("docs", "spans_in", "spans_out", "dropped")


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem of the session's
    configuration — the same path resolution the parquet reader uses."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete through the same Hadoop FileSystem as
    ``path_exists``; a missing path is not an error."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets listed by a ledger row. No ledger means a fresh run; a
    ledger that exists but cannot be read raises. The schema is given, so
    a ledger holding only a killed first append's ``_temporary`` reads as
    empty instead of failing schema inference."""
    path = f"{out_dir}/_progress"
    if not path_exists(spark, path):
        return set()
    ledger = spark.read.schema(LEDGER_SCHEMA).parquet(path)
    return {b for r in ledger.select("buckets").collect() for b in r.buckets}


def chunk_partitions(
    n_in: int, chunk_size: int, n_buckets: int, parallelism: int
) -> int:
    """Tasks for one chunk: its share of the input's ``n_in`` partitions,
    so a chunk's task carries as many docs as an unchunked task; never
    fewer than ``parallelism`` (every core stays busy) and never more
    than ``n_in``."""
    share = math.ceil(n_in * chunk_size / n_buckets)
    return min(n_in, max(share, parallelism))


def chunk_input(
    work: DataFrame, chunk: list[int], n_buckets: int, n_in: int
) -> DataFrame:
    """The bucketed input's rows in ``chunk``, coalesced to
    ``chunk_partitions`` tasks. The scan stays as it is: no cache and no
    shuffle, and the mega branch's size predicate still reaches it."""
    n = chunk_partitions(
        n_in, len(chunk), n_buckets, work.sparkSession.sparkContext.defaultParallelism
    )
    return work.filter(F.col("bucket").isin(chunk)).coalesce(n)


def run_resumable(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    chunk_buckets: int = 8,
    big_doc_threshold: int = BIG_DOC_THRESHOLD,
    fail_after_chunks: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns summary stats,
    including the observed ``docs``, ``spans_in``, ``spans_out`` and
    ``dropped`` totals of the chunks this call processed.

    ``fail_after_chunks`` is a test hook simulating a killed run."""
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, out_dir)
    work = _bucketed(input_df, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    chunks = [
        pending[i : i + chunk_buckets] for i in range(0, len(pending), chunk_buckets)
    ]
    # planning only for a file scan; an input with a shuffle runs it here
    n_in = work.rdd.getNumPartitions() if chunks else 0
    totals = dict.fromkeys(TOTALS, 0)
    processed = 0
    for ci, chunk in enumerate(chunks):
        chunk_df = chunk_input(work, chunk, n_buckets, n_in)
        out = _bucketed(extract(chunk_df, big_doc_threshold), n_buckets)
        obs = Observation()
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("metrics.spans_in").alias("spans_in"),
            F.sum("metrics.spans_out").alias("spans_out"),
            F.sum("metrics.dropped").alias("dropped"),
        )
        # idempotent commit: dynamic partition overwrite replaces exactly
        # the buckets in this chunk
        (
            out.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/data")
        )
        # ledger: the chunk's observed totals, appended post-commit (a
        # sum over no rows is NULL)
        seen = {k: int(obs.get[k] or 0) for k in TOTALS}
        spark.createDataFrame(
            [(ci, chunk, run_id, time.time(), *seen.values())], LEDGER_SCHEMA
        ).write.mode("append").parquet(f"{out_dir}/_progress")
        for k in TOTALS:
            totals[k] += seen[k]
        processed += 1
        if fail_after_chunks is not None and processed >= fail_after_chunks:
            raise RuntimeError(f"simulated kill after {processed} chunks")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_skipped": len(done),
        "chunks_processed": processed,
        **totals,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data").drop("bucket")
