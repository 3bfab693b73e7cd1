"""The snapshot both writers commit, and the resumable extraction runner.

north_rule: "checkpoints per-partition progress with lineage + extraction
metrics (spans/doc, drop reasons) so a killed run resumes without
reprocessing". The reference has no resume at all (SURVEY.md §2.10); this
is new job design, not a port.

A snapshot is ``<out>/data/bucket=N/`` rows ``(doc_id, spans, metrics,
fp)`` — ``fp`` is the input fingerprint (``with_fp``), carried through
``extract`` — plus the ledger ``<out>/_progress/``: one row per
``commit``, appended after its data write, with the commit's buckets,
``n_buckets``, run_id, time, kernel version and the observed totals of
the rows it wrote (``DataFrame.observe``; nothing re-reads the output).
It is complete when its ledger rows cover ``range(n_buckets)``.

``run_resumable`` hash-buckets the work by ``pmod(xxhash64(doc_id),
n_buckets)`` and commits it in chunks of buckets. A chunk's write is a
dynamic partition overwrite (a replayed bucket replaces, never
duplicates) in as many tasks as its share of the input would get in one
unchunked pass (``chunk_partitions``), so chunking adds no Python tasks,
each of which has a fixed start-up cost. A rerun processes only the
buckets no ledger row lists; a kill between a chunk's data write and its
ledger row merely re-extracts that chunk.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import math
import sys
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .. import kernels
from .pipeline import BIG_DOC_THRESHOLD, extract

LEDGER_SCHEMA = (
    "chunk int, buckets array<int>, n_buckets int, run_id string, "
    "committed_at double, version string, "
    "docs long, spans_in long, spans_out long, dropped long"
)
TOTALS = ("docs", "spans_in", "spans_out", "dropped")


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def with_fp(df: DataFrame) -> DataFrame:
    """``df`` plus the input fingerprint ``fp``: ``xxhash64`` over the
    JSON form of the spans. ``to_json`` names each non-NULL field, so
    spans that differ only in which field is NULL hash apart; the struct
    hash ``xxhash64(spans)`` skips NULL fields and would not."""
    return df.withColumn("fp", F.xxhash64(F.to_json("spans")))


@functools.cache
def kernel_version() -> str:
    """Digest of the kernels package's sources (``KERNELS`` loads all of
    its modules; ``inspect.getsource`` also reads the ``--py-files`` zip)."""
    mods = [m for n, m in sorted(sys.modules.items()) if n.startswith(kernels.__name__)]
    src = "".join(map(inspect.getsource, mods))
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` under the session's Hadoop
    configuration — the same path resolution the parquet reader uses."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete; a missing path is not an error."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def read_ledger(spark: SparkSession, out_dir: str) -> list:
    """The ledger rows of ``out_dir``: none without a ledger; an
    unreadable one raises. With the schema given, a killed first
    append's ``_temporary`` reads as empty and an older ledger's missing
    columns read as NULL."""
    path = f"{out_dir}/_progress"
    if not path_exists(spark, path):
        return []
    return spark.read.schema(LEDGER_SCHEMA).parquet(path).collect()


def is_complete(ledger: list) -> bool:
    """Whether the ledger rows cover every bucket of their snapshot."""
    covered = {b for r in ledger for b in r.buckets}
    return bool(ledger) and covered == set(range(ledger[0].n_buckets or 0))


def commit(spark: SparkSession, out: DataFrame, out_dir: str, buckets: list[int],
           n_buckets: int, run_id: str, chunk: int = 0) -> dict:
    """Write the bucketed rows ``out`` of ``buckets`` into ``<out_dir>/data``,
    replacing those buckets, then append their ledger row. Returns the
    observed totals of the written rows."""
    obs = Observation()
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("metrics.spans_in").alias("spans_in"),
        F.sum("metrics.spans_out").alias("spans_out"),
        F.sum("metrics.dropped").alias("dropped"),
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/data")
    )
    seen = {k: int(obs.get[k] or 0) for k in TOTALS}  # a sum over no rows is NULL
    row = (chunk, buckets, n_buckets, run_id, time.time(), kernel_version(),
           *seen.values())
    spark.createDataFrame([row], LEDGER_SCHEMA).write.mode("append").parquet(
        f"{out_dir}/_progress"
    )
    return seen


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
    ``dropped`` totals of the chunks this call processed. A ledger of
    another ``n_buckets`` raises.

    ``fail_after_chunks`` is a test hook simulating a killed run."""
    run_id = run_id or uuid.uuid4().hex[:12]
    ledger = read_ledger(spark, out_dir)
    if any(r.n_buckets != n_buckets for r in ledger):
        raise ValueError(f"{out_dir}: its ledger has n_buckets other than {n_buckets}")
    done = {b for r in ledger for b in r.buckets}
    work = _bucketed(with_fp(input_df), n_buckets)
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
        seen = commit(spark, out, out_dir, chunk, n_buckets, run_id, ci)
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
    """The rows ``(doc_id, spans, metrics, fp)`` of ``out_dir``'s
    snapshot; an incomplete one (a killed run or refresh) raises."""
    if not is_complete(read_ledger(spark, out_dir)):
        raise ValueError(f"{out_dir} holds no complete snapshot")
    return spark.read.parquet(f"{out_dir}/data").drop("bucket")
