"""Small-file compaction for the bucketed extraction output.

Operational complement to checkpoint.py (resume) and incremental.py
(refresh): every resumed chunk and every incremental run appends its
own parquet files under ``<out>/data/bucket=N/``, and at 10^12-doc
scale the accumulated small files dominate open/plan cost long before
data volume does.  ``compact_output`` rewrites the data tree so each
bucket directory holds ``files_per_bucket`` files — the
Iceberg ``rewrite_data_files`` / Delta ``OPTIMIZE`` analogue for the
plain-parquet layout this sandbox runs (sources/catalog.py documents
the Iceberg branch).

Safety: the compacted tree is written BESIDE the live one and swapped
in with two directory renames, so at every instant a COMPLETE tree
(old or new) exists on disk under some name — a crash never leaves a
half-written ``data``.  The swap itself is not atomic: between the
two renames there is an instant with no ``<out>/data`` (production
swaps a catalog pointer instead — the Iceberg snapshot commit this
models), and a crash in that window or during cleanup leaves a
leftover staging tree.  ``_recover`` (run automatically at the start
of every ``compact_output``) repairs all such states: a missing
``data`` with a ``data_precompact`` present renames the old tree
back, and stale staging trees are dropped — so the operation is
re-runnable after any crash.  The ledger (``_progress``) and
manifest (``_manifest``) are row-preserving metadata and are not
touched.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F


def data_file_counts(out_dir: str) -> dict[int, int]:
    """parquet file count per bucket directory."""
    root = f"{out_dir}/data"
    counts: dict[int, int] = {}
    for name in os.listdir(root):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        counts[b] = sum(
            1
            for f in os.listdir(f"{root}/{name}")
            if f.endswith(".parquet")
        )
    return counts


def _recover(out_dir: str) -> None:
    """Repair any state a crashed compaction can leave behind (see
    module docstring); idempotent, cheap, safe to run anytime."""
    data = f"{out_dir}/data"
    old = f"{out_dir}/data_precompact"
    tmp = f"{out_dir}/data_compacting"
    if not os.path.exists(data) and os.path.exists(old):
        # crashed between the two swap renames: the old tree is intact
        os.rename(old, data)
    if os.path.exists(old):
        # crashed during final cleanup: the new tree is live, drop old
        shutil.rmtree(old)
    if os.path.exists(tmp):
        # crashed mid-write: the staging tree is garbage
        shutil.rmtree(tmp)


def compact_output(
    spark: SparkSession,
    out_dir: str,
    files_per_bucket: int = 1,
) -> dict:
    """Rewrite ``<out>/data`` so each bucket holds ``files_per_bucket``
    parquet files.  Returns {n_rows, files_before, files_after}.

    ``repartition(n_buckets * files_per_bucket, bucket)`` hash-routes
    each bucket's rows to at most ``files_per_bucket`` tasks (plus a
    salt when >1), so the partitioned write emits exactly that many
    files per bucket directory; a hash collision merely makes one task
    write two bucket directories — still one file each."""
    _recover(out_dir)
    data = f"{out_dir}/data"
    before = data_file_counts(out_dir)
    if sum(before.values()) == 0:
        # an empty tree would otherwise fail opaquely downstream
        # (max(bucket) -> NULL -> 'NoneType + int'; a zero-file read
        # errors outright) — nothing to compact is a clear no-op/error
        raise ValueError(
            f"compact_output: no bucket parquet files under {data} — "
            "nothing to compact (run extraction first)"
        )
    df = spark.read.parquet(data)
    # one action for both stats (row count + bucket ceiling): the
    # aggregate still runs a scan job over the tree; collapsing the two
    # collects into one job halves this step's fixed action cost
    stats = df.agg(
        F.count(F.lit(1)).alias("n"), F.max("bucket").alias("mb")
    ).collect()[0]
    n_rows = int(stats["n"])
    n_buckets = int(stats["mb"]) + 1
    keys = ["bucket"]
    if files_per_bucket > 1:
        df = df.withColumn(
            "_salt",
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_bucket)).cast(
                "int"
            ),
        )
        keys = ["bucket", "_salt"]
    tmp = f"{out_dir}/data_compacting"
    (
        df.repartition(n_buckets * files_per_bucket, *keys)
        .drop(*[k for k in keys if k != "bucket"])
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    old = f"{out_dir}/data_precompact"
    os.rename(data, old)
    os.rename(tmp, data)
    shutil.rmtree(old)
    return {
        "n_rows": n_rows,
        "files_before": sum(before.values()),
        "files_after": sum(data_file_counts(out_dir).values()),
    }
