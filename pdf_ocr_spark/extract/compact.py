"""Small-file compaction for the bucketed extraction output.

Every resumed chunk appends its own parquet files under
``<out>/data/bucket=N/``, and at 10^12-doc scale the accumulated small
files dominate open/plan cost long before data volume does.
``compact_output`` rewrites the data tree so each bucket directory holds
``files_per_bucket`` files — the Iceberg ``rewrite_data_files`` / Delta
``OPTIMIZE`` analogue for the plain-parquet layout this sandbox runs
(sources/catalog.py documents the Iceberg branch).  It needs a complete
snapshot (checkpoint.py), whose ledger gives the bucket count and is not
touched; every file operation goes through checkpoint.py's Hadoop
FileSystem helpers.

Safety: the compacted tree is written BESIDE the live one and swapped
in with two directory renames, so at every instant a COMPLETE tree
(old or new) exists on disk under some name.  The swap itself is not
atomic (production swaps a catalog pointer instead — the Iceberg
snapshot commit this models): a crash between the renames leaves no
``<out>/data``, and a crash during the write or cleanup leaves a staging
tree.  ``_recover``, run at the start of every ``compact_output``,
renames a lone ``data_precompact`` back and drops stale staging trees,
so the operation is re-runnable after any crash.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Observation, SparkSession, functions as F

from .checkpoint import _fs, delete_path, is_complete, path_exists, read_ledger


def data_file_counts(out_dir: str) -> dict[int, int]:
    """parquet file count per non-empty bucket directory, globbed through
    the active session's Hadoop FileSystem."""
    fs, p = _fs(SparkSession.active(), f"{out_dir}/data/bucket=*/*.parquet")
    files = fs.globStatus(p) or []
    return Counter(int(f.getPath().getParent().getName().split("=")[1]) for f in files)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, p = _fs(spark, src)
    if not fs.rename(p, _fs(spark, dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


def _recover(spark: SparkSession, out_dir: str) -> None:
    """Repair any state a crashed compaction can leave behind (see
    module docstring); idempotent, cheap, safe to run anytime."""
    data = f"{out_dir}/data"
    old = f"{out_dir}/data_precompact"
    if not path_exists(spark, data) and path_exists(spark, old):
        # crashed between the two swap renames: the old tree is intact
        _rename(spark, old, data)
    # crashed during final cleanup (the new tree is live, drop old) or
    # mid-write (the staging tree is garbage)
    delete_path(spark, old)
    delete_path(spark, f"{out_dir}/data_compacting")


def compact_output(
    spark: SparkSession,
    out_dir: str,
    files_per_bucket: int = 1,
) -> dict:
    """Rewrite ``<out>/data`` so each bucket holds ``files_per_bucket``
    parquet files.  Returns {n_rows, files_before, files_after}.

    ``repartition(n_buckets * files_per_bucket, bucket, salt)``, the salt
    a doc_id hash mod ``files_per_bucket``, hash-routes each bucket's
    rows to at most ``files_per_bucket`` tasks, so the partitioned write
    emits at most that many files per bucket directory; a hash collision
    merely makes one task write two bucket directories."""
    _recover(spark, out_dir)
    data = f"{out_dir}/data"
    before = data_file_counts(out_dir)
    ledger = read_ledger(spark, out_dir)
    if sum(before.values()) == 0 or not is_complete(ledger):
        # a zero-file read errors opaquely downstream — nothing to
        # compact is a clear error
        raise ValueError(
            f"compact_output: {out_dir} holds no complete snapshot with "
            "bucket files — nothing to compact (run extraction first)"
        )
    n_buckets = ledger[0].n_buckets
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(files_per_bucket))
    tmp = f"{out_dir}/data_compacting"
    obs = Observation()
    (
        spark.read.parquet(data)
        .repartition(n_buckets * files_per_bucket, "bucket", salt)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    old = f"{out_dir}/data_precompact"
    _rename(spark, data, old)
    _rename(spark, tmp, data)
    delete_path(spark, old)
    return {
        "n_rows": obs.get["n"],
        "files_before": sum(before.values()),
        "files_after": sum(data_file_counts(out_dir).values()),
    }
