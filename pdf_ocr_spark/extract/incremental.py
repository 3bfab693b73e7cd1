"""Incremental re-extraction: content-hash CDC over the input corpus
decides which documents go through the extraction kernels; unchanged
documents carry their previous output forward untouched.

north_rule extension (same family as checkpoint.py's resume): at 10^12
documents a corpus refresh touches a tiny fraction of rows, and
re-running the full extraction is not an option.  The incremental job

  1. fingerprints each document's INPUT spans (``checkpoint.with_fp``,
     a scan-local expression);
  2. diffs them against the ``fp`` column of the previous snapshot's
     rows (a column-pruned read of its ``data/``);
  3. routes ONLY added/changed documents through ``extract``; deleted
     documents drop; every unchanged document's output row is carried
     forward (no kernel work, no span recompute);
  4. deletes ``<out>/data`` and ``<out>/_progress``, then commits the
     merged rows as one ``checkpoint.commit`` over every bucket — the
     snapshot ``run_resumable`` writes.  A refresh killed before its
     ledger row leaves an incomplete snapshot, which ``read_output``
     refuses; a killed refresh reruns from scratch.

A previous snapshot that is incomplete, has no ``fp`` or was written by
other kernel sources (``checkpoint.kernel_version``) seeds nothing: the
refresh re-extracts every document.  Extraction cost is proportional to
|changed| — never to |corpus|.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import checkpoint as ck
from .pipeline import BIG_DOC_THRESHOLD, extract


def input_fingerprint(df: DataFrame) -> DataFrame:
    """(doc_id, spans, ...) -> (doc_id, fp), ``fp`` as the snapshot rows
    carry it (``checkpoint.with_fp``)."""
    return ck.with_fp(df).select("doc_id", "fp")


def _previous_rows(spark: SparkSession, prev_dir: str | None) -> DataFrame | None:
    """The rows of ``prev_dir``'s snapshot when a refresh may carry them
    forward (see the module docstring), else None."""
    ledger = ck.read_ledger(spark, prev_dir) if prev_dir else []
    current = {r.version for r in ledger} == {ck.kernel_version()}
    if not (ck.is_complete(ledger) and current):
        return None
    rows = spark.read.parquet(f"{prev_dir}/data").drop("bucket")
    return rows if "fp" in rows.columns else None


def run_incremental(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    prev_dir: str | None = None,
    n_buckets: int = 32,
    big_doc_threshold: int = BIG_DOC_THRESHOLD,
    check_unique: bool = False,
) -> dict:
    """Extract ``input_df`` into ``out_dir``, reusing ``prev_dir``'s
    output for documents whose input fingerprint is unchanged.

    With no snapshot to reuse (``_previous_rows``) every document is
    treated as changed — the cold-start run. Returns {n_total,
    n_carried, n_reextracted, n_deleted}, observed on the write.

    PRECONDITION: ``input_df`` must be doc_id-unique (one row per
    document — the corpus-snapshot grain every entry point in this
    package shares; resume makes the same assumption).  Duplicate
    doc_ids would fan out the joins and write duplicate output rows,
    silently corrupting n_carried/n_deleted on the NEXT run.  Because
    this is the entry point fed raw CDC batches, pass
    ``check_unique=True`` to fail fast instead: one extra count over the
    thin (doc_id) projection — cheap at test scale, a deliberate opt-in
    full scan at corpus scale (dedup the CDC batch upstream with a
    groupBy-latest instead of paying it per refresh)."""
    import os

    if prev_dir is not None and os.path.realpath(
        prev_dir
    ) == os.path.realpath(out_dir):
        raise ValueError(
            "out_dir must differ from prev_dir: the carried rows are "
            "read lazily from prev_dir while out_dir is being written "
            "(production alternates snapshot directories / Iceberg "
            "snapshots)"
        )
    if check_unique:
        dup = (
            input_df.groupBy("doc_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "run_incremental: input_df is not doc_id-unique "
                f"(e.g. doc_id={dup[0]['doc_id']} appears "
                f"{dup[0]['count']}x) — dedup the CDC batch first"
            )
    prev = _previous_rows(spark, prev_dir)
    # The fingerprint relation is referenced by both diff legs (changed
    # and deleted) — persist the THIN (doc_id, fp) rows so the
    # corpus-grain fingerprint scan runs ONCE.
    fp_new = input_fingerprint(input_df).persist() if prev is not None else None
    acct = Observation()
    try:
        if prev is None:
            merged = extract(ck.with_fp(input_df), big_doc_threshold)
        else:
            prev_fp = prev.select(
                F.col("doc_id").alias("p_doc_id"), F.col("fp").alias("p_fp")
            )
            changed_fp = (
                fp_new.join(prev_fp, fp_new.doc_id == prev_fp.p_doc_id, "left")
                .filter(F.col("p_fp").isNull() | (F.col("fp") != F.col("p_fp")))
                .select("doc_id", "fp")
            )
            deleted_ids = prev_fp.join(
                fp_new, prev_fp.p_doc_id == fp_new.doc_id, "anti"
            ).select(F.col("p_doc_id").alias("doc_id"))
            # Carried rows = previous output MINUS the Δ-grain exclude set
            # (changed ∪ deleted) — not a join against the corpus-grain
            # unchanged set.  The exclude side is |Δ| rows, so AQE
            # broadcasts it and the corpus-grain span rows never shuffle
            # (a semi join against the unchanged set measured 1.04x
            # N->4N: it moved the whole previous output through an
            # exchange).  The join's ``deleted`` flag lets the write
            # observe the deleted and carried counts.
            exclude = changed_fp.select("doc_id", F.lit(False).alias("deleted"))
            exclude = exclude.unionByName(
                deleted_ids.select("doc_id", F.lit(True).alias("deleted"))
            )
            carried = (
                prev.join(exclude, "doc_id", "left")
                .observe(
                    acct,
                    F.count(F.when(F.col("deleted"), 1)).alias("n_deleted"),
                    F.count(F.when(F.col("deleted").isNull(), 1)).alias("n_carried"),
                )
                .filter(F.col("deleted").isNull())
                .drop("deleted")
            )
            changed = input_df.join(changed_fp, "doc_id")
            merged = extract(changed, big_doc_threshold).unionByName(carried)
        # Hash-distribute on the bucket key before the partitioned write
        # (Iceberg's 'hash' write-distribution mode): without it every
        # write task emits a file into every bucket directory it touches,
        # so the small-file count grows WITH cluster width (measured 655
        # files at N vs 1295 at 4N on the same input).  The repartition
        # is one exchange at a DATA-sized grain (n_buckets tasks) and
        # bounds the tree to one file per bucket.
        out = ck._bucketed(merged, n_buckets).repartition(n_buckets, "bucket")
        # Drop a reused out_dir's older snapshot whole: no stale bucket
        # survives where the new snapshot has no rows, and until the new
        # ledger row lands the directory reads as incomplete.
        ck.delete_path(spark, f"{out_dir}/data")
        ck.delete_path(spark, f"{out_dir}/_progress")
        seen = ck.commit(spark, out, out_dir, list(range(n_buckets)), n_buckets,
                         uuid.uuid4().hex[:12])
    finally:
        if fp_new is not None:
            fp_new.unpersist()
    got = acct.get if prev is not None else {"n_carried": 0, "n_deleted": 0}
    return {
        "n_total": seen["docs"],
        "n_reextracted": seen["docs"] - got["n_carried"],
        "n_carried": got["n_carried"],
        "n_deleted": got["n_deleted"],
    }
