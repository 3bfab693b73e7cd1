"""Incremental re-extraction: content-hash CDC over the input corpus
decides which documents go through the extraction kernels; unchanged
documents carry their previous output forward untouched.

north_rule extension (same family as checkpoint.py's resume): at 10^12
documents a corpus refresh touches a tiny fraction of rows, and
re-running the full extraction is not an option.  The incremental job

  1. fingerprints each document's INPUT spans (sha256 over the
     canonical JSON of the spans array — a scan-local expression);
  2. diffs the fingerprints against the manifest the previous run
     stored alongside its output (one full-outer-ish join on
     doc_id);
  3. routes ONLY added/changed documents through ``extract``; deleted
     documents drop; every unchanged document's output row is carried
     forward by a semi join of the previous output (no kernel work,
     no span recompute);
  4. writes the merged output + refreshed manifest in the same
     ``<out>/data`` layout ``checkpoint.read_output`` reads, so
     incremental runs compose with each other and with resume. The
     manifest is deleted before and written after the data, so only a
     completed refresh leaves one.

Scale shape: two scans (new corpus, previous output), one equi-join
grain per step, extraction cost proportional to |changed| — never to
|corpus|.  The manifest is (doc_id, fp): 2 thin columns at corpus
grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import _bucketed, delete_path, path_exists, read_output
from .pipeline import BIG_DOC_THRESHOLD, extract


def input_fingerprint(df: DataFrame) -> DataFrame:
    """(doc_id, spans, ...) -> (doc_id, fp): sha256 over the canonical
    JSON form of the input spans (field order is pinned by the schema,
    so the serialization — and the fingerprint — is deterministic)."""
    return df.select(
        "doc_id", F.sha2(F.to_json(F.col("spans")), 256).alias("fp")
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The (doc_id, fp) manifest ``out_dir``'s run stored, or None when
    it has none. A manifest that exists but cannot be read raises: a
    half-written one must not pass for an empty previous snapshot."""
    path = f"{out_dir}/_manifest"
    return spark.read.parquet(path) if path_exists(spark, path) else None


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

    With ``prev_dir=None`` (or a missing manifest) every document is
    treated as changed — the cold-start run that seeds the manifest.
    Returns {n_total, n_carried, n_reextracted, n_deleted}.

    PRECONDITION: ``input_df`` must be doc_id-unique (one row per
    document — the corpus-snapshot grain every entry point in this
    package shares; resume makes the same assumption).  Duplicate
    doc_ids would fan out the semi joins and write duplicate
    manifest/output rows, silently corrupting n_carried/n_deleted on
    the NEXT run.  Because this is the entry point fed raw CDC
    batches, pass ``check_unique=True`` to fail fast instead: one
    extra count over the thin (doc_id) projection — cheap at test
    scale, a deliberate opt-in full scan at corpus scale (dedup the
    CDC batch upstream with a groupBy-latest instead of paying it
    per refresh)."""
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
    # The fingerprint relation is referenced by every downstream leg
    # (changed/unchanged diff, the deleted anti join, the merged
    # write's semi join, the manifest write) — persist the THIN
    # (doc_id, fp) rows so the corpus-grain sha256-over-spans scan
    # runs ONCE, not once per action (measured 4x fingerprint cost on
    # the N->4N study before this; at 10^12 docs the cached relation
    # is 2 slim columns, and spills to disk
    # under MEMORY_AND_DISK if it must).
    fp_new = input_fingerprint(input_df).persist()
    try:
        prev_m = read_manifest(spark, prev_dir) if prev_dir else None

        if prev_m is None:
            changed_ids = fp_new.select("doc_id")
            carried = None
            n_deleted = 0
            n_unchanged = 0
        else:
            prev_m = prev_m.select(
                F.col("doc_id").alias("p_doc_id"), F.col("fp").alias("p_fp")
            )
            diff = fp_new.join(
                prev_m, fp_new.doc_id == prev_m.p_doc_id, "left"
            )
            changed_ids = diff.filter(
                F.col("p_fp").isNull() | (F.col("fp") != F.col("p_fp"))
            ).select("doc_id")
            deleted_ids = prev_m.join(
                fp_new, prev_m.p_doc_id == fp_new.doc_id, "anti"
            ).select(F.col("p_doc_id").alias("doc_id"))
            # Carried rows = previous output MINUS the Δ-grain exclude set
            # (changed ∪ deleted), as an ANTI join — not a semi join
            # against the corpus-grain unchanged set.  The exclude side is
            # |Δ| rows (the 0.1%-refresh case at production), so AQE
            # converts the join to a broadcast at runtime and the
            # corpus-grain span rows never shuffle (measured: the semi
            # variant's carried leg scaled 1.04x N->4N because it moved
            # the whole previous output through an exchange; the anti leg
            # is scan + broadcast filter).  When Δ IS corpus-sized (a
            # full-churn batch) AQE falls back to the shuffle join — the
            # same plan the semi had, so this is never worse.
            carried = read_output(spark, prev_dir).join(
                changed_ids.unionByName(deleted_ids), "doc_id", "anti"
            )
            # Accounting in ONE action: a full-outer join of the two THIN
            # manifests yields deleted (new side null) and unchanged
            # (fingerprints equal) in a single aggregation — the refresh
            # job is a sequential chain of Spark actions, and every
            # collapsed action removes a fixed serial cost that otherwise
            # caps N->4N scaling (each count was separately re-joining
            # the manifests).  |unchanged| == |carried| without
            # re-scanning corpus-grain span rows: a run's output holds
            # exactly its manifest's docs (the invariant every writer in
            # this package maintains).
            acct = (
                fp_new.join(
                    prev_m, fp_new.doc_id == prev_m.p_doc_id, "full"
                )
                .agg(
                    F.sum(
                        F.when(F.col("doc_id").isNull(), 1).otherwise(0)
                    ).alias("n_del"),
                    F.sum(
                        F.when(F.col("fp") == F.col("p_fp"), 1).otherwise(0)
                    ).alias("n_unch"),
                )
                .collect()[0]
            )
            n_deleted = int(acct["n_del"] or 0)
            n_unchanged = int(acct["n_unch"] or 0)

        changed = input_df.join(changed_ids, "doc_id", "semi")
        new_out = extract(changed, big_doc_threshold)
        merged = (
            new_out if carried is None else new_out.unionByName(carried)
        )
        # Hash-distribute on the bucket key before the partitioned write
        # (Iceberg's 'hash' write-distribution mode): without it every
        # write task emits a file into every bucket directory it touches —
        # one file per (task, bucket) pair, so the small-file count grows
        # WITH cluster width (measured 655 files at N vs 1295 at 4N on
        # the same input) and the next compaction pays to read them all.
        # The repartition is one exchange of the output at a DATA-sized
        # grain (n_buckets tasks, identical at any cluster width) and
        # bounds the tree to one file per bucket.
        out = _bucketed(merged, n_buckets).repartition(n_buckets, "bucket")
        # A reused out_dir holds an older snapshot's manifest. Drop it
        # before the data write, so a refresh killed between the two
        # writes leaves a snapshot with no manifest (the next refresh
        # from it runs cold) instead of new data beside a stale
        # manifest (the next refresh would carry deleted docs back).
        delete_path(spark, f"{out_dir}/_manifest")
        (
            out.write.mode("overwrite")
            # STATIC overwrite, explicitly: this is a full-snapshot write,
            # and the session default is dynamic partition overwrite (the
            # resume path's per-chunk replace). Under dynamic mode a
            # reused out_dir would keep stale files in any bucket the new
            # snapshot leaves empty — deleted docs would resurface.
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/data")
        )
        fp_new.write.mode("overwrite").parquet(f"{out_dir}/_manifest")
        n_total = spark.read.parquet(f"{out_dir}/data").count()
        n_carried = n_unchanged
        return {
            "n_total": n_total,
            "n_reextracted": n_total - n_carried,
            "n_carried": n_carried,
            "n_deleted": n_deleted,
        }
    finally:
        fp_new.unpersist()
