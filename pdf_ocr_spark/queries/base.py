"""Shared helpers for the query library.

Cross-engine determinism rules (Spark result must value-hash-equal the
DuckDB oracle):
  - SUM/AVG over doubles is order-dependent → aggregate DECIMAL(18,4)
    casts (exact, associative) and cast the final value to DOUBLE.
  - every top-k is ordered by a unique tie-break key;
  - timestamps are compared as-is (session TZ pinned to UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Small-input adapter: fan a narrow scan out to the cluster before
    compute-heavy map work (shingling, hashing, regex extraction).

    A small-SF parquet file is a single row group → a single scan task,
    so everything upstream of the first shuffle runs serially. When the
    scan yields fewer splits than the cluster parallelism, round-robin
    repartition (a shuffle of the not-yet-exploded, pruned columns —
    bytes are minimal at exactly the scales where this triggers). At
    production scale the scan has ≥ cores splits and this is a NO-OP —
    no shuffle is ever added to a big input.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


def dsum(col, scale: int = 4):
    """Order-independent exact sum of a double column, surfaced as double."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


def dsum_expr(expr, scale: int = 6):
    """Exact sum of a computed double expression (cast per-row first)."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def norm_hash(col="text"):
    """The d01 content key: md5 over whitespace-collapsed, trimmed,
    lowercased text. THE single definition — exact dedup (d01) and the
    train/val/test leakage audit (t19) both hash through here
    (reference: compress.py content fingerprint)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


# SQL-side twin of norm_hash (DuckDB oracle snippets)
SQL_NORM_HASH = "md5(lower(trim(regexp_replace({col}, '\\s+', ' ', 'g'))))"


# SQL-side twins (DuckDB oracle snippets)
def sql_dsum(col: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_dsum_expr(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def min_label_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected graph given as directed
    (src, dst) edge rows: min-label propagation to a fixed point.

    Returns (node, component) where component = min node id reachable.
    Scale: O(diameter) rounds of one equi-join + min-agg shuffle each;
    near-dup graphs have tiny diameters so rounds stay single-digit at
    any corpus size, and the changed-label frontier shrinks every
    round.  localCheckpoint each round truncates lineage — without it
    the logical plan doubles per iteration (the canonical
    iterative-algorithm pitfall on Spark).
    """
    edges = edges.persist()
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    while True:
        neigh = und.join(labels, und.dst == labels.node).select(
            und.src.alias("node"), "component"
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def two_phase_topk(
    df: DataFrame,
    k: int,
    score_col: str,
    id_col: str,
    rank_name: str,
    extras: tuple[str, ...] = (),
) -> DataFrame:
    """Bounded global top-k with 1-based ranks, ordered by
    (score DESC, id ASC) — the distributed takeOrdered shape.

    Phase 1 ranks WITHIN each input partition via a
    spark_partition_id-partitioned window (sort-based and spillable,
    so per-task memory stays bounded no matter the partition size —
    never a whole-partition collect_list buffer) and keeps k rows per
    partition.  Phase 2 merges the <= partitions x k survivors in one
    bounded sort+slice aggregation.  Which rows meet in phase 1
    depends on physical partitioning, but the merged top-k is a
    deterministic function of the data (ties break by (score DESC,
    id ASC) in both phases), so any partitioning yields identical
    output.  Scores are assumed non-NaN (every caller's score
    expression guarantees it on this corpus): NaN would sort first in
    the phase-1 window (Spark treats NaN as greatest) but last in the
    phase-2 negated-struct sort.
    """
    from pyspark.sql import Window as W

    wp = W.partitionBy(F.spark_partition_id()).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    p1 = (
        df.withColumn("_lrk", F.row_number().over(wp))
        .filter(F.col("_lrk") <= k)
    )
    s = p1.select(
        F.struct(
            (-F.col(score_col)).alias("ns"),
            F.col(id_col).alias("id"),
            *[F.col(c).alias(c) for c in extras],
        ).alias("s")
    )
    p2 = s.groupBy().agg(
        F.slice(F.sort_array(F.collect_list("s")), 1, k).alias("top")
    )
    return p2.select(F.posexplode("top").alias("pos", "s")).select(
        F.col("s.id").alias(id_col),
        *[F.col(f"s.{c}").alias(c) for c in extras],
        (F.col("pos") + 1).alias(rank_name),
    )
