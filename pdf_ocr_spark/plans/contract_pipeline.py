"""End-to-end contract pipeline: the reference user's switch path.

docpact's ``run_pipeline(contract, docs) -> validated tables`` becomes
one Spark job chaining this engine's stages:

  1. extract       interleaved spans -> ordered content spans + metrics
                   (extract/pipeline.py — layout, boilerplate, grids)
  2. map headers   heading spans -> canonical schema columns via the
                   broadcast alias joins (operators/schema_map.py)
  3. validate      contract rules as assert columns + violation
                   histogram (operators/validation.py)
  4. write         validated long-form records + metrics tables

Contract dict shape (the reference's JSON contract, simplified):

    {"schema": {canonical: [alias, ...]},
     "types":  {canonical: "string"|"date"|"int"|"float"},   # optional
     "rules":  {canonical: {rule: arg, ...}}}

Output tables under ``out_dir``:
    records/   (doc_id, span_idx, canonical, value, valid, violations_csv)
    mapped/    (only when the contract declares ``types``) one WIDE
               record per (data row x unpivot group) per table block —
               the reference's deterministic dimension/measure mapping
               (operators/det_map.py, interpret.py:1335-1618) with
               blank-header inference and label-column re-classify on,
               validated by the same contract rules as assert columns
    metrics/   per-document extraction metrics
    report/    violation histogram (violation, n_docs)

Everything between the extraction UDF and the sink is stock DataFrame
API — Catalyst owns the plan; at 10^12 docs the only Python is the
extraction kernels themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..extract.pipeline import extract
from ..operators.schema_map import alias_table, map_headers
from ..operators.validation import validate, violation_histogram


def _blocked_spans(extracted: DataFrame) -> DataFrame:
    """Ordered spans -> flat primitive rows tagged with their table
    block: (doc_id, span_idx, kind, text, block).  ONE explode + ONE
    running-sum window over reading order — this is the relation worth
    materializing, because every downstream consumer (headers, cell
    grid x3 in the record pivot, roles-kernel slices) derives from it
    with filters and per-block windows only; persisting it means the
    extraction kernels run exactly once."""
    spans = extracted.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "s")
    ).select(
        "doc_id",
        "span_idx",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    )

    order = W.partitionBy("doc_id").orderBy("span_idx")
    is_hdr = (F.col("kind") == "heading").cast("int")
    prev_hdr = F.coalesce(F.lag(is_hdr).over(order), F.lit(0))
    # a block starts at each heading run; cells attach to the latest block
    return spans.withColumn(
        "block",
        F.sum(
            F.when((is_hdr == 1) & (prev_hdr == 0), 1).otherwise(0)
        ).over(order.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )


def _grid_from_blocked(spans: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Blocked flat spans -> per-table-block grid coordinates.

    Column association is positional, reconstructed from reading order:
    consecutive heading spans form a header block of k columns; the
    cells that follow cycle through those k columns row-major
    (cell_seq mod k, row_id = cell_seq div k).  All window functions —
    no Python.  Returns (hdrs(doc_id, block, col_idx, header),
    cells(doc_id, block, span_idx, row_id, col_idx, text))."""
    blk = W.partitionBy("doc_id", "block")
    hdrs = (
        spans.filter(F.col("kind") == "heading")
        .withColumn(
            "col_idx",
            F.row_number().over(blk.orderBy("span_idx")) - 1,
        )
        .select("doc_id", "block", "col_idx", F.col("text").alias("header"))
    )
    k = hdrs.groupBy("doc_id", "block").agg(F.count("*").alias("k"))

    cells = (
        spans.filter(F.col("kind") == "cell")
        .withColumn(
            "cell_seq", F.row_number().over(blk.orderBy("span_idx")) - 1
        )
        .join(k, ["doc_id", "block"], "left")
        .withColumn("col_idx", F.pmod("cell_seq", F.coalesce("k", F.lit(1))))
        .withColumn(
            "row_id",
            F.floor(F.col("cell_seq") / F.coalesce("k", F.lit(1))).cast(
                "int"
            ),
        )
        .select("doc_id", "block", "span_idx", "row_id", "col_idx", "text")
    )
    return hdrs, cells


def _mapped_cells(
    spark, hdrs: DataFrame, cells: DataFrame, schema: dict
) -> DataFrame:
    """Block grid -> long-form (doc_id, span_idx, canonical, value):
    headings resolve to canonical columns via the broadcast alias
    joins."""
    mapping = map_headers(
        hdrs.select("header").distinct(), alias_table(spark, schema)
    )
    return (
        cells.join(hdrs, ["doc_id", "block", "col_idx"], "left")
        .join(F.broadcast(mapping), "header", "left")
        .select(
            "doc_id", "span_idx", "canonical", F.col("text").alias("value")
        )
    )


def _deterministic_records(
    spark, hdrs: DataFrame, cells: DataFrame, contract: dict
) -> DataFrame:
    """Block grid -> WIDE records via the deterministic dimension/
    measure mapping (operators/det_map.py, interpret.py:1335-1618).
    Each table block maps independently — the det-map document grain is
    (doc_id, block), carried through as one composite key and split
    back after the record pivot. Blank-header inference and the
    label-column re-classify branch are on (the reference applies both
    unconditionally)."""
    from ..operators.det_map import map_deterministic, typed_alias_table

    schema = contract["schema"]
    types = contract.get("types", {})
    typed = {
        c: (types.get(c, "string"), aliases) for c, aliases in schema.items()
    }
    record_cols = sorted(schema)
    tbl = F.concat_ws("#", "doc_id", F.col("block").cast("string"))
    h = hdrs.select(tbl.alias("doc_id"), "col_idx", "header")
    cl = cells.select(
        tbl.alias("doc_id"), "row_id", "col_idx", F.col("text").alias("cell")
    )
    rec = map_deterministic(
        cl, h, typed_alias_table(spark, typed), record_cols,
        infer_blank=True, reclassify=True,
    )
    return rec.select(
        F.substring_index("doc_id", "#", 1).alias("doc_id"),
        F.element_at(F.split("doc_id", "#"), -1).cast("int").alias("block"),
        "row_id",
        "group_key",
        *record_cols,
    )


def _validated_records(cells: DataFrame, rules: dict) -> DataFrame:
    """Apply each canonical column's rule set to its rows; rows of
    unruled columns are valid by definition."""
    no_viol = F.lit([]).cast("array<string>")
    if not rules:
        return cells.select(
            "doc_id", "span_idx", "canonical", "value",
            F.lit(True).alias("valid"), F.lit("").alias("violations_csv"),
        )
    parts = []
    for canonical, rr in rules.items():
        part = (
            cells.filter(F.col("canonical") == canonical)
            .withColumn(canonical, F.col("value"))
        )
        parts.append(
            validate(part, {canonical: rr}).select(
                "doc_id", "span_idx", "canonical", "value",
                "valid", F.array_join("violations", ",").alias("violations_csv"),
            )
        )
    rest = cells.filter(
        F.col("canonical").isNull() | ~F.col("canonical").isin(*rules)
    ).select(
        "doc_id", "span_idx", "canonical", "value",
        F.lit(True).alias("valid"), F.lit("").alias("violations_csv"),
    )
    out = rest
    for p in parts:
        out = out.unionByName(p)
    return out


def run_contract_pipeline(
    spark: SparkSession,
    contract: dict,
    input_df: DataFrame,
    out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Run extract -> map -> validate; optionally write the three output
    tables. Returns {"records", "metrics", "report"} DataFrames."""
    extracted = extract(input_df)
    blocked = _blocked_spans(extracted)
    # The blocked flat-span relation feeds MANY downstream consumers
    # (header block, cell grid x3 in the record pivot, roles-kernel
    # broadcast slices, records + mapped outputs): without
    # materialization every branch replays the extraction kernels.
    # Materialize the ONE flat primitive-row relation they all derive
    # from — narrow rows serialize ~an order of magnitude cheaper than
    # the nested span arrays, and a single materialization point means
    # extraction runs exactly once (at production scale the staged
    # extraction output is a parquet table; this is its in-memory
    # analogue). Blocks are freed by the ContextCleaner once the
    # returned DataFrames are dropped.
    #
    # localCheckpoint (not .persist): materializes AND truncates
    # lineage. The extraction plan below this point is large, and every
    # downstream reference to a plain .persist would drag it through
    # analysis/cache-canonicalization again — measured as multi-second
    # driver-side gaps with zero jobs running. After the checkpoint the
    # logical plan is a block scan.
    blocked = blocked.localCheckpoint(eager=True)
    hdrs, grid = _grid_from_blocked(blocked)
    # hdrs/grid are also each consumed by several branches (cells x3 in
    # validation, x4 in the record pivot; headers by the alias mapping
    # and every roles broadcast). They materialize from the checkpointed
    # blocked relation — extraction still runs exactly once — and
    # checkpointing them keeps the per-block window shuffles from
    # replaying per consumer.
    hdrs = hdrs.localCheckpoint(eager=True)
    grid = grid.localCheckpoint(eager=True)
    cells = _mapped_cells(spark, hdrs, grid, contract["schema"])
    records = _validated_records(cells, contract.get("rules", {}))

    # Doc-grain metrics ride the nested relation (they are dropped by
    # the explode), so materializing `metrics` pays one extra kernel
    # pass — acceptable: the save path at production scale stages
    # `extracted` as a parquet table anyway.
    metrics = extracted.select("doc_id", "metrics.*")
    report = violation_histogram(
        records.select(
            F.filter(
                F.split("violations_csv", ","), lambda x: x != ""
            ).alias("violations")
        )
    )

    out = {"records": records, "metrics": metrics, "report": report}
    if contract.get("types"):
        mapped = _deterministic_records(spark, hdrs, grid, contract)
        rules = {
            c: r
            for c, r in contract.get("rules", {}).items()
            if c in contract["schema"]
        }
        out["mapped"] = validate(mapped, rules) if rules else mapped
    if out_dir:
        for name, df in out.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
    return out
