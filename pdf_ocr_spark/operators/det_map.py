"""Deterministic dimension/measure schema mapping (SURVEY.md §2.9).

Re-expresses (NOT ports) the reference's deterministic unpivot mapping
(docpact interpret.py:1335-1618) as DataFrame operators over a
long-format cell stream:

  Phase 2  column classification  (interpret.py:1335-1361)
           each ' / ' header part resolves against the broadcast typed
           alias dictionary; string/date matches are DIMENSIONS (value =
           the raw header-part text), int/float matches are MEASURES
           (value = the cell) — except the int+float shared-alias rule:
           when one part matches both an int and a float column, the int
           is a dimension (e.g. Year="2025") and the float the measure.
           A single-part header whose matches are all dimension-type is
           a SHARED column (cell value, e.g. Region).
  Phase 3  unpivot-group detection (interpret.py:1462-1527)
           per document: a dimension canonical appearing with >= 2
           distinct header-text values is a GROUP dimension; one
           appearing >= 2 times with a single value is a CONSTANT
           dimension (applied to every record). Non-shared columns
           grouped by their group-dimension value vector; no group
           dimensions anywhere -> one implicit group.
  Phase 4  record building          (interpret.py:1583-1618)
           one record per (data row x group): shared cells + the
           group's dimension header-values + constants + measure cells.

Phase 2's part classification is a broadcast join
(:func:`classify_parts`). The per-document role decisions of phases 2-3
— shared columns, group and constant dimensions, groups and the
implicit group — run in :func:`roles_kernel`, ONE header-grain
mapInPandas over per-doc part arrays, the kernel pattern (§2.11). So
does the opt-in re-classify branch for measure-less compound label
columns (interpret.py:1504-1526), which is sequential per document
(each promotion's constants feed the next column's coverage check).
Blank-header inference (interpret.py:1440-1460, opt-in) is
:func:`infer_blank_header_shared`.

Scale shape: every rule runs at HEADER grain (columns-per-doc rows —
orders of magnitude smaller than the cell stream). The cell stream is
touched exactly twice: two equi-joins on (doc_id, col_idx) against
header-grain role tables, then ONE shuffle — the groupBy(doc_id,
row_id, group_key) record pivot, which is the output cardinality
itself. No collect, no driver loop, no per-row UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema_map import norm_header, norm_header_py

DIMENSION_TYPES = ("string", "date")  # interpret.py DIMENSION_TYPES


def typed_alias_table(spark: SparkSession, schema: dict) -> DataFrame:
    """schema: {canonical: (type, [aliases])} -> (canonical, type,
    norm_alias, has_float). The canonical name itself is always an
    alias. ``has_float`` is precomputed per normalized alias (does ANY
    canonical of this alias carry type float?) so the int+float
    shared-alias rule needs no window over the match rows — the schema
    dict is driver-local, so this costs nothing."""
    _norm = norm_header_py  # single shared normalization definition

    rows = set()
    for canonical, (ty, aliases) in schema.items():
        for a in {canonical, *aliases}:
            rows.add((canonical, ty, _norm(a)))
    float_norms = {n for _c, ty, n in rows if ty == "float"}
    df = spark.createDataFrame(
        [(c, ty, n, n in float_norms) for c, ty, n in sorted(rows)],
        "canonical string, type string, norm_alias string, has_float boolean",
    )
    return df


def classify_parts(headers: DataFrame, aliases: DataFrame) -> DataFrame:
    """headers(doc_id, col_idx, header) -> one row per (header part x
    alias match): (doc_id, col_idx, pi, part, canonical, type, role)
    with role in {'dim','measure'} (null canonical for unmatched parts,
    role null). Phase-2 semantics, interpret.py:1335-1361."""
    parts = headers.select(
        "doc_id",
        "col_idx",
        F.posexplode(F.split("header", r" / ")).alias("pi", "raw"),
    ).select(
        "doc_id",
        "col_idx",
        "pi",
        F.trim("raw").alias("part"),
        norm_header(F.col("raw")).alias("norm"),
    )
    m = parts.join(
        F.broadcast(aliases), parts["norm"] == aliases["norm_alias"], "left"
    )
    # int+float shared-alias rule via the PRECOMPUTED per-alias
    # has_float flag (typed_alias_table) — all matches of one part
    # share the norm, so this equals the old per-(doc,col,pi) window
    # without its shuffle in every downstream branch lineage
    role = (
        F.when(F.col("type").isin(*DIMENSION_TYPES), "dim")
        .when((F.col("type") == "int") & F.col("has_float"), "dim")
        .when(F.col("type").isNotNull(), "measure")
    )
    return m.select(
        "doc_id", "col_idx", "pi", "part", "canonical", "type",
        role.alias("role"),
    )


def infer_blank_header_shared(
    cells: DataFrame, headers: DataFrame, classified: DataFrame,
    aliases: DataFrame,
) -> DataFrame:
    """Phase-2.5 blank-header text-column inference
    (interpret.py:1440-1460 semantics): when a document has exactly ONE
    column with a blank header, zero alias matches, and majority-text
    data (>50% of non-empty cells non-numeric under the comma-decimal /
    NBSP-tolerant test, interpret.py:1007-1032), and exactly ONE
    string-type schema column has no header match anywhere in the doc,
    the two are assigned — an extra shared column. Returns
    (doc_id, col_idx, canonical) rows; empty when either gate fails.
    Title-matched dimensions are not in the already-matched set here
    (documented deviation).

    One narrow pass over the cell stream (broadcast-restricted to
    candidate columns, then a header-grain agg); everything else is
    header-grain."""
    per_col = classified.groupBy("doc_id", "col_idx").agg(
        F.sum(F.when(F.col("canonical").isNotNull(), 1).otherwise(0)).alias(
            "n_match"
        )
    )
    blank = (
        per_col.filter(F.col("n_match") == 0)
        .join(headers, ["doc_id", "col_idx"])
        .filter(F.trim("header") == "")
        .select("doc_id", "col_idx")
    )
    # >50% of non-empty cells non-numeric (cleaned: ','->'.', strip
    # NBSP/space thousands, then a tolerant float parse)
    cleaned = F.regexp_replace(
        F.regexp_replace(F.trim("cell"), ",", "."), "[  ]", ""
    )
    is_text = F.when(
        F.expr(
            "try_cast(regexp_replace(regexp_replace(trim(cell), ',', '.'),"
            " '[\\u00A0 ]', '') AS double)"
        ).isNull()
        | (cleaned == ""),
        1.0,
    ).otherwise(0.0)
    txt = (
        cells.join(F.broadcast(blank), ["doc_id", "col_idx"])
        .filter(F.trim("cell") != "")
        .groupBy("doc_id", "col_idx")
        .agg(F.avg(is_text).alias("text_frac"))
        .filter(F.col("text_frac") > 0.5)
    )
    one_col = (
        txt.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.min("col_idx").alias("col_idx"))
        .filter(F.col("n") == 1)
    )
    matched = (
        classified.filter(F.col("canonical").isNotNull())
        .select("doc_id", "canonical")
        .distinct()
    )
    string_cols = aliases.filter(F.col("type") == "string").select(
        "canonical"
    ).distinct()
    one_schema = (
        headers.select("doc_id")
        .distinct()
        .crossJoin(F.broadcast(string_cols))
        .join(matched, ["doc_id", "canonical"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n2"), F.min("canonical").alias("canonical"))
        .filter(F.col("n2") == 1)
    )
    return one_col.join(one_schema, "doc_id").select(
        "doc_id", "col_idx", "canonical"
    )


def roles_kernel(
    classified: DataFrame, inferred_shared: DataFrame | None = None,
    reclassify: bool = False,
) -> DataFrame:
    """Phases 2-3 + the implicit group + (optionally) the re-classify
    promotion as ONE per-document header-grain mapInPandas — the same
    per-doc sequential shape as the reference's interpret loop
    (interpret.py:1335-1618 runs per document by construction; the
    randomized-layout test pins it to a sequential oracle).

    The plan is ONE narrow shuffle on doc_id over columns-per-doc rows.
    Role decisions are per-doc local, and a relational formulation
    (six role tables, each replaying a multi-stage lineage per
    broadcast) measured slower at contract scale.

    ``reclassify`` adds the re-classify branch for measure-less compound
    label columns (interpret.py:1504-1526): a non-shared column with
    only non-group dimensions and no measures, whose dimensions are not
    all covered by existing constants/shared columns, promotes its LAST
    dimension part to a shared column (cell value) and the earlier parts
    to constant dimensions. Promotions accumulate left-to-right, so the
    rule is sequential per document.

    Returns tagged rows (doc_id, kind, col_idx, group_key, canonical,
    value): kind 's' = shared column, 'g' = group, 'm' = group measure
    column, 'd' = group dimension value (group dims + constants,
    already replicated per group, implicit group included)."""
    import pandas as pd

    per_doc = classified.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("col_idx", "pi", "part", "canonical", "type", "role")
        ).alias("parts")
    )
    if inferred_shared is not None:
        inf = inferred_shared.groupBy("doc_id").agg(
            F.collect_list(F.struct("col_idx", "canonical")).alias("inferred")
        )
        per_doc = per_doc.join(inf, "doc_id", "left")
    else:
        per_doc = per_doc.withColumn("inferred", F.lit(None).cast(
            "array<struct<col_idx:int,canonical:string>>"
        ))

    def fn(batches):
        for pdf in batches:
            out: dict = {
                "doc_id": [], "kind": [], "col_idx": [],
                "group_key": [], "canonical": [], "value": [],
            }

            def emit(doc, kind, col=None, gk=None, canonical=None, value=None):
                out["doc_id"].append(doc)
                out["kind"].append(kind)
                out["col_idx"].append(col)
                out["group_key"].append(gk)
                out["canonical"].append(canonical)
                out["value"].append(value)

            for doc, parts, inferred in zip(
                pdf["doc_id"], pdf["parts"], pdf["inferred"]
            ):
                # per-column phase-2 info
                cols: dict = {}
                for p in parts:
                    info = cols.setdefault(
                        p["col_idx"],
                        {"dims": [], "meas": [], "n_match": 0, "max_pi": 0},
                    )
                    info["max_pi"] = max(info["max_pi"], p["pi"])
                    if p["canonical"] is None:
                        continue
                    info["n_match"] += 1
                    if p["role"] == "dim":
                        info["dims"].append(
                            (p["pi"], p["canonical"], p["part"])
                        )
                    else:
                        info["meas"].append((p["pi"], p["canonical"]))
                shared: dict = {}  # col_idx -> canonical
                for col, info in cols.items():
                    if (
                        info["max_pi"] == 0
                        and info["n_match"] >= 1
                        and not info["meas"]
                    ):
                        shared[col] = min(c for _pi, c, _v in info["dims"])
                if inferred is not None and len(inferred):
                    for x in inferred:
                        shared[x["col_idx"]] = x["canonical"]
                # phase 3: group vs constant dimensions (over ALL columns)
                dim_values: dict = {}
                for info in cols.values():
                    for _pi, c, v in info["dims"]:
                        dim_values.setdefault(c, []).append(v)
                group_names = {
                    c for c, vs in dim_values.items() if len(set(vs)) >= 2
                }
                const_dims: dict = {}
                for c, vs in dim_values.items():
                    if c not in group_names and len(set(vs)) == 1 and len(vs) >= 2:
                        const_dims[c] = vs[0]
                # re-classify measure-less compound label columns
                # (interpret.py:1504-1526): sequential left-to-right
                if reclassify:
                    covered = set(const_dims) | set(shared.values())
                    for col in sorted(cols):
                        if col in shared:
                            continue
                        info = cols[col]
                        if info["meas"] or not info["dims"]:
                            continue
                        if any(c in group_names for _pi, c, _v in info["dims"]):
                            continue
                        dd = sorted(info["dims"])
                        if all(c in covered for _pi, c, _v in dd):
                            continue
                        *consts, last = dd
                        shared[col] = last[1]
                        covered.add(last[1])
                        for _pi, c, v in consts:
                            if c not in const_dims:
                                const_dims[c] = v
                                covered.add(c)
                # group building over non-shared columns
                groups: dict = {}  # key tuple -> {'gdims': {...}, 'meas': []}
                for col in sorted(cols):
                    if col in shared:
                        continue
                    info = cols[col]
                    gdims = sorted(
                        {(c, v) for _pi, c, v in info["dims"] if c in group_names}
                    )
                    if not gdims and not info["meas"]:
                        continue
                    key = tuple(gdims)
                    g = groups.setdefault(key, {"gdims": dict(gdims), "meas": []})
                    g["meas"].extend((col, c) for _pi, c in info["meas"])
                # implicit single group (interpret.py:1531-1537)
                if not groups and shared and not group_names:
                    groups[()] = {"gdims": {}, "meas": []}
                # emit
                for col, c in shared.items():
                    emit(doc, "s", col=int(col), canonical=c)
                for key, g in groups.items():
                    gk = "|".join(f"{c}={v}" for c, v in key)
                    emit(doc, "g", gk=gk)
                    for col, c in g["meas"]:
                        emit(doc, "m", col=int(col), gk=gk, canonical=c)
                    dvals = dict(const_dims)
                    dvals.update(g["gdims"])
                    for c, v in dvals.items():
                        emit(doc, "d", gk=gk, canonical=c, value=v)
            yield pd.DataFrame(out)

    return per_doc.mapInPandas(
        fn,
        schema="doc_id string, kind string, col_idx int, group_key string, "
        "canonical string, value string",
    )


def map_deterministic(
    cells: DataFrame, headers: DataFrame, aliases: DataFrame,
    record_cols: list[str], infer_blank: bool = False,
    reclassify: bool = False,
) -> DataFrame:
    """cells(doc_id, row_id, col_idx, cell) + headers(doc_id, col_idx,
    header) -> one record per (data row x unpivot group):
    (doc_id, row_id, group_key, *record_cols) — phase-4 semantics,
    interpret.py:1583-1618. Unpopulated fields are null.

    The header-grain role tables come from :func:`roles_kernel`, one
    narrow doc_id shuffle.

    The header-grain role tables are broadcast (columns-per-doc
    cardinality; for contract-driven extraction this is a few rows per
    layout), and the group-dimension values — constant per (doc, group)
    — are pivoted at HEADER grain and broadcast-joined onto the finished
    records instead of riding the big shuffle as rows. Field precedence
    on canonical collisions mirrors the reference's assignment order
    (interpret.py:1596-1612, later wins): measure > dimension > shared.
    Cell-stream shuffles: the row-id distinct, and the record pivot
    (spine join + groupBy share one 3-key partitioning).

    ``infer_blank`` adds the phase-2.5 blank-header inference
    (:func:`infer_blank_header_shared`) to the shared columns. The
    reference applies it unconditionally; here the caller enables it
    for corpora whose layouts carry blank headers — the skip is the
    single-category-skip analogue (SURVEY §4): the inference is
    vacuous when no layout has a blank header, and skipping it keeps
    the vacuous subtree out of the plan. ``reclassify`` likewise adds
    the sequential label-column promotion (see :func:`roles_kernel`):
    its new shared columns feed the cell joins, its new constants feed
    every group like phase-3 constants."""
    classified = classify_parts(headers, aliases)
    inferred = (
        infer_blank_header_shared(cells, headers, classified, aliases)
        if infer_blank
        else None
    )
    roles = roles_kernel(classified, inferred, reclassify)
    # Materialize the header-grain roles ONCE and truncate lineage
    # (localCheckpoint, not .persist): every downstream slice rides a
    # broadcast, and each broadcast job would otherwise replay the
    # classify+kernel lineage — and even a filled cache drags the full
    # upstream plan through analysis/canonicalization per reference
    # (measured as driver-side gaps with zero jobs running when the
    # headers derive from an extraction pipeline). Header grain keeps
    # this KB-sized per layout catalog; blocks are freed by the
    # ContextCleaner when the consuming DataFrames are dropped.
    roles = roles.localCheckpoint(eager=True)
    k = F.col("kind")
    shared = roles.filter(k == "s").select("doc_id", "col_idx", "canonical")
    groups = roles.filter(k == "g").select("doc_id", "group_key")
    group_measures = roles.filter(k == "m").select(
        "doc_id", "group_key", "col_idx", "canonical"
    )
    group_dims = roles.filter(k == "d").select(
        "doc_id", "group_key", "canonical", "value"
    )
    return _pivot_records(
        cells, shared, groups, group_measures, group_dims, record_cols
    )


def _pivot_records(
    cells: DataFrame, shared: DataFrame, groups: DataFrame,
    group_measures: DataFrame, group_dims: DataFrame,
    record_cols: list[str],
) -> DataFrame:
    """Phase-4 record building from the finished role tables: ONE
    cell-stream shuffle (the 3-key record pivot); the role tables are
    broadcast (header grain) and the per-(doc, group) dimension values
    are pivoted at header grain and broadcast-joined onto the records."""
    rows_u = cells.select("doc_id", "row_id").distinct()
    spine = rows_u.join(F.broadcast(groups), "doc_id")
    mvals = cells.join(
        F.broadcast(group_measures), ["doc_id", "col_idx"]
    ).select(
        "doc_id", "row_id", "group_key", "canonical",
        F.col("cell").alias("value"), F.lit("m").alias("src"),
    )
    svals = (
        cells.join(F.broadcast(shared), ["doc_id", "col_idx"])
        .join(F.broadcast(groups), "doc_id")
        .select(
            "doc_id", "row_id", "group_key", "canonical",
            F.col("cell").alias("value"), F.lit("s").alias("src"),
        )
    )
    piv = (
        spine.join(mvals.union(svals), ["doc_id", "row_id", "group_key"], "left")
        .groupBy("doc_id", "row_id", "group_key")
        .agg(
            *[
                F.max(
                    F.when(
                        (F.col("src") == s) & (F.col("canonical") == c),
                        F.col("value"),
                    )
                ).alias(f"_{s}_{c}")
                for c in record_cols
                for s in ("m", "s")
            ]
        )
    )
    gdim_wide = group_dims.groupBy("doc_id", "group_key").agg(
        *[
            F.max(F.when(F.col("canonical") == c, F.col("value"))).alias(
                f"_d_{c}"
            )
            for c in record_cols
        ]
    )
    return piv.join(F.broadcast(gdim_wide), ["doc_id", "group_key"], "left").select(
        "doc_id",
        "row_id",
        "group_key",
        *[
            F.coalesce(f"_m_{c}", f"_d_{c}", f"_s_{c}").alias(c)
            for c in record_cols
        ],
    )
