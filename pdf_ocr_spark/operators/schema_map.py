"""Header -> canonical-schema mapping as broadcast joins (SURVEY.md §2.3).

Re-expresses the reference's deterministic alias resolution (docpact
interpret.py:1278-1331: normalized hash lookup, ' / '-part matching with
space-joined fallback; normalization interpret.py:987-1004) as DataFrame
joins against a broadcast alias dictionary:

  pass 1  norm(header) equi-join alias            (hash join, broadcast)
  pass 2  unmatched headers split on ' / ', each part joined, a header
          maps iff >= 1 part resolves (part-wise match)
  pass 3  space-joined form of the parts (the reference's fallback when
          no part matched)

Every pass is a broadcast hash equi-join -- the alias dictionary is tiny
(a contract's worth of aliases) while the header stream can be one row
per extracted table column across 10^12 documents.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F


def norm_header(c):
    """Normalization (interpret.py:987-1004 semantics): lower, strip
    double quotes, collapse whitespace, normalize space-before-paren."""
    c = F.lower(c)
    c = F.regexp_replace(c, '"', "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"\s*\(", " (")
    return F.trim(c)


NORM_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower({x}), "
    "'\"', '', 'g'), '\\s+', ' ', 'g'), '\\s*\\(', ' (', 'g'))"
)


def norm_header_py(s: str) -> str:
    """Driver-side (plain Python) twin of :func:`norm_header` for
    normalizing contract aliases before they ship in a broadcast table.
    The three spellings — Spark expr, DuckDB SQL, Python — live side by
    side HERE so an edit to one is an edit to all; equivalence is
    pinned by tests/test_schema_map.py."""
    s = s.lower().replace('"', "")
    s = re.sub(r"\s+", " ", s)
    s = re.sub(r"\s*\(", " (", s)
    return s.strip()


def merge_semantic_aliases(schema: dict, resolved: dict) -> dict:
    """Additive semantic-alias enrichment (docpact pipeline.py:194-202 +
    semantics.py:63-65 semantics): ontology-resolved aliases merge into
    the contract schema case-insensitively — an alias already present in
    any case is skipped, new ones append in resolution order. Driver-side
    contract prep, applied before :func:`alias_table` builds the
    broadcast dictionary (the ontology adapter itself is out of scope —
    the reference resolves it offline into a SemanticContext dict).

    schema/resolved: {canonical: [alias, ...]} -> new merged dict (inputs
    untouched)."""
    out: dict = {}
    for canonical, aliases in schema.items():
        merged = list(aliases)
        seen = {a.lower() for a in merged}
        for alias in resolved.get(canonical, []):
            if alias.lower() not in seen:
                merged.append(alias)
                seen.add(alias.lower())
        out[canonical] = merged
    return out


def alias_table(spark: SparkSession, schema: dict) -> DataFrame:
    """schema: {canonical: [alias, ...]} -> (canonical, norm_alias) rows.
    The canonical name itself is always an alias."""
    rows = []
    for canonical, aliases in schema.items():
        for a in {canonical, *aliases}:
            rows.append((canonical, a))
    df = spark.createDataFrame(rows, "canonical string, alias string")
    return df.select(
        "canonical", norm_header(F.col("alias")).alias("norm_alias")
    ).distinct()


def map_headers(headers: DataFrame, aliases: DataFrame) -> DataFrame:
    """headers(header) -> (header, canonical, match_via).

    match_via in {'direct', 'part', 'joined', null}; unmatched headers
    survive with canonical = null (the reference hands those to its LLM
    fallback -- out of the deterministic path, so they stay unmapped).
    """
    al = F.broadcast(aliases)
    h = headers.select(
        "header", norm_header(F.col("header")).alias("norm")
    ).distinct()

    direct = h.join(al, h.norm == al.norm_alias, "left").select(
        "header",
        "norm",
        F.col("canonical").alias("c1"),
    )

    un1 = direct.filter(F.col("c1").isNull()).select("header", "norm")
    parts = un1.select(
        "header",
        F.posexplode(F.split("norm", r" / ")).alias("pi", "part"),
    )
    part_hit = (
        parts.join(al, parts.part == al.norm_alias, "left")
        .filter(F.col("canonical").isNotNull())
        .groupBy("header")
        .agg(F.min_by("canonical", "pi").alias("c2"))
    )

    un2 = un1.join(part_hit, "header", "left_anti").select("header", "norm")
    joined = un2.select(
        "header", F.regexp_replace("norm", r" / ", " ").alias("jn")
    )
    joined_hit = (
        joined.join(al, joined.jn == al.norm_alias, "left")
        .filter(F.col("canonical").isNotNull())
        .select("header", F.col("canonical").alias("c3"))
    )

    out = (
        direct.select("header", "c1")
        .join(part_hit, "header", "left")
        .join(joined_hit, "header", "left")
    )
    return out.select(
        "header",
        F.coalesce("c1", "c2", "c3").alias("canonical"),
        F.when(F.col("c1").isNotNull(), "direct")
        .when(F.col("c2").isNotNull(), "part")
        .when(F.col("c3").isNotNull(), "joined")
        .alias("match_via"),
    )
