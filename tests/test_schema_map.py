"""Schema-mapping operator: three-pass alias resolution semantics
(inline fixtures in the reference's test style, docpact
tests/test_deterministic.py:129-194 analogue)."""

from __future__ import annotations

import pytest

from pdf_ocr_spark.operators.schema_map import alias_table, map_headers

SCHEMA = {
    "port": ["port name"],
    "vessel": ["ship"],
    "tonnage": ["tonnage (mt)"],
    "discharge_rate": ["discharge rate"],
}


@pytest.fixture()
def mapped(spark):
    headers = spark.createDataFrame(
        [
            ("Port",),            # direct (case)
            ('"Ship"',),          # direct (quote strip)
            ("Tonnage   (MT)",),  # direct (ws collapse + paren norm)
            ("ship / tonnage",),  # part: first matching part wins
            ("xx / tonnage",),    # part: non-matching part skipped
            ("Discharge / Rate",),# joined-form fallback
            ("mystery",),         # unmatched
        ],
        "header string",
    )
    rows = map_headers(headers, alias_table(spark, SCHEMA)).collect()
    return {r.header: (r.canonical, r.match_via) for r in rows}


def test_direct_matches(mapped):
    assert mapped["Port"] == ("port", "direct")
    assert mapped['"Ship"'] == ("vessel", "direct")
    assert mapped["Tonnage   (MT)"] == ("tonnage", "direct")


def test_part_matches_first_part_wins(mapped):
    assert mapped["ship / tonnage"] == ("vessel", "part")
    assert mapped["xx / tonnage"] == ("tonnage", "part")


def test_joined_form_fallback(mapped):
    assert mapped["Discharge / Rate"] == ("discharge_rate", "joined")


def test_unmatched_stays_null(mapped):
    assert mapped["mystery"] == (None, None)


def test_merge_semantic_aliases():
    """Additive ontology-alias merge, case-insensitive dedup
    (docpact pipeline.py:194-202)."""
    from pdf_ocr_spark.operators.schema_map import merge_semantic_aliases

    schema = {"port": ["port name"], "vessel": ["ship"]}
    resolved = {
        "port": ["PORT NAME", "harbour", "Harbour", "terminal"],
        "unknown_col": ["ignored"],
    }
    merged = merge_semantic_aliases(schema, resolved)
    # existing alias skipped case-insensitively; new ones append in
    # resolution order with their own case-insensitive dedup
    assert merged["port"] == ["port name", "harbour", "terminal"]
    assert merged["vessel"] == ["ship"]
    # inputs untouched
    assert schema["port"] == ["port name"]


def test_norm_three_spellings_agree(spark):
    """The Spark expr, DuckDB SQL, and Python normalizers are one
    definition in three engines — pin byte-equality on adversarial
    inputs so an edit to one cannot silently drift the others."""
    import duckdb
    from pyspark.sql import functions as F

    from pdf_ocr_spark.operators.schema_map import (
        NORM_SQL,
        norm_header,
        norm_header_py,
    )

    samples = [
        "Port",
        '"Ship"',
        "Tonnage   (MT)",
        "  A  B\t(c)  ",
        'MIXED "Case"(x)',
        "a(b (c",
        "",
        "   ",
        "é É  (ü)",
    ]
    spark_out = [
        r["n"]
        for r in spark.createDataFrame([(s,) for s in samples], "x string")
        .select(norm_header(F.col("x")).alias("n"))
        .collect()
    ]
    duck_out = [
        duckdb.sql(f"SELECT {NORM_SQL.format(x='?')} ", params=[s]).fetchone()[0]
        for s in samples
    ]
    py_out = [norm_header_py(s) for s in samples]
    assert spark_out == py_out == duck_out
