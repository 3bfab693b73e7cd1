"""Spark schemas for the extraction pipeline (FIXTURES.md contracts)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

METRICS_STRUCT = T.StructType(
    [
        T.StructField("spans_in", T.IntegerType(), False),
        T.StructField("spans_out", T.IntegerType(), False),
        T.StructField("dropped", T.IntegerType(), False),
        T.StructField(
            "drop_reasons", T.MapType(T.StringType(), T.IntegerType()), False
        ),
    ]
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
        T.StructField("metrics", METRICS_STRUCT, False),
    ]
)

# the input fingerprint a snapshot's rows carry (checkpoint.with_fp)
FP_FIELD = T.StructField("fp", T.LongType(), False)


def span_dicts(spans: list[tuple]) -> list[dict]:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": int(o)}
        for k, t, m, o in spans
    ]
