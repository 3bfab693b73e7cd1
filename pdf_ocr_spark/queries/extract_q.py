"""Extraction entry points over the sf testdata tables (rows-only:
kernels are not SQL-expressible).

The flagship derives an interleaved span table from the REAL documents
parquet (sentences → text spans + deterministic media refs, mixed-corpus
shape), runs the full extraction pipeline, and explodes the ordered
output spans. ``_X16_CONTRACT`` is the typed contract the contract
pipeline runs over the synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..extract.pipeline import extract


def _doc_spans_from_documents(spark, sf):
    """documents(text) -> (doc_id, spans) in mixed-corpus shape: one text
    span per sentence-ish chunk, a media span every 4th chunk, sequence
    offsets. Pure column ops (split / posexplode / collect_list)."""
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.concat(F.lit("mixed-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.split(F.col("text"), " ").alias("words"),
    )
    # chunk words into groups of 8 -> one span per chunk
    chunks = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, int(ceil(size(words)/8.0)) - 1),"
            " i -> concat_ws(' ', slice(words, i*8 + 1, 8)))"
        ).alias("chunks"),
    )
    spans = chunks.select(
        "doc_id",
        F.expr(
            "transform(chunks, (c, i) -> struct("
            " case when i % 4 = 3 then 'media' else 'text' end as kind,"
            " case when i % 4 = 3 then '' else c end as text,"
            " case when i % 4 = 3 then concat('img://', doc_id, '/', i) else '' end as media_ref,"
            " i as offset))"
        ).alias("spans"),
    )
    # prepend the required title field span (mixed contract)
    return spans.select(
        "doc_id",
        F.expr(
            "transform(concat(array(struct('text' as kind,"
            " concat('title: doc ', doc_id) as text, '' as media_ref,"
            " 0 as offset)), spans), (s, i) -> struct(s.kind as kind,"
            " s.text as text, s.media_ref as media_ref, i as offset))"
        ).alias("spans"),
    )


def flagship(spark, sf):
    """Extract the documents table; one row per output span, carrying
    the doc's spans_in / spans_out / dropped metrics."""
    inp = _doc_spans_from_documents(spark, sf)
    out = extract(inp)
    return out.select(
        "doc_id",
        F.col("metrics.spans_in").alias("spans_in"),
        F.col("metrics.spans_out").alias("spans_out"),
        F.col("metrics.dropped").alias("dropped"),
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        "spans_in",
        "spans_out",
        "dropped",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


# The shipping-report contract (port / vessel / tonnage / eta / cargo /
# grade) that run_contract_pipeline maps the synthetic corpus onto.
_X16_CONTRACT = {
    "schema": {
        "port": ["port"],
        "vessel": ["vessel"],
        "tonnage": ["tonnage", "tonnage (mt)"],
        "eta": ["eta"],
        "cargo": ["cargo"],
        "grade": ["grade"],
    },
    "types": {
        "port": "string", "vessel": "string", "tonnage": "float",
        "eta": "date", "cargo": "string", "grade": "string",
    },
    "rules": {
        "tonnage": {"pattern": r"[\d,]+"},
        "port": {"not_null": True},
    },
}
