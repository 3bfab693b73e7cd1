"""Distributed synthetic corpus source.

Builds the interleaved-doc input DataFrame WITHOUT materializing anything
on the driver: ``spark.range`` supplies doc indices and the span arrays
are generated inside a ``mapInPandas`` batch from the pure
``corpus.generate_doc(doc_id, seed)`` function — so the same code scales
from 100 docs (pytest) to 10^12 (each executor generates only its split).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..corpus import DEFAULT_SEED, generate_doc
from ..extract.schema import INPUT_SCHEMA, span_dicts

_CORPORA = ("pdfish", "html", "mixed", "grid", "boxes", "flow")


def _gen_batch(seed: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            spans = [
                span_dicts(generate_doc(doc_id, seed)) for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": spans})

    return gen


def synthetic_corpus(
    spark: SparkSession,
    n_docs: int,
    skew_docs: int = 0,
    seed: int = DEFAULT_SEED,
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id, spans) DataFrame: round-robin pdfish/html/mixed/grid/
    boxes/flow docs plus ``skew_docs`` mega documents (FIXTURES.md scale
    tiers)."""
    n_corp = len(_CORPORA)
    base = (
        spark.range(n_docs)
        .withColumn(
            "doc_id",
            F.concat(
                F.element_at(
                    F.array(*[F.lit(c) for c in _CORPORA]),
                    (F.col("id") % n_corp + 1).cast("int"),
                ),
                F.lit("-"),
                F.lpad(F.col("id").cast("string"), 6, "0"),
            ),
        )
        .select("doc_id")
    )
    if skew_docs:
        mega = (
            spark.range(skew_docs)
            .withColumn(
                "doc_id",
                F.concat(F.lit("mega-"), F.lpad(F.col("id").cast("string"), 6, "0")),
            )
            .select("doc_id")
        )
        base = base.unionByName(mega)
    if partitions:
        base = base.repartition(partitions, "doc_id")
    return base.mapInPandas(_gen_batch(seed), schema=INPUT_SCHEMA)


def corpus_fingerprint() -> str:
    """Short hash of the generator sources (corpus.py, this module, the
    span schema). Staged-corpus cache paths embed it so editing the
    generator invalidates any /tmp staging instead of silently reusing
    stale pre-change bytes."""
    import hashlib
    import pathlib
    import sys

    from .. import corpus as _corpus
    from ..extract import schema as _schema

    h = hashlib.md5()
    for mod in (_corpus, _schema, sys.modules[__name__]):
        h.update(pathlib.Path(mod.__file__).read_bytes())
    return h.hexdigest()[:10]


def write_corpus_table(
    spark: SparkSession,
    path: str,
    n_docs: int,
    skew_docs: int = 0,
    seed: int = DEFAULT_SEED,
    partitions: int | None = None,
) -> None:
    """Materialize the corpus as the engine's input table (Parquet layout;
    Iceberg via sources.catalog when jars are available).

    The span count is materialized as ``n_spans`` at ingest. When the
    caller keeps the column (``run_resumable`` and ``run_incremental``
    do), the mega branch's ``n_spans > threshold`` reaches the parquet
    scan as a pushed filter, so row-group min/max stats skip the
    small-doc groups; a computed ``size(spans)`` never pushes down
    (extract/pipeline.py). The small branch still reads every row."""
    df = synthetic_corpus(spark, n_docs, skew_docs, seed, partitions)
    df = df.withColumn("n_spans", F.size("spans"))
    df.write.mode("overwrite").parquet(path)
