"""Spark entry point: ``entry(spark)`` runs the flagship main-content
extraction over the sf0.001 documents table."""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over the sf0.001 documents table
    (texts → interleaved spans → extraction pipeline → exploded spans)."""
    from pdf_ocr_spark.queries.extract_q import flagship

    return flagship(spark, "/root/testdata/sf0.001")
