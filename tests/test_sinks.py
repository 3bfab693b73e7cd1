"""CSV/TSV/Parquet sink round-trips (sources/sinks.py —
docpact serialize.py:604-750 semantics) and the table-format layer
(sources/catalog.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_ocr_spark.sources.catalog import TableIO, iceberg_available
from pdf_ocr_spark.sources.sinks import write_csv, write_parquet, write_tsv


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b,c", 2.5, "x"), (3, 'q"t', 3.5, None)],
        "id long, name string, v double, opt string",
    )


def test_csv_roundtrip(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "csv_out")
    write_csv(df, p)
    back = (
        spark.read.option("header", True)
        .schema(df.schema)
        .csv(p)
    )
    assert back.count() == 3
    rows = {r["id"]: r for r in back.collect()}
    assert rows[2]["name"] == "b,c"  # delimiter inside quoted field
    assert rows[1]["opt"] is None  # null -> empty -> null round-trip


def test_tsv_roundtrip(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "tsv_out")
    write_tsv(df, p)
    back = (
        spark.read.option("header", True)
        .option("sep", "\t")
        .schema(df.schema)
        .csv(p)
    )
    assert {r["name"] for r in back.collect()} == {"a", "b,c", 'q"t'}


def test_parquet_partitioned(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "pq_out")
    write_parquet(df, p, partition_by=["name"])
    back = spark.read.parquet(p)
    assert back.count() == 3
    # partition pruning applies on the partition column
    pruned = back.filter(back["name"] == "a")
    assert pruned.count() == 1


def test_pandas_polars_sinks(spark):
    import pytest

    from pdf_ocr_spark.sources.sinks import to_pandas, to_polars

    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    pdf = to_pandas(df)
    assert list(pdf.columns) == ["id", "v"] and len(pdf) == 3
    try:
        import polars  # noqa: F401

        assert to_polars(df).shape == (3, 2)
    except ImportError:
        with pytest.raises(NotImplementedError):
            to_polars(df)


def test_tableio_parquet_fallback_verbs(spark, tmp_path):
    """Without Iceberg jars TableIO must auto-fall-back and the
    three storage verbs must behave identically to the Iceberg semantics."""
    assert iceberg_available(spark) is False
    io = TableIO(spark)
    assert io.iceberg is False

    tgt = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, bucket int"
    )
    io.create_or_replace(df, tgt, partition_col="bucket")
    assert io.read(tgt).count() == 30

    io.append(
        df.filter("bucket = 0").withColumn("id", F.col("id") + 100),
        tgt,
        partition_col="bucket",
    )
    assert io.read(tgt).count() == 40

    # overwrite only bucket 1's partition; others untouched
    repl = spark.createDataFrame([(999, 1)], "id long, bucket int")
    io.overwrite_partitions(repl, tgt, "bucket")
    out = io.read(tgt)
    assert out.filter("bucket = 1").count() == 1
    assert out.filter("bucket = 0").count() == 20
    assert out.filter("bucket = 2").count() == 10
