"""SparkSession factory tuned for the extraction engine.

Local testing uses ``local[N]``; on a real cluster the same settings
apply (AQE, Arrow, UTC) and ``shuffle_partitions`` should be sized to
2-3x total cores. Iceberg catalog config is attached when the runtime
jars are present (sources.catalog); tests fall back to Parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_GB = 24


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap sized to the host: min(24g, half of MemTotal), whole
    gigabytes, at least 1g. A host without ``meminfo`` gets 24g."""
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1])
                for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEM_GB, kb // 2 // 1024**2))}g"


def get_spark(
    app: str = "spark-docextract",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship_package: bool = False,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or max(int(cpus) if str(cpus).isdigit() else 32, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ship_package:
        # executors don't inherit driver sys.path — ship the engine the
        # same way spark-submit --py-files would (plans.package)
        from .plans.package import build_pyfiles_zip

        spark.sparkContext.addPyFile(build_pyfiles_zip())
    return spark
