"""spark-submit entry point for the extraction job (north_rule: "packaged
for spark-submit --py-files ... on a multi-executor cluster").

Cluster usage:

    spark-submit \\
      --py-files $(python -m pdf_ocr_spark.plans.package) \\
      -m pdf_ocr_spark.plans.job -- \\
      --input  <parquet dir or Iceberg table> \\
      --output <output dir / table> \\
      --buckets 4096 --chunk-buckets 256

    # or locally:
    python -m pdf_ocr_spark.plans.job --input ... --output ...

The job is resumable: re-running with the same --output skips buckets
already recorded in the progress ledger (extract/checkpoint.py).  It
prints one JSON summary: buckets total and skipped, chunks processed,
and the docs, spans in, spans out and dropped spans observed in the
chunks this run wrote.  On a cluster, size --buckets so one bucket ~= a
few GB of input.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="resumable extraction job")
    p.add_argument("--input", required=True, help="input table/path")
    p.add_argument("--output", required=True, help="output dir (data + ledger)")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--chunk-buckets", type=int, default=16)
    p.add_argument("--big-doc-threshold", type=int, default=None)
    p.add_argument("--cpus", default=None, help="local[N] override")
    p.add_argument("--iceberg", action="store_true",
                   help="read --input as an Iceberg table name")
    return p.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    # imports deferred: on a cluster this module is inside the --py-files
    # zip and the SparkSession must exist before package-relative imports
    # resolve on executors
    from pdf_ocr_spark.extract.checkpoint import run_resumable
    from pdf_ocr_spark.extract.pipeline import BIG_DOC_THRESHOLD
    from pdf_ocr_spark.session import get_spark
    from pdf_ocr_spark.sources.catalog import TableIO

    spark = get_spark(app="extract-job", cpus=args.cpus, ship_package=True)
    io = TableIO(spark, use_iceberg=args.iceberg or None)
    inp = io.read(args.input)

    t0 = time.perf_counter()
    summary = run_resumable(
        spark,
        inp,
        args.output,
        n_buckets=args.buckets,
        chunk_buckets=args.chunk_buckets,
        big_doc_threshold=args.big_doc_threshold or BIG_DOC_THRESHOLD,
    )
    summary["wall_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(summary))
    spark.stop()
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
