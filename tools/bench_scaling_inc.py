#!/usr/bin/env python
"""N->4N scaling study for the ROUND-5 operational paths: incremental
re-extraction (extract/incremental.py) + small-file compaction
(extract/compact.py) — the round-4 verdict asked for a scaling reading
on the new pipeline code (the standing study covers full extraction
only).

Protocol = tools/bench_scaling.py verbatim (sandbox proxy for the
north rule's two-cluster-size criterion): identical job + input at
taskset-confined local[4] (N) and local[16] (4N), fresh JVM per run,
interleaved A/B rounds so both levels see the same co-tenant weather,
fastest run per level scored.  Efficiency =
(docs/sec @ 4N) / (4 x docs/sec @ N); target >= 0.8.

The measured job is a REFRESH-WITH-COMPACTION over a mutated corpus:
  untimed  seed V1 output (cold-start run_incremental — also the
           warm-up: full extraction exercises every code path)
  timed    run_incremental(V2, prev=V1): fingerprint scan over the
           FULL corpus, diff join against V1's fp column, kernels over
           the ~25% changed slice, carried-forward join, bucketed write
           and ledger row
           + compact_output(files_per_bucket=1): full-output rewrite
Mutation is deterministic from xxhash64(doc_id): ~25% changed (one
appended span), ~3% deleted, ~3% added — so the timed region mixes
corpus-grain scans/joins with |changed|-grain kernel work, the
production refresh shape.

Usage:  python tools/bench_scaling_inc.py [n_docs]
        python tools/bench_scaling_inc.py --worker <cpus> <corpus_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = 300000


def worker(cpus: int, corpus_dir: str) -> None:
    from pyspark.sql import functions as F

    from pdf_ocr_spark.extract.compact import compact_output
    from pdf_ocr_spark.extract.incremental import run_incremental
    from pdf_ocr_spark.session import get_spark

    out1 = f"/tmp/scaling_inc_v1_{cpus}"
    out2 = f"/tmp/scaling_inc_v2_{cpus}"
    for d in (out1, out2):
        shutil.rmtree(d, ignore_errors=True)
    spark = get_spark(
        cpus=cpus,
        # data-sized, IDENTICAL at both levels (bench_scaling.py note)
        shuffle_partitions=64,
        extra_conf={
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm"
            ".version": "2",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    inp = spark.read.parquet(corpus_dir).select("doc_id", "spans")
    h = F.pmod(F.xxhash64("doc_id"), F.lit(100))
    changed, deleted, added = h < 25, (h >= 25) & (h < 28), (h >= 28) & (
        h < 31
    )
    mut = F.expr(
        "concat(spans, array(named_struct("
        "'kind', 'text', 'text', 'refreshed revision note',"
        " 'media_ref', '', 'offset', size(spans))))"
    )
    v1 = inp.filter(~added)
    v2 = inp.filter(~deleted).withColumn(
        "spans", F.when(changed, mut).otherwise(F.col("spans"))
    )

    # untimed seed (doubles as the steady-state warm-up: full
    # extraction of V1 JITs the kernels and spawns the worker pool)
    run_incremental(spark, v1, out1, n_buckets=64)
    n2 = v2.count()

    t0 = time.perf_counter()
    m = run_incremental(spark, v2, out2, prev_dir=out1, n_buckets=64)
    c = compact_output(spark, out2, files_per_bucket=1)
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "cpus": cpus,
                "docs": n2,
                "reextracted": m["n_reextracted"],
                "carried": m["n_carried"],
                "deleted": m["n_deleted"],
                "files_before": c["files_before"],
                "files_after": c["files_after"],
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n2 / wall, 2),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3])
        return

    from tools.bench_scaling import CORPUS, _taskset

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS
    from pdf_ocr_spark.sources.synthetic import corpus_fingerprint

    marker = f"{CORPUS}/_FINGERPRINT_{n_docs}_{corpus_fingerprint()}"
    if not os.path.exists(marker):
        from pdf_ocr_spark.session import get_spark
        from pdf_ocr_spark.sources.synthetic import write_corpus_table

        spark = get_spark(cpus=32, shuffle_partitions=32)
        spark.sparkContext.setLogLevel("ERROR")
        write_corpus_table(
            spark,
            CORPUS,
            n_docs=n_docs,
            skew_docs=max(1, n_docs // 1000),
            partitions=256,
        )
        spark.stop()
        open(marker, "w").close()

    runs: dict[int, list] = {4: [], 16: []}
    for _ in range(3):
        for cpus in (4, 16):
            out = subprocess.run(
                _taskset(cpus)
                + [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--worker",
                    str(cpus),
                    CORPUS,
                ],
                capture_output=True,
                text=True,
                cwd=REPO,
                timeout=1800,
            )
            line = [
                ln for ln in out.stdout.splitlines() if ln.startswith("{")
            ][-1]
            runs[cpus].append(json.loads(line))

    results = {}
    for cpus, rr in runs.items():
        best = min(rr, key=lambda r: r["wall_sec"])
        best = dict(best)
        best["all_runs_sec"] = [r["wall_sec"] for r in rr]
        results[cpus] = best
    eff = results[16]["docs_per_sec"] / (4 * results[4]["docs_per_sec"])
    print(
        json.dumps(
            {
                "job": "incremental_refresh_plus_compaction",
                "n": results[4],
                "four_n": results[16],
                "efficiency": round(eff, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
