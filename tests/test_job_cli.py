"""spark-submit job entry point (plans/job.py): arg parsing + an
end-to-end resumable run through the CLI code path."""

from __future__ import annotations

import json

from pdf_ocr_spark.plans.job import parse_args
from pdf_ocr_spark.plans.package import build_pyfiles_zip


def test_parse_args_defaults():
    a = parse_args(["--input", "/in", "--output", "/out"])
    assert a.buckets == 64 and a.chunk_buckets == 16
    assert a.big_doc_threshold is None and a.iceberg is False


def test_pyfiles_zip_contains_package(tmp_path):
    import zipfile

    z = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(z).namelist()
    assert "pdf_ocr_spark/extract/pipeline.py" in names
    assert "pdf_ocr_spark/plans/job.py" in names
    assert not any("__pycache__" in n for n in names)


def test_job_end_to_end_and_resume(spark, tmp_path):
    """Drive run_resumable exactly as the CLI does, kill mid-run, resume,
    and check the resumed run skips completed buckets."""
    import pytest

    from pdf_ocr_spark.extract.checkpoint import (
        read_ledger,
        read_output,
        run_resumable,
    )
    from pdf_ocr_spark.sources.synthetic import synthetic_corpus

    out = str(tmp_path / "out")
    inp = synthetic_corpus(spark, 40, skew_docs=1)

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable(
            spark, inp, out, n_buckets=8, chunk_buckets=2,
            fail_after_chunks=2,
        )
    done_before = {b for r in read_ledger(spark, out) for b in r.buckets}
    assert 0 < len(done_before) < 8
    docs_before = sum(
        r.docs for r in spark.read.parquet(f"{out}/_progress").collect()
    )

    summary = run_resumable(spark, inp, out, n_buckets=8, chunk_buckets=2)
    assert summary["buckets_skipped"] == len(done_before)
    assert read_output(spark, out).count() == 41
    # the killed run's ledger and the resumed run's summary count every
    # doc once
    assert docs_before + summary["docs"] == 41
    # json-serializable summary (the CLI prints it)
    json.dumps(summary)


def test_spark_submit_pyfiles_subprocess(spark, tmp_path):
    """The literal north-rule deployment: a REAL ``spark-submit
    --py-files pkg.zip job.py`` subprocess, with PYTHONPATH stripped
    so the package can ONLY come from the zip, must run the resumable
    extraction end-to-end and emit its JSON summary."""
    import json as _json
    import os
    import shutil
    import subprocess
    import sys

    from pdf_ocr_spark.plans import job as job_mod
    from pdf_ocr_spark.sources.synthetic import write_corpus_table

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    write_corpus_table(spark, in_dir, n_docs=20, skew_docs=1)

    z = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    # the driver script is a COPY outside the repo: imports must
    # resolve through --py-files alone
    script = str(tmp_path / "job_main.py")
    shutil.copyfile(job_mod.__file__, script)

    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    r = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", z,
            script,
            "--input", in_dir,
            "--output", out_dir,
            "--buckets", "4",
            "--chunk-buckets", "2",
            "--cpus", "4",
        ],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = _json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert summary["buckets_total"] == 4
    assert summary["buckets_skipped"] == 0
    assert summary["docs"] == 21
    out = spark.read.parquet(out_dir)
    assert out.select("doc_id").distinct().count() == 21
