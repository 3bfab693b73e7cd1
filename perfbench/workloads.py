"""The benchmark's batch workloads over the engine's public entry points.

Each workload stages its inputs with ``sources.synthetic.write_corpus_table``
from the run's seed (set-up), then runs one batch job at a time (timed),
and checks every job's committed output outside the timed region against
``pdf_ocr_spark.oracle``.  ``run_layers()`` is the traced run's sequence:
each layer's public function called on its own over the same staged inputs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_ocr_spark import oracle
from pdf_ocr_spark.corpus import corpus_of
from pdf_ocr_spark.extract.checkpoint import read_output, run_resumable
from pdf_ocr_spark.extract.compact import compact_output
from pdf_ocr_spark.extract.incremental import input_fingerprint, run_incremental
from pdf_ocr_spark.extract.pipeline import extract
from pdf_ocr_spark.plans.contract_pipeline import run_contract_pipeline
from pdf_ocr_spark.queries.extract_q import _X16_CONTRACT
from pdf_ocr_spark.sources.synthetic import write_corpus_table

import procfs
from status import StatusReader, Window
from tracing import Tracer

KERNEL_CORPORA = ("pdfish", "html", "mixed", "grid", "boxes", "flow", "mega")
# the oracle sample: docs with xxhash64(doc_id, seed) % SAMPLE_MODULUS == 0
SAMPLE_MODULUS = 100
WARMUP_JOBS = 1
# repeats of the in-process kernel timing; the median is reported
KERNEL_REPS = 3
# refresh's delta, in percent of the documents, by xxhash64(doc_id, seed) % 100
ADD_PCT = DEL_PCT = CHG_PCT = 3
# added and changed documents always in refresh's oracle sample, per class
CHECK_EACH = 10
# the traced run's mega-bearing table: small docs plus mega docs (about
# 8.2k spans each, above BIG_DOC_THRESHOLD), which carry most of its spans
MEGA_SMALL_DOCS = 1000
MEGA_DOCS = 12


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    docs: int  # this workload's input size (settings["workloads"])
    settings: dict
    sampler: procfs.TreeSampler
    status: StatusReader
    tracer: Tracer

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Check:
    checked: int = 0
    matched: int = 0
    problems: list = field(default_factory=list)

    @classmethod
    def sum(cls, checks: list["Check"]) -> "Check":
        return cls(
            sum(c.checked for c in checks),
            sum(c.matched for c in checks),
            [p for c in checks for p in c.problems],
        )


def dir_bytes(path: str) -> int:
    """Bytes of a table on disk, without the local file system's .crc
    side files."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files if not f.endswith(".crc")
        )
    return total


def arrow_docs(tbl) -> dict[str, list[tuple]]:
    """Arrow table (doc_id, spans) -> {doc_id: [(kind, text, media_ref,
    offset), ...]} in array order."""
    ids = tbl.column("doc_id").to_pylist()
    la = tbl.column("spans").combine_chunks()
    flat = la.flatten()
    cols = [flat.field(i).to_pylist() for i in range(4)]
    offs = la.offsets.to_pylist()
    spans = list(zip(*cols))
    return {d: spans[offs[i]:offs[i + 1]] for i, d in enumerate(ids)}


def seq(spans: list[tuple]) -> list[tuple]:
    """The compared form: (kind, text, media_ref) in order."""
    return [(k, t, m) for k, t, m, _ in spans]


def sample_ids(df: DataFrame, seed: int) -> list[str]:
    h = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(SAMPLE_MODULUS))
    return sorted(r.doc_id for r in df.filter(h == 0).select("doc_id").collect())


def read_docs(df: DataFrame, ids: list[str]) -> dict[str, list[tuple]]:
    return arrow_docs(
        df.filter(F.col("doc_id").isin(ids)).select("doc_id", "spans").toArrow()
    )


def expected(inputs: dict[str, list[tuple]]) -> dict[str, tuple[list, dict]]:
    return {d: oracle.extract_document(d, s) for d, s in inputs.items()}


def compare(got: dict[str, list[tuple]], want: dict[str, tuple[list, dict]],
            what: str) -> Check:
    c = Check()
    for doc_id, (spans, _) in want.items():
        c.checked += 1
        if doc_id in got and seq(got[doc_id]) == seq(spans):
            c.matched += 1
        else:
            c.problems.append(f"{what}: {doc_id} differs from the oracle")
    return c


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def resumable(wl: "Workload", out_dir: str) -> dict:
    """``run_resumable`` over the workload's input as plans/job.py calls it
    (no salting, the default threshold), with the settings' bucket counts."""
    s = wl.ctx.settings["resumable"]
    return run_resumable(
        wl.spark, wl.input_df(), out_dir,
        n_buckets=s["buckets"], chunk_buckets=s["chunk_buckets"],
    )


class Workload:
    """Set-up, one timed job and its check."""

    name = ""
    job_span = ""  # the traced job's span name

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.n_jobs = 0

    # -- staging ---------------------------------------------------------
    def stage_table(self, name: str, n_docs: int, skew_docs: int = 0) -> str:
        path = self.ctx.path(name)
        write_corpus_table(
            self.spark, path, n_docs, skew_docs=skew_docs, seed=self.ctx.seed,
            partitions=self.ctx.settings["input_files"],
        )
        return path

    def stage(self, tag: str) -> None:
        """Write the inputs under names ending in ``tag``; sets
        ``self.input_path`` and ``self.docs``."""
        raise NotImplementedError

    def seed_state(self, tag: str) -> None:
        """Set-up after staging (the refresh's previous output)."""

    def prepare_check(self) -> None:
        """Outside the timed region: choose the sample and run the oracle."""
        inp = self.input_df()
        ids = sorted(set(sample_ids(inp, self.ctx.seed)) | set(self.extra_sample_ids()))
        self.sample_inputs = read_docs(inp, ids)
        self.want = expected(self.sample_inputs)

    def extra_sample_ids(self) -> list[str]:
        return []

    def input_df(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path)

    # -- timed job ---------------------------------------------------------
    def job(self) -> dict:
        """Run one job into a fresh directory; return {"out_dir", ...}."""
        raise NotImplementedError

    def check(self, res: dict) -> Check:
        raise NotImplementedError

    def fresh_dir(self) -> str:
        self.n_jobs += 1
        return self.ctx.path(f"out{self.n_jobs}")


# ---------------------------------------------------------------- extract


class Extract(Workload):
    """The spark-submit job's path: ``run_resumable`` as plans/job.py calls
    it, over the six small-document corpora."""

    name = "extract"
    job_span = "checkpoint"

    def stage(self, tag: str) -> None:
        self.input_path = self.stage_table(f"input{tag}", self.ctx.docs)
        self.docs = self.ctx.docs

    def job(self) -> dict:
        out = self.fresh_dir()
        resumable(self, out)
        return {"out_dir": out}

    def check(self, res: dict) -> Check:
        out = read_output(self.spark, res["out_dir"])
        c = compare(read_docs(out, list(self.want)), self.want, self.name)
        n = out.count()
        if n != self.docs:
            c.problems.append(f"{self.name}: {n} output docs for {self.docs} input docs")
        return c


# ---------------------------------------------------------------- refresh


class Refresh(Workload):
    """``run_incremental(V2, prev_dir=V1)`` then ``compact_output``.

    V1 and V2 come from one staged corpus T (the run's seed).  By
    ``xxhash64(doc_id, seed) % 100``: docs below ``ADD_PCT`` are held out
    of V1 and appear in V2 (added); the next ``DEL_PCT`` are in V1 only
    (deleted); of the next ``CHG_PCT``, every doc with at least one span
    loses its last span in V2 (changed)."""

    name = "refresh"
    job_span = "refresh"

    def stage(self, tag: str) -> None:
        seed, spark = self.ctx.seed, self.spark
        t = spark.read.parquet(self.stage_table(f"t{tag}", self.ctx.docs))
        t = t.withColumn("h", F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100)))
        h = F.col("h")
        added = h < ADD_PCT
        deleted = (h >= ADD_PCT) & (h < ADD_PCT + DEL_PCT)
        changed = (
            (h >= ADD_PCT + DEL_PCT) & (h < ADD_PCT + DEL_PCT + CHG_PCT)
            & (F.size("spans") > 0)
        )
        v1 = t.filter(~added).drop("h")
        v2 = (
            t.filter(~deleted)
            .withColumn("spans", F.when(
                changed, F.slice("spans", 1, F.size("spans") - 1)
            ).otherwise(F.col("spans")))
            .withColumn("n_spans", F.size("spans"))
            .drop("h")
        )
        files = self.ctx.settings["input_files"]
        self.v1_path, self.input_path = self.ctx.path(f"v1{tag}"), self.ctx.path(f"v2{tag}")
        v1.repartition(files, "doc_id").write.parquet(self.v1_path)
        v2.repartition(files, "doc_id").write.parquet(self.input_path)
        delta = t.filter(added | changed).select("doc_id", added.alias("added")).collect()
        self.added_ids = sorted(r.doc_id for r in delta if r.added)
        self.changed_ids = sorted(r.doc_id for r in delta if not r.added)
        self.n_deleted = t.filter(deleted).count()
        self.docs = self.ctx.docs - self.n_deleted

    def seed_state(self, tag: str) -> None:
        self.prev_dir = self.ctx.path(f"v1_out{tag}")
        run_incremental(
            self.spark, self.spark.read.parquet(self.v1_path), self.prev_dir)

    def extra_sample_ids(self) -> list[str]:
        return self.changed_ids[:CHECK_EACH] + self.added_ids[:CHECK_EACH]

    def refresh(self, out_dir: str) -> dict:
        return run_incremental(self.spark, self.input_df(), out_dir, prev_dir=self.prev_dir)

    def job(self) -> dict:
        out = self.fresh_dir()
        stats = self.refresh(out)
        compact_output(self.spark, out)
        return {"out_dir": out, "stats": stats}

    def expected_stats(self) -> dict:
        delta = len(self.added_ids) + len(self.changed_ids)
        return {
            "n_total": self.docs,
            "n_reextracted": delta,
            "n_carried": self.docs - delta,
            "n_deleted": self.n_deleted,
        }

    def check(self, res: dict) -> Check:
        out = read_output(self.spark, res["out_dir"])
        c = compare(read_docs(out, list(self.want)), self.want, self.name)
        want = self.expected_stats()
        if res["stats"] != want:
            c.problems.append(f"refresh: stats {res['stats']} != mutation {want}")
        n = out.count()
        if n != self.docs:
            c.problems.append(f"refresh: {n} output docs for {self.docs} input docs")
        return c


WORKLOADS = {w.name: w for w in (Extract, Refresh)}


# ------------------------------------------------------- traced sequence


def kernel_costs(by_corpus: dict[str, dict[str, list[tuple]]]) -> dict:
    """In-process kernel cost per corpus through ``oracle.extract_document``
    over {corpus: {doc_id: spans}}."""
    out: dict[str, float] = {}
    spans_in = spans_out = dropped = 0
    for c, docs in by_corpus.items():
        n_spans = sum(len(s) for s in docs.values())
        reps = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            for doc_id, spans in docs.items():
                oracle.extract_document(doc_id, spans)
            reps.append(time.perf_counter() - t0)
        out[f"kernels.{c}.us_per_span"] = statistics.median(reps) / n_spans * 1e6
        for doc_id, spans in docs.items():
            _, m = oracle.extract_document(doc_id, spans)
            spans_in += m["spans_in"]
            spans_out += m["spans_out"]
            dropped += m["dropped"]
    out["kernels.out_per_in"] = spans_out / spans_in
    out["kernels.drop_frac"] = dropped / spans_in
    return out


def traced(wl: Workload, name: str, fn):
    """Run ``fn`` inside a span; return (its result, the span's record)."""
    ctx = wl.ctx
    win = Window(ctx.status)
    region = ctx.sampler.region()
    with ctx.tracer.span(name) as sp:
        t0 = time.time()
        res = fn()
        t1 = time.time()
    sp.update(region.end())
    sp.update(win.close(t0, t1))
    return res, sp


def run_layers(wl: Workload) -> tuple[dict, list[Check]]:
    """The traced run's layer sequence -> (per-layer metrics, the checks of
    every output it produced).  The workload's own job runs once untraced
    and once traced; the doc-stream branch runs on a staged mega-bearing
    table, since neither workload's input holds a mega document."""
    ctx, spark = wl.ctx, wl.spark
    inp = wl.input_df()
    m: dict[str, float] = {}
    checks: list[Check] = []

    with ctx.tracer.span("sources.stage_mega"):
        skew_df = spark.read.parquet(wl.stage_table("mega", MEGA_SMALL_DOCS, MEGA_DOCS))
    mega_ids = [f"mega-{i:06d}" for i in range(MEGA_DOCS)]
    mega_inputs = read_docs(skew_df, mega_ids)

    by_corpus: dict[str, dict] = {c: {} for c in KERNEL_CORPORA}
    for doc_id, spans in wl.sample_inputs.items():
        by_corpus[corpus_of(doc_id)][doc_id] = spans
    by_corpus["mega"] = mega_inputs
    with ctx.tracer.span("kernels"):
        m.update(kernel_costs(by_corpus))

    _, p = traced(wl, "pipeline", lambda: noop(extract(inp)))
    spans_by_corpus = {
        r.c: r.n for r in inp.groupBy(
            F.substring_index("doc_id", "-", 1).alias("c")
        ).agg(F.sum("n_spans").alias("n")).collect()
    }
    kernel_cpu = sum(
        m[f"kernels.{c}.us_per_span"] * 1e-6 * n for c, n in spans_by_corpus.items()
    )
    m.update({
        "pipeline.wall_s": p["wall_s"],
        "pipeline.cpu_s": p["cpu_s"],
        "pipeline.kernel_share": kernel_cpu / p["cpu_s"],
        "pipeline.shuffle_write_bytes": p["shuffle_write_bytes"],
        "pipeline.spill_bytes": p["spill_bytes"],
        "pipeline.gc_s": p["gc_ms"] / 1000,
        "pipeline.tasks": p["tasks"],
        "pipeline.task_max_over_median": p["task_max_over_median"],
    })

    # the skew shape: mega docs, which carry most spans, take the doc-stream
    # branch (explode, shuffle on doc_id, sort, _extract_doc_stream)
    _, pm = traced(wl, "pipeline.mega", lambda: noop(extract(skew_df)))
    m.update({
        "pipeline.mega.wall_s": pm["wall_s"],
        "pipeline.mega.cpu_s": pm["cpu_s"],
        "pipeline.mega.shuffle_write_bytes": pm["shuffle_write_bytes"],
        "pipeline.mega.spill_bytes": pm["spill_bytes"],
        "pipeline.mega.task_max_over_median": pm["task_max_over_median"],
    })
    mega_df = skew_df.filter(F.col("doc_id").isin(mega_ids))
    got = arrow_docs(extract(mega_df).select("doc_id", "spans").toArrow())
    checks.append(compare(got, expected(mega_inputs), "mega"))

    ck_dir = ctx.path("layer_checkpoint")
    _, ck = traced(wl, "checkpoint", lambda: resumable(wl, ck_dir))
    m.update({
        "checkpoint.wall_s": ck["wall_s"],
        "checkpoint.write_s": ck["wall_s"] - p["wall_s"],
        # full input scans: rows read from the input over its row count
        "checkpoint.input_reads": ck["input_records"] / wl.docs,
        "checkpoint.jobs": ck["jobs"],
        "checkpoint.driver_gap_s": ck["driver_gap_s"],
    })

    _, fp = traced(wl, "incremental.fingerprint", lambda: noop(input_fingerprint(inp)))
    inc_dir = ctx.path("layer_incremental")
    if isinstance(wl, Refresh):
        stats, inc = traced(wl, "incremental", lambda: wl.refresh(inc_dir))
        delta = len(wl.added_ids) + len(wl.changed_ids)
    else:
        # a cold start: every document is added
        stats, inc = traced(wl, "incremental", lambda: run_incremental(spark, inp, inc_dir))
        delta = wl.docs
    m.update({
        "incremental.fingerprint_s": fp["wall_s"],
        "incremental.wall_s": inc["wall_s"],
        "incremental.reextract_per_delta": stats["n_reextracted"] / delta,
        "incremental.shuffle_write_bytes": inc["shuffle_write_bytes"],
        "incremental.jobs": inc["jobs"],
        "incremental.driver_gap_s": inc["driver_gap_s"],
    })

    # compaction of the refresh output on refresh; elsewhere of the
    # resumable runner's output, whose chunks leave many small files
    cp_dir = inc_dir if isinstance(wl, Refresh) else ck_dir
    files, cp = traced(wl, "compact", lambda: compact_output(spark, cp_dir))
    m.update({
        "compact.wall_s": cp["wall_s"],
        "compact.files_before": files["files_before"],
        "compact.files_after": files["files_after"],
        "compact.rewrite_bytes_per_out_byte": cp["output_bytes"] / dir_bytes(f"{cp_dir}/data"),
    })

    ct_dir = ctx.path("layer_contract")
    _, ct = traced(
        wl, "contract",
        lambda: run_contract_pipeline(spark, _X16_CONTRACT, inp, out_dir=ct_dir),
    )
    m.update({
        "contract.wall_s": ct["wall_s"],
        "contract.extract_s": p["wall_s"],
        "contract.operator_s": ct["wall_s"] - p["wall_s"],
        "contract.jobs": ct["jobs"],
        "contract.driver_gap_s": ct["driver_gap_s"],
        "contract.records_out": spark.read.parquet(f"{ct_dir}/mapped").count(),
    })

    # the workload's job once untraced, the reference for the overhead,
    # then traced; the layer calls above have warmed the session
    t0 = time.perf_counter()
    reference = wl.job()
    untraced_s = time.perf_counter() - t0
    res, job = traced(wl, f"job.{wl.job_span}", wl.job)
    m.update({
        "spark.gc_s": job["gc_ms"] / 1000,
        "spark.task_cpu_s": job["task_cpu_s"],
        "trace.job_wall_ratio": job["wall_s"] / untraced_s,
    })
    for r in (reference, res):
        checks.append(wl.check(r))
        shutil.rmtree(r["out_dir"], ignore_errors=True)
    for d in (ck_dir, inc_dir, ct_dir):
        shutil.rmtree(d, ignore_errors=True)
    return m, checks
