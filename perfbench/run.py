"""Extraction benchmark: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

With ``--trace 0`` it times batch jobs for ``--seconds`` seconds and
prints the end-to-end metrics listed in BENCHMARK.json; with
``--trace 1`` it calls each layer on its own and prints the per-layer
metrics.  Every job's output is checked against the oracle outside the
timed region.  The last line of standard output is the result JSON; the
exit code is 0 only when every check passed.  Scratch data lives under
``.perfbench/`` and is removed at the end; the run's record (settings,
per-job samples, host load, checks, trace spans) is kept in
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import procfs  # noqa: E402
from status import diff  # noqa: E402

# set-ups per run (staging, and for refresh the previous output's seed)
SETUP_REPS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def session_conf(settings: dict, work: str) -> dict:
    conf = dict(settings["spark_conf"])
    conf["spark.local.dir"] = os.path.join(work, "local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        + " ".join(settings["java_options"])
    )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process the run
    started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while (left := procfs.descendants(os.getpid())) and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def host_summary(job: dict) -> dict:
    """One timed job's host load: 1-minute loadavg and CPU pressure at
    its start and end, and the CPU ticks stolen by the host during it."""
    h0, h1 = job["host_start"], job["host_end"]
    steal = (h1["cpu_steal_ticks"] - h0["cpu_steal_ticks"]
             if h0["cpu_steal_ticks"] is not None else None)
    return {
        "load1": [h["loadavg"][0] if h["loadavg"] else None for h in (h0, h1)],
        "cpu_some_avg10": [h["pressure_cpu"].get("some", {}).get("avg10") for h in (h0, h1)],
        "steal_ticks": steal,
    }


def timed_jobs(wl, seconds: float, record: dict):
    """Closed loop: one job at a time until ``seconds`` of job wall time."""
    from workloads import dir_bytes

    ctx = wl.ctx
    jobs, checks = [], []
    tasks = failed_tasks = 0
    timed = 0.0
    while timed < seconds:
        ctx.status.reset_memory_peaks()
        c0 = ctx.status.counters()
        host0 = procfs.host_load()
        region = ctx.sampler.region()
        try:
            res = wl.job()
        except Exception:  # a failed job is reported, not raised
            record["errors"].append(traceback.format_exc())
            jobs.append({"failed": True})
            break
        r = region.end()
        jvm_pools = ctx.status.memory_peaks()
        jvm_peak = sum(jvm_pools.values())
        host1 = procfs.host_load()
        c = diff(c0, ctx.status.counters())
        tasks += c["tasks"]
        failed_tasks += c["failed_tasks"]
        timed += r["wall_s"]
        chk = wl.check(res)
        checks.append(chk)
        jobs.append({
            **r,
            # the JVM's share is its memory beans' peak, not its RSS: with a
            # fixed heap the RSS stays near the heap size whatever is live
            "peak_rss_bytes": r["peak_rss_bytes"] + jvm_peak,
            "other_peak_rss_bytes": r["peak_rss_bytes"],
            "jvm_peak_bytes": jvm_pools,
            "docs": wl.docs,
            "in_bytes": wl.in_bytes,
            "out_bytes": dir_bytes(res["out_dir"]),
            "failed": bool(chk.problems),
            "tasks": c["tasks"],
            "failed_tasks": c["failed_tasks"],
            "host_start": host0,
            "host_end": host1,
        })
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        log(f"job {len(jobs)}: {r['wall_s']:.2f} s, {wl.docs / r['wall_s']:.1f} docs/s, "
            f"cpu {r['cpu_s']:.2f} s, jvm {jvm_peak / M.MB:.0f} MB + rest "
            f"{r['peak_rss_bytes'] / M.MB:.0f} MB, load {host0['loadavg'][:1]}->{host1['loadavg'][:1]}")
    return jobs, checks, tasks, failed_tasks


def run(args, settings: dict, bench: dict, work: str, record: dict):
    from pdf_ocr_spark.session import get_spark

    from status import StatusReader
    from tracing import Tracer
    from workloads import WARMUP_JOBS, Check, Ctx, WORKLOADS, dir_bytes, run_layers

    tracer = Tracer()
    with tracer.span("session"):
        t0 = time.perf_counter()
        spark = get_spark(
            app="perfbench",
            cpus=min(settings["cpus"], os.cpu_count() or 1),
            shuffle_partitions=settings["shuffle_partitions"],
            extra_conf=session_conf(settings, work),
        )
        session_s = time.perf_counter() - t0
    try:
        status = StatusReader(spark)
        with procfs.TreeSampler(os.getpid(), rss_exclude=(status.jvm_pid(),)) as sampler:
            ctx = Ctx(spark, work, args.seed, settings["workloads"][args.workload]["docs"],
                      settings, sampler, status, tracer)
            wl = WORKLOADS[args.workload](ctx)
            # the session starts once (a cold JVM start per set-up would
            # double the set-up time); staging and state seeding repeat,
            # each into tables of their own, and the medians are reported
            stage_times, prep_times = [], []
            for i in range(SETUP_REPS):
                with tracer.span("setup"):
                    t0 = time.perf_counter()
                    with tracer.span("sources.stage"):
                        wl.stage(f"_{i}")
                    stage_times.append(time.perf_counter() - t0)
                    with tracer.span("setup.seed_state"):
                        wl.seed_state(f"_{i}")
                    prep_times.append(time.perf_counter() - t0)
            stage_s = statistics.median(stage_times)
            setup_s = session_s + statistics.median(prep_times)
            record["setup"] = {"session_s": session_s, "stage_s": stage_times,
                               "stage_and_seed_s": prep_times}
            wl.in_bytes = dir_bytes(wl.input_path)
            log(f"setup {setup_s:.2f} s (session {session_s:.2f} s, staging "
                f"{', '.join(f'{t:.2f}' for t in stage_times)} s, with seeding "
                f"{', '.join(f'{t:.2f}' for t in prep_times)} s)")
            wl.prepare_check()
            # the traced run's layer calls warm the session before its jobs
            for i in range(0 if args.trace else WARMUP_JOBS):
                t0 = time.perf_counter()
                res = wl.job()
                log(f"warm-up job {i + 1}: {time.perf_counter() - t0:.2f} s")
                shutil.rmtree(res["out_dir"], ignore_errors=True)

            if args.trace:
                layer, checks = run_layers(wl)
            else:
                jobs, checks, tasks, failed_tasks = timed_jobs(wl, args.seconds, record)
                record["jobs"] = jobs
    finally:
        stop_spark(spark)
    record["spans"] = tracer.spans

    total = Check.sum(checks)
    if args.trace:
        layer.update({
            "session.start_s": session_s,
            "sources.stage_s": stage_s,
            "sources.input_bytes": wl.in_bytes,
        })
        values = {m["name"]: (layer[m["name"]], m["unit"]) for m in bench["per_layer"]}
        attempted, failed = len(checks), sum(bool(c.problems) for c in checks)
    else:
        attempted, failed = len(jobs), sum(j["failed"] for j in jobs)
        # a job whose output failed its check still ran: its timings count,
        # and the failure shows in ok_frac
        done = [j for j in jobs if "wall_s" in j]
        e2e = M.end_to_end(done, setup_s, total.checked, total.matched,
                           tasks, failed_tasks) if done else {}
        values = {m["name"]: e2e.get(m["name"], (0.0, m["unit"]))
                  for m in bench["end_to_end"]}
        print(json.dumps({"host_load_per_job": [host_summary(j) for j in jobs if "host_start" in j]}))
    record["problems"] = total.problems
    for p in total.problems[:20]:
        log(f"CHECK FAILED {p}")
    correct = not total.problems and not record["errors"] and failed == 0
    return correct, attempted, failed, values


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdf_ocr_spark", "__init__.py")):
        log("the engine package pdf_ocr_spark/ is not in the working directory; "
            "run from the repository root")
        return 2
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in settings["workloads"]:
        log(f"unknown workload {args.workload!r}; have {sorted(settings['workloads'])}")
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    # executors import the engine from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, root)

    record = {"args": vars(args), "settings": settings, "errors": [],
              "host_start": procfs.host_load()}
    try:
        correct, attempted, failed, values = run(args, settings, bench, work, record)
    except Exception:
        record["errors"].append(traceback.format_exc())
        log(record["errors"][-1])
        return 1
    finally:
        record["host_end"] = procfs.host_load()
        shutil.rmtree(work, ignore_errors=True)
        name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
        with open(os.path.join(base, "records", name), "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(M.result_line(correct, attempted, failed, values))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
