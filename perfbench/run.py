#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload crawl_polite_resume --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  The run starts a fresh Spark session at
``local[<cores>]``, builds the workload's inputs from ``--seed`` (the same
untimed work on every run; oracle fingerprints are cached under
``.perfbench_work/cache``), measures for at least ``--seconds`` seconds,
checks the outputs against the oracles, and prints a report followed by one
JSON line::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run enables Spark's event log, tags every call's jobs with a job group
and reports the per-layer metrics instead.  The full report, with host-noise
brackets and per-round / per-query detail, goes to
``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
T_START = time.perf_counter()

# Wall time of the pass (``pass_s``) and its throughput (``work_per_s``) are
# printed and kept in the report, but not gated: on a shared virtual machine
# their run-to-run spread follows the hypervisor's steal, and two ten-seed
# sets of the crawl spread by more than the largest bound the harness allows
# (perfbench/README.md, "Why wall time is not gated").
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
REPORTED = {
    "pass_s": "s",
    "work_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_mem_mb": "MB",
    "crawl.seed_s": "s",
    "crawl.finalize_s": "s",
    "crawl.counters_s": "s",
    "crawl.rounds": "count",
    "crawl.round_p50_s": "s",
    "crawl.claimed": "count",
    "crawl.chain_hops": "count",
    "crawl.round_jobs": "count",
    "crawl.round_job_s": "s",
    "crawl.round_driver_gap_s": "s",
    "crawl.resume_call_s": "s",
    "crawl.resume_first_round_s": "s",
    "crawl.admit_ratio": "ratio",
    "crawl.results_per_claim": "ratio",
    "extractors.place_pages_per_s": "1/s",
    "extractors.serp_pages_per_s": "1/s",
    "extractors.email_pages_per_s": "1/s",
    "extractors.reviews_pages_per_s": "1/s",
    "extract.entry_us_per_page": "us",
    "extract.python_share": "ratio",
    "store.commits": "count",
    "store.chain_len": "count",
    "store.bytes_written": "bytes",
    "store.bytes_per_result": "bytes",
    "store.background_s": "s",
    "store.background_jobs": "count",
    "store.read_s": "s",
    "store.rewrite_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_util": "ratio",
    "catalog.analytics_s": "s",
    "catalog.dedup_docs_s": "s",
    "catalog.frontier_s": "s",
    "catalog.graph_s": "s",
    "catalog.sampling_s": "s",
    "catalog.similarity_s": "s",
    "catalog.driver_gap_s": "s",
    "catalog.query_p50_s": "s",
    "catalog.q.dedup_cluster_components_s": "s",
    "catalog.q.emb_lsh_neardup_pairs_s": "s",
    "trace.pass_s": "s",
}

DRIVER_MEMORY = "3g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: Path, cores: int) -> None:
    """Pin every setting the program reads from the environment, so a run
    measures the same configuration whatever shell it starts from."""
    for var in ("GMS_SPARK_CONF", "GMS_SESSION_WARMUP", "SPARK_OFFHEAP_SIZE",
                "SPARK_GC_OPTS"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["GMS_SPARK_LOCAL_DIR"] = str(work / "spark-local")
    # temporary files (Python's, the JVM's, the program's) stay in the checkout
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def _spark_totals(jobs, lo: float, hi: float, cores: int) -> dict:
    inside = [j for j in jobs if lo <= j.submit <= hi]
    run_s = sum(j.run_s for j in inside)
    return {
        "spark.jobs": len(inside),
        "spark.stages": sum(j.stages for j in inside),
        "spark.tasks": sum(j.tasks for j in inside),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j.cpu_s for j in inside),
        "spark.gc_s": sum(j.gc_s for j in inside),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in inside),
        "spark.spill_bytes": sum(j.spill_bytes for j in inside),
        "spark.core_util": run_s / ((hi - lo) * cores) if hi > lo else 0.0,
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    one started to exit."""
    from pyspark import SparkContext

    from perfbench.hostnoise import descendants, wait_gone

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(kids, timeout=30)


def main(argv: list[str] | None = None) -> int:
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    from perfbench import spans
    from perfbench.hostnoise import Bracket, PeakMemory
    from perfbench.workloads import WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    cores = _cores()
    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    cache = work / "cache"
    for d in (run_dir, cache, work / "reports"):
        d.mkdir(parents=True, exist_ok=True)
    _environment(work, cores)
    # fails here, before any result is printed, when the program is absent
    from google_maps_scraper_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    log_dir = run_dir / "eventlog"
    if args.trace:
        log_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    wl = WORKLOADS[args.workload]()
    metrics: dict[str, float] = {}
    spark = None
    try:
        with PeakMemory() as mem:
            with Bracket() as setup_bracket:
                t0 = time.perf_counter()
                spark = get_spark(app_name=f"perfbench-{args.workload}",
                                  master=f"local[{cores}]", extra_conf=conf)
                start_s = time.perf_counter() - t0
                spark.sparkContext.setLogLevel("ERROR")
                ctx = Ctx(spark=spark,
                          tracer=spans.Tracer(args.workload,
                                              spark.sparkContext if args.trace else None),
                          work=run_dir, cache=cache, seed=args.seed,
                          seconds=args.seconds, cores=cores)
                phases = {"python_start_s": t0 - T_START, "get_spark_s": start_s}
                t1 = time.perf_counter()
                wl.prepare(ctx)  # inputs: untimed, built anew on every run
                phases["prepare_s"] = time.perf_counter() - t1
                t0 = time.perf_counter()
                wl.register(ctx)
                setup_s = start_s + time.perf_counter() - t0
            ctx.brackets.append({"window": "setup", **setup_bracket.stats})
            res, layers = None, {}
            try:
                t1 = time.perf_counter()
                res = wl.run(ctx)
                phases["run_s"] = time.perf_counter() - t1
                t1 = time.perf_counter()
                wl.check(ctx)
                phases["check_s"] = time.perf_counter() - t1
                if args.trace:
                    layers = wl.layers(ctx)
            except Exception:
                ctx.fail(traceback.format_exc())
            app_id = spark.sparkContext.applicationId
            t1 = time.perf_counter()
            _stop(spark)
            spark = None
            phases["stop_s"] = time.perf_counter() - t1
        if res is not None:
            metrics.update(setup_s=setup_s, pass_s=res["pass_s"],
                           pass_cpu_s=res["pass_cpu_s"], work_per_s=res["work_per_s"])
        if args.trace and res is not None:
            log_files = spans.event_log_files(str(log_dir), app_id)
            jobs = spans.read_event_log(log_files)
            keep = work / "reports" / f"{args.workload}-trace"
            shutil.rmtree(keep, ignore_errors=True)
            keep.mkdir()
            ctx.tracer.dump(str(keep / "spans.json"))
            for f in log_files:
                shutil.copy(f, keep)
            by_group = spans.attribute(ctx.tracer, jobs)
            layers.update(wl.job_layers(ctx, by_group, jobs))
            layers.update(_spark_totals(jobs, *wl.window(), cores))
            layers["session.start_s"] = start_s
            layers["session.peak_mem_mb"] = mem.peak_bytes / 2**20
            layers["trace.pass_s"] = res["pass_s"]
    finally:
        if spark is not None:  # a failure before the normal stop
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    phases["total_s"] = time.perf_counter() - T_START
    wanted = PER_LAYER if args.trace else END_TO_END
    correct = ctx.failed == 0 and res is not None
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "correct": correct,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "ops_failed_ratio": ctx.failed / max(ctx.attempted, 1),
        "errors": ctx.errors, "end_to_end": metrics,
        "per_layer": {k: layers.get(k, 0) for k in PER_LAYER} if args.trace else {},
        "peak_mem_mb": mem.peak_bytes / 2**20, "host": ctx.brackets,
        "phases": phases, "detail": res["detail"] if res else {},
        **ctx.report_extra,
    }
    (work / "reports" / f"{args.workload}-trace{args.trace}.json").write_text(
        json.dumps(report, indent=1, default=str))

    for err in ctx.errors:
        print(f"FAILED: {err}")
    for k, unit in wanted.items():
        v = (layers.get(k, 0) if args.trace else metrics.get(k, 0.0))
        print(f"{k:40s} {v:>16.6g} {unit}")
    for k, unit in REPORTED.items():
        print(f"{k + ' (not gated)':40s} {metrics.get(k, 0.0):>16.6g} {unit}")
    print(f"{'ops_failed_ratio':40s} {report['ops_failed_ratio']:>16.6g} ratio")
    for b in ctx.brackets:
        print(f"host {b['window']}: {json.dumps({k: v for k, v in b.items() if k != 'window'})}")
    out_metrics = {
        k: {"value": (layers.get(k, 0) if args.trace else metrics.get(k, 0.0)),
            "unit": unit}
        for k, unit in wanted.items()
    }
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
