"""Per-phase driver-latency breakdown of the crawl at two parallelism
levels — the profiling companion to tools/bench_scaling.py.

Answers "WHICH phase stops the end-to-end number from scaling": runs the
same corpus at each level with ``CrawlConfig(timing=True)`` and reports
wall seconds per phase (claim, dispatch, chains, persist, checkpoint,
counters) plus each phase's own 4→16 scaling ratio.  Phases whose ratio
sits far below the CPU-probe ceiling are the optimization targets.

Usage:
    python tools/bench_phases.py [n_seeds] [per_serp]        # default 2000 100
    GMS_SCALING_CORPUS=<dir> python tools/bench_phases.py    # reuse corpus
    GMS_PHASE_LEVELS=4,16 (default)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
os.environ.setdefault("SPARK_OFFHEAP_SIZE", "64g")


def _workroot() -> str:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    root = tempfile.mkdtemp(prefix="gms-phases-", dir=base)
    os.environ["GMS_SPARK_LOCAL_DIR"] = os.path.join(root, "scratch")
    return root


def _read_pages(spark, pages_path):
    """Bucketed-table read when the corpus was written url-bucketed (see
    sources/corpus.py:write_bucketed_pages), plain parquet otherwise."""
    from google_maps_scraper_spark.sources.corpus import (
        bucketed_pages_spec,
        read_bucketed_pages,
    )

    b = bucketed_pages_spec(pages_path)
    if b:
        return read_bucketed_pages(spark, pages_path, buckets=b)
    return spark.read.parquet(pages_path)


def run_level(cpus: int, pages_path: str, workroot: str, seeds_path: str) -> None:
    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.session import get_spark

    seeds = [tuple(s) for s in json.load(open(seeds_path))]
    spark = get_spark(
        app_name=f"gms-phases-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = _read_pages(spark, pages_path)
    pages.count()  # warm scan + JVM before the clock
    wd = os.path.join(workroot, f"wd-{cpus}")
    t0 = time.perf_counter()
    eng = CrawlEngine(
        spark, pages, wd,
        CrawlConfig(
            extract_email=True, max_rounds=16,
            # Match bench_scaling's GMS_SCALING_CKPT=1 headline mode so the
            # per-round durable delta-log commit shows up as its own phase.
            checkpoint_every=(
                1 if os.environ.get("GMS_SCALING_CKPT") == "1" else 100
            ),
            extra_reviews=os.environ.get("GMS_SCALING_EXTRA_REVIEWS") == "1",
            # A/B knob: 0 forces shuffle joins for the fetch (isolates the
            # serial driver-side broadcast-build cost inside the dispatch
            # phase); default broadcasts every claim as the headline does.
            broadcast_claim_rows=int(
                os.environ.get("GMS_BROADCAST_CLAIM", str(100_000))
            ),
            timing=True,
        ),
    )
    eng.seed_from_queries(seeds)
    counters = eng.run()
    elapsed = time.perf_counter() - t0
    phases = dict(sorted(eng.phase_times.items(), key=lambda kv: -kv[1]))
    spark.stop()
    print("LEVEL_RESULT " + json.dumps({
        "cpus": cpus,
        "elapsed_sec": round(elapsed, 2),
        "results": counters.get("results", 0),
        "rounds": counters.get("round", 0),
        "phases": {k: round(v, 2) for k, v in phases.items()},
        "accounted_sec": round(sum(phases.values()), 2),
    }))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--run-level":
        run_level(int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5])
        return

    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    per_serp = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    levels = [
        int(x) for x in os.environ.get("GMS_PHASE_LEVELS", "4,16").split(",")
    ]

    from google_maps_scraper_spark.session import get_spark
    from google_maps_scraper_spark.sources.corpus import generate_corpus_spark

    workroot = _workroot()
    reuse = os.environ.get("GMS_SCALING_CORPUS")
    if reuse:
        pages_path = os.path.join(reuse, "pages")
        seeds_path = os.path.join(reuse, "seeds.json")
    else:
        pages_path = os.path.join(workroot, "pages")
        seeds_path = os.path.join(workroot, "seeds.json")
        spark = get_spark(app_name="gms-phases-gen", master="local[32]",
                          shuffle_partitions=32)
        spark.sparkContext.setLogLevel("ERROR")
        pages, seeds = generate_corpus_spark(
            spark, n_seeds, per_serp,
            skew_host_fraction=float(os.environ.get("GMS_SCALING_SKEW", "0.5")),
            extra_review_pages=(
                3 if os.environ.get("GMS_SCALING_EXTRA_REVIEWS") == "1" else 0
            ),
        )
        from google_maps_scraper_spark.sources.corpus import write_bucketed_pages

        write_bucketed_pages(
            spark, pages, pages_path,
            buckets=int(os.environ.get("GMS_PAGES_BUCKETS", "128")),
        )
        spark.stop()
        json.dump(seeds, open(seeds_path, "w"))

    snap = os.path.join(workroot, "snap")
    os.makedirs(snap, exist_ok=True)
    shutil.copytree(os.path.join(REPO, "google_maps_scraper_spark"),
                    os.path.join(snap, "google_maps_scraper_spark"))
    shutil.copytree(os.path.join(REPO, "tools"), os.path.join(snap, "tools"))

    runs = []
    for cpus in levels:
        out = subprocess.run(
            [sys.executable, os.path.join(snap, "tools", "bench_phases.py"),
             "--run-level", str(cpus), pages_path, workroot, seeds_path],
            capture_output=True, text=True, cwd=snap,
        )
        line = [l for l in out.stdout.splitlines()
                if l.startswith("LEVEL_RESULT ")]
        if not line:
            sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
            raise RuntimeError(f"level {cpus} failed")
        runs.append(json.loads(line[-1].removeprefix("LEVEL_RESULT ")))

    keys = sorted({k for r in runs for k in r["phases"]},
                  key=lambda k: -runs[0]["phases"].get(k, 0))
    print(f"\n| phase | " + " | ".join(f"local[{r['cpus']}] s" for r in runs)
          + " | ratio |")
    print("|---|" + "---|" * (len(runs) + 1))
    for k in keys:
        vals = [r["phases"].get(k, 0.0) for r in runs]
        ratio = (vals[0] / vals[-1]) if vals[-1] else float("inf")
        print(f"| {k} | " + " | ".join(f"{v:.2f}" for v in vals)
              + f" | {ratio:.2f}x |")
    tot = [r["elapsed_sec"] for r in runs]
    acc = [r["accounted_sec"] for r in runs]
    print(f"| TOTAL e2e | " + " | ".join(f"{v:.2f}" for v in tot)
          + f" | {tot[0]/tot[-1]:.2f}x |")
    print(f"| (accounted) | " + " | ".join(f"{v:.2f}" for v in acc) + " | |")
    if len(runs) == 2:
        eff = (tot[0] / tot[-1]) / (runs[-1]["cpus"] / runs[0]["cpus"])
        print(f"\ne2e efficiency {runs[0]['cpus']}->{runs[-1]['cpus']}: "
              f"{eff:.3f}")
    print(json.dumps({"runs": runs}))
    shutil.rmtree(workroot, ignore_errors=True)


if __name__ == "__main__":
    main()
