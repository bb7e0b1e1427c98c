#!/usr/bin/env python
"""Host-skew wall-time evidence for the politeness-window design.

The engine claims (plans/crawl.py `_claim`) that salting the per-host
politeness bucket — rank windows per (host, xxhash64(url) % salts) with
rotating remainder budgets — keeps one dominant eTLD+1 from serializing a
round.  Correctness is pytest-locked (tests/test_politeness.py); this tool
produces the WALL-TIME datapoint round-2 VERDICT asked for: the same-size
crawl on a 90%-one-host corpus vs a uniform-host corpus, reporting the
elapsed ratio (target ≤ ~1.3×).

Method mirrors tools/bench_scaling.py: each measurement runs in its own
subprocess (one JVM per level — heap history skews in-process repeats),
corpus + state + shuffle scratch on tmpfs, same core count (local[16]) for
both corpora so the ONLY variable is host skew.  The crawl runs with a
per-host budget high enough to claim everything eligible each round — the
politeness window machinery is fully exercised, but round count stays equal
between the two corpora, making elapsed time directly comparable.

Usage: python tools/bench_skew.py [n_seeds] [places_per_serp]
Prints a markdown table and one machine-readable JSON line (last line).
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
# the Python workers import the package too, whatever the caller's cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
os.environ.setdefault("SPARK_OFFHEAP_SIZE", "64g")

CPUS = int(os.environ.get("GMS_SKEW_CPUS", "16"))
SALTS = int(os.environ.get("GMS_SKEW_SALTS", "8"))
# ~uniform over the 7-host pool vs 90% on one dominant host
SKEWS = (0.15, 0.9)


def run_case(pages_path: str, workroot: str, seeds_path: str, tag: str) -> None:
    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.session import get_spark

    seeds = [tuple(s) for s in json.load(open(seeds_path))]
    spark = get_spark(
        app_name=f"gms-skew-{tag}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(pages_path)
    pages.count()  # warm the scan

    wd = os.path.join(workroot, f"wd-{tag}")
    t0 = time.perf_counter()
    eng = CrawlEngine(
        spark, pages, wd,
        CrawlConfig(
            extract_email=True, max_rounds=16, checkpoint_every=100,
            # budget high enough to claim every eligible job each round: the
            # per-(host,salt) windows run for real, but both corpora take the
            # same number of rounds — elapsed is apples-to-apples
            host_budget=10_000_000, politeness_salts=SALTS,
        ),
    )
    eng.seed_from_queries(seeds)
    counters = eng.run()
    elapsed = time.perf_counter() - t0
    spark.stop()
    print("CASE_RESULT " + json.dumps({
        "tag": tag,
        "elapsed_sec": round(elapsed, 2),
        "rounds": counters["round"],
        "results": counters["results"],
        "sec_per_round": round(elapsed / max(counters["round"], 1), 2),
    }))


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    per_serp = int(sys.argv[2]) if len(sys.argv) > 2 else 60

    from google_maps_scraper_spark.session import get_spark
    from google_maps_scraper_spark.sources.corpus import generate_corpus_spark

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workroot = tempfile.mkdtemp(prefix="gms-skew-", dir=base)
    os.environ["GMS_SPARK_LOCAL_DIR"] = os.path.join(workroot, "scratch")

    cases = []
    spark = get_spark(app_name="gms-skew-gen", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    for skew in SKEWS:
        tag = f"skew{int(skew * 100):02d}"
        pages_path = os.path.join(workroot, f"pages-{tag}")
        pages, seeds = generate_corpus_spark(
            spark, n_seeds, per_serp, skew_host_fraction=skew
        )
        pages.write.mode("overwrite").parquet(pages_path)
        seeds_path = os.path.join(workroot, f"seeds-{tag}.json")
        json.dump(seeds, open(seeds_path, "w"))
        cases.append((tag, pages_path, seeds_path))
    spark.stop()

    # code snapshot: level subprocesses import from the copy (edits to the
    # working tree cannot corrupt an in-flight measurement)
    snap = os.path.join(workroot, "snap")
    os.makedirs(snap)
    shutil.copytree(os.path.join(REPO, "google_maps_scraper_spark"),
                    os.path.join(snap, "google_maps_scraper_spark"))
    shutil.copytree(os.path.join(REPO, "tools"), os.path.join(snap, "tools"))
    shutil.copytree(os.path.join(REPO, "perfbench"), os.path.join(snap, "perfbench"))

    repeats = int(os.environ.get("GMS_SCALING_REPEATS", "1"))
    runs = []
    for tag, pages_path, seeds_path in cases:
        best = None
        for _ in range(repeats):
            out = subprocess.run(
                [sys.executable, os.path.join(snap, "tools", "bench_skew.py"),
                 "--run-case", pages_path, workroot, seeds_path, tag],
                capture_output=True, text=True, cwd=snap,
            )
            lines = [l for l in out.stdout.splitlines()
                     if l.startswith("CASE_RESULT ")]
            if not lines:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                raise RuntimeError(f"case {tag} failed")
            r = json.loads(lines[-1].removeprefix("CASE_RESULT "))
            if best is None or r["elapsed_sec"] < best["elapsed_sec"]:
                best = r
        runs.append(best)

    uniform, skewed = runs[0], runs[-1]
    ratio = skewed["elapsed_sec"] / uniform["elapsed_sec"]
    print(f"\n| corpus | elapsed s | rounds | s/round | results |")
    print("|---|---|---|---|---|")
    for r in runs:
        print(f"| {r['tag']} | {r['elapsed_sec']} | {r['rounds']} "
              f"| {r['sec_per_round']} | {r['results']} |")
    print(f"\nskew wall-time ratio (0.9-one-host vs uniform): {ratio:.3f}")

    shutil.rmtree(workroot, ignore_errors=True)
    print(json.dumps({
        "cpus": CPUS, "salts": SALTS, "cases": runs,
        "skew_ratio": round(ratio, 3),
        "storage": "tmpfs(/dev/shm)" if workroot.startswith("/dev/shm") else "disk",
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--run-case":
        run_case(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
    else:
        main()
