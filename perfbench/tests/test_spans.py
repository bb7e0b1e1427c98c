"""Tests for the span recorder and the event-log reader.

The event-log tests start a small local Spark session with the event log
on, submit jobs from the driver thread inside spans and from a second
Python thread (as the crawl engine's pools and commit writer do), and read
the log back.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import spans  # noqa: E402
from perfbench.spans import BACKGROUND, Job, Span, Tracer, attribute, covered  # noqa: E402


# --- pure-Python parts -----------------------------------------------------

def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def _tracer_with(spans_: list[Span]) -> Tracer:
    tr = Tracer("w")
    tr.spans = spans_
    for i, s in enumerate(spans_):
        s.group = s.group or f"bench/w/{s.name}#{i}"
    return tr


def test_self_time_subtracts_children_once():
    tr = _tracer_with([
        Span("crawl", 0.0, 10.0),
        Span("round", 1.0, 4.0, parent=0),
        Span("round", 3.0, 6.0, parent=0),   # overlaps its sibling
        Span("inner", 1.5, 2.0, parent=1),   # grandchild: not crawl's child
    ])
    assert tr.self_time(0) == pytest.approx(10 - 5)
    assert tr.self_time(1) == pytest.approx(3 - 0.5)
    assert tr.self_time(3) == pytest.approx(0.5)


def test_span_records_parent_and_restores_group():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeSC()
    tr = Tracer("wl", sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert sc.props["spark.jobGroup.id"] is None
    assert inner.parent == 0 and outer.parent is None
    assert outer.group.startswith("bench/wl/outer")
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_attribute_grouped_window_and_background():
    tr = _tracer_with([
        Span("crawl", 0.0, 100.0),
        Span("round", 10.0, 20.0, parent=0),
        Span("counters", 30.0, 31.0, parent=0),
    ])
    rnd, cnt = tr.spans[1], tr.spans[2]
    jobs = [
        Job(0, rnd.group, 12.0, "collect at x.py:1"),      # grouped
        Job(1, None, 15.0, "localCheckpoint at N:0"),      # round's pool
        Job(2, None, 30.5, "count at N:0"),                # counters' pool
        Job(3, None, 16.0, "parquet at N:0"),              # commit writer
        Job(4, None, 30.6, "save at N:0"),                 # writer, in counters
        Job(5, None, 150.0, "count at N:0"),               # outside every span
        Job(6, None, 25.0, "count at N:0"),                # only crawl open
    ]
    by = {g: sorted(j.job_id for j in js) for g, js in attribute(tr, jobs).items()}
    assert by[rnd.group] == [0, 1]
    assert by[cnt.group] == [2]
    assert by[BACKGROUND] == [3, 4, 5]
    assert by[tr.spans[0].group] == [6]


# --- against a real event log ----------------------------------------------

@pytest.fixture(scope="module")
def traced_app(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    out = tmp_path_factory.mktemp("out")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    tr = Tracer("t", spark.sparkContext)
    try:
        with tr.span("work"):
            with tr.span("agg"):
                spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
            with tr.span("pool"):
                # a job from another thread: no group, attributed by window
                with ThreadPoolExecutor(1) as ex:
                    ex.submit(lambda: spark.range(10).count()).result()
        time.sleep(0.05)
        # an ungrouped write outside every span: the background writer
        with ThreadPoolExecutor(1) as ex:
            ex.submit(lambda: spark.range(10).write.parquet(str(out / "w"))).result()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    jobs = spans.read_event_log(spans.event_log_files(str(log_dir), app_id))
    return tr, jobs


def test_event_log_groups_and_metrics(traced_app):
    tr, jobs = traced_app
    agg = tr.named("agg")[0]
    grouped = [j for j in jobs if j.group == agg.group]
    assert grouped, "driver-thread jobs carry the span's job group"
    assert all(agg.start - 1 <= j.submit <= agg.end + 1 for j in grouped)
    assert sum(j.tasks for j in grouped) >= 1
    assert sum(j.run_s for j in grouped) >= 0
    assert any(j.shuffle_write_bytes > 0 for j in grouped)  # the groupBy exchange
    assert all(j.end >= j.submit for j in jobs)


def test_event_log_ungrouped_attribution(traced_app):
    tr, jobs = traced_app
    by = attribute(tr, jobs)
    pool = tr.named("pool")[0]
    assert any(j.group is None for j in by[pool.group]), \
        "the other thread's job is ungrouped and lands in the open span"
    writes = by[BACKGROUND]
    assert writes and all(j.group is None for j in writes)
    assert any(j.action.startswith("parquet at") for j in writes)


def test_event_log_files_reads_rolling_dir(tmp_path):
    app = "local-123"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Stage Infos": [{"Stage ID": 0, "Stage Name": "count at a:1"}],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 100, "Memory Bytes Spilled": 5,
                          "Disk Bytes Spilled": 6,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
    ]
    (d / f"events_1_{app}").write_text("\n".join(json.dumps(x) for x in lines[:1]) + "\n")
    (d / f"events_2_{app}").write_text(json.dumps(lines[1]) + "\n")
    (d / f"appstatus_{app}").write_text("")
    files = spans.event_log_files(str(tmp_path), app)
    assert [Path(f).name for f in files] == [f"events_1_{app}", f"events_2_{app}"]
    (job,) = spans.read_event_log(files)
    assert (job.group, job.action, job.tasks) == ("g", "count at a:1", 1)
    assert job.run_s == pytest.approx(1.5) and job.cpu_s == pytest.approx(1.0)
    assert job.gc_s == pytest.approx(0.1)
    assert (job.spill_bytes, job.shuffle_write_bytes) == (11, 7)
    assert job.end == job.submit  # no JobEnd seen


def test_benchmark_json_matches_runner():
    from perfbench.run import END_TO_END, PER_LAYER

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
