"""Span recorder and Spark event-log reader for the benchmark.

The benchmark times calls into the program from outside.  ``Tracer`` records
one span per call (name, start, end, parent) and, when tracing is on, tags
every Spark job the call submits from the driver thread with the job group
``bench/<workload>/<span>``.  ``read_event_log`` then sums executor work per
group from Spark's JSON event log, and ``attribute`` maps each group back to
its span.

Jobs submitted from other Python threads carry no job group (and no call
site).  The crawl engine runs three such kinds: the thread pool that
materializes a round's state inside ``run_round``, the pool of
``CrawlEngine.counters()``, and the durable-commit writer, whose parquet
writes overlap the next round.  ``attribute`` therefore sends an ungrouped
job whose action is a file write to the store's background writer
(``BACKGROUND``) and any other ungrouped job to the innermost span open when
it was submitted.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

BACKGROUND = "store.background"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float          # epoch seconds (the event log's clock)
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``spark_context`` is set only on traced
    runs; without it spans are plain wall-clock timers."""

    def __init__(self, workload: str, spark_context=None):
        self.workload = workload
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, attrs=dict(attrs))
        sp.group = f"bench/{self.workload}/{name}#{len(self.spans)}"
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setLocalProperty(_GROUP_KEY, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_KEY, prev)

    def children(self, idx: int | None) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """The span's duration minus the part its children cover."""
        sp = self.spans[idx]
        kids = [(self.spans[i].start, self.spans[i].end) for i in self.children(idx)]
        return sp.duration - covered(kids, sp.start, sp.end)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- event log -------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float          # epoch seconds
    action: str = ""       # name of the job's result stage, "<action> at <site>"
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0     # executor run time
    cpu_s: float = 0.0     # executor CPU time
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log file(s) of one application: a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory or a single file."""
    for name in os.listdir(log_dir):
        if app_id not in name:
            continue
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            return [os.path.join(path, f) for f in parts]
        return [path]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_event_log(paths: list[str]) -> list[Job]:
    """Jobs of one application with their tasks' metrics summed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    final = max(ev.get("Stage Infos", []),
                                key=lambda st: st["Stage ID"], default={})
                    jobs[jid] = Job(jid, props.get(_GROUP_KEY),
                                    ev["Submission Time"] / 1000.0,
                                    final.get("Stage Name", ""))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid not in jobs or not m:
                        continue
                    j = jobs[jid]
                    j.tasks += 1
                    j.run_s += m.get("Executor Run Time", 0) / 1e3
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    j.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    j.spill_bytes += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    for j in jobs.values():
        if not j.end:
            j.end = j.submit
    return sorted(jobs.values(), key=lambda j: j.job_id)


# DataFrameWriter actions, as they name a job's result stage
_WRITE_ACTIONS = ("parquet at ", "save at ", "saveAsTable at ", "insertInto at ",
                  "json at ", "csv at ", "text at ", "orc at ")


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[str, list[Job]]:
    """Map span group → its jobs.  A grouped job goes to its own span.  An
    ungrouped write goes to ``BACKGROUND``; any other ungrouped job goes to
    the innermost span open at its submission (``BACKGROUND`` if none)."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        group = j.group
        if group is None and not j.action.startswith(_WRITE_ACTIONS):
            open_spans = [s for s in tracer.spans if s.start <= j.submit <= s.end]
            if open_spans:
                group = max(open_spans, key=lambda s: s.start).group
        by_group.setdefault(group or BACKGROUND, []).append(j)
    return by_group
