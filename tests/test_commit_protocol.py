"""Crash points and the same-round race for the snapshot store's commit.

``ParquetDeltaLogStore.commit`` stages a snapshot in a private temp dir and
publishes it with one atomic rename; pruning renames each victim aside
before deleting it.  A failure injected at every step of that protocol must
leave the previous snapshot as the commit point, with nothing listed above
it, and resume + run must still reproduce the sequential oracle's results
byte for byte.  Two writers publishing the same round number must never
replace or delete each other's committed dir.  A take-over sweeps the
staging dirs older writers left, and a writer whose lease moves mid-commit
reports ConcurrentWriterError."""

import os
import shutil
from pathlib import Path

import pytest

import google_maps_scraper_spark.plans.store as store_mod
from google_maps_scraper_spark.plans.crawl import (
    ConcurrentWriterError,
    CrawlConfig,
    CrawlEngine,
)
from google_maps_scraper_spark.plans.oracle import SequentialOracle
from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000
CFG = CrawlConfig(extract_email=False, now_micros=NOW)


class _Crash(Exception):
    """The injected failure."""


@pytest.fixture(scope="module")
def crawl_inputs(spark):
    corpus = generate_corpus(n_seeds=2, places_per_serp=4)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    oracle = SequentialOracle(
        {p["url"]: p["html"] for p in corpus.pages},
        extract_email=False, now_micros=NOW,
    ).run(seeds)
    want = {r["entry"]["link"]: r["canonical_json"] for r in oracle.results}
    return pages, seeds, want


def _commit_next_round(eng, store):
    eng.run_round()
    eng.finalize()  # the join point re-raises the commit's failure


def _crash_after_table_write(mp, eng, store):
    real = store_mod._write_table

    def write_then_crash(df, parts, path):
        real(df, parts, path)
        raise _Crash(f"after writing {path}")

    mp.setattr(store_mod, "_write_table", write_then_crash)
    _commit_next_round(eng, store)


def _crash_after_manifest_write(mp, eng, store):
    real = ParquetDeltaLogStore._check_lease

    def lease_check(self, token):
        staged = list(self.workdir.glob(".tmp.*/manifest.json"))
        if staged:
            # what a kill leaves behind: the fully staged dir, manifest in it
            tmp = staged[0].parent
            shutil.copytree(tmp, tmp.with_name(tmp.name + ".killed"))
            raise _Crash("after the manifest write")
        return real(self, token)

    mp.setattr(ParquetDeltaLogStore, "_check_lease", lease_check)
    _commit_next_round(eng, store)


def _crash_at_rename(mp, eng, store):
    real = os.rename

    def rename(src, dst, *a, **k):
        if Path(dst).name.startswith("round="):
            raise _Crash("at the publish rename")
        return real(src, dst, *a, **k)

    mp.setattr(store_mod.os, "rename", rename)
    _commit_next_round(eng, store)


def _crash_mid_compaction(mp, eng, store):
    real = store_mod._write_table
    calls = []

    def write(df, parts, path):
        calls.append(path)
        if len(calls) == 2:
            raise _Crash("mid-compaction")
        real(df, parts, path)

    mp.setattr(store_mod, "_write_table", write)
    store.rewrite_data_files()


def _crash_mid_rollback_prune(mp, eng, store):
    real = shutil.rmtree

    def half_delete(path, *a, **k):
        # the delete of the first (newest) victim dies part-way through
        real(Path(path) / "frontier")
        raise _Crash("mid-rollback-prune")

    mp.setattr(store_mod.shutil, "rmtree", half_delete)
    store.rollback_to(store.snapshots()[0])


CRASHES = {
    "after_table_write": _crash_after_table_write,
    "after_manifest_write": _crash_after_manifest_write,
    "at_rename": _crash_at_rename,
    "mid_compaction": _crash_mid_compaction,
    "mid_rollback_prune": _crash_mid_rollback_prune,
}


@pytest.mark.parametrize("step", sorted(CRASHES))
def test_crash_point_keeps_previous_snapshot(
    spark, crawl_inputs, tmp_path, monkeypatch, step
):
    pages, seeds, want = crawl_inputs
    wd = tmp_path / "wd"
    eng = CrawlEngine(spark, pages, str(wd), CFG)
    eng.seed_from_queries(seeds)
    for _ in range(2 if step == "mid_rollback_prune" else 1):
        eng.run_round()
    eng._join_pending_checkpoint()
    store = ParquetDeltaLogStore(spark, wd)
    before = store.snapshots()
    # a rollback prunes newest first: the crash lands after the newest
    # snapshot left, so the commit point is the one below it
    expect = before[-2] if step == "mid_rollback_prune" else before[-1]

    with monkeypatch.context() as mp, pytest.raises(_Crash):
        CRASHES[step](mp, eng, store)
    del eng

    assert store.current() == expect
    assert store.snapshots() == before[: before.index(expect) + 1]
    resumed = CrawlEngine.resume(spark, pages, str(wd), CFG)
    assert resumed.round == expect
    resumed.run()
    got = {
        r["link"]: r["canonical_json"]
        for r in resumed.results.select("link", "canonical_json").collect()
    }
    assert got == want


def _publish(spark, store, at, writer):
    df = spark.createDataFrame([(writer,)], "writer string")
    return store.commit(
        at,
        {"t": (df, 1)},
        lambda legs: {"round": at, "writer": writer, "chain": {"t": [legs["t"]]}},
    )


@pytest.mark.parametrize("stale_view", [False, True])
def test_same_round_race_second_publisher_loses(spark, tmp_path, stale_view):
    """Two store handles publish round 1.  The second must raise, leave the
    first one's dir byte-identical and the commit point on it, and remove
    only its own temp dir.  ``stale_view`` makes the loser's commit-point
    guard read a view from before the winner's rename, so the rename
    itself has to refuse (the old check-then-rmtree race)."""
    wd = tmp_path / "wd"
    wd.mkdir()
    a, b = ParquetDeltaLogStore(spark, wd), ParquetDeltaLogStore(spark, wd)
    _publish(spark, a, 0, "a")
    _publish(spark, a, 1, "a")
    if stale_view:
        b.current = lambda: 0
    won = wd / "round=0001"
    files = {p: p.read_bytes() for p in won.rglob("*") if p.is_file()}

    with pytest.raises(ConcurrentWriterError):
        _publish(spark, b, 1, "b")

    assert {p: p.read_bytes() for p in won.rglob("*") if p.is_file()} == files
    assert a.current() == 1 and a.snapshots() == [0, 1]
    assert a.manifest(1)["writer"] == "a"
    assert [r["writer"] for r in spark.read.parquet(str(won / "t")).collect()] == ["a"]
    assert not list(wd.glob(".tmp.*"))


def test_resume_on_empty_workdir_is_loud(spark, crawl_inputs, tmp_path):
    """No committed snapshot: resume must say so, not die reading a file."""
    pages, _, _ = crawl_inputs
    for wd in (tmp_path / "missing", tmp_path / "empty"):
        if wd.name == "empty":
            wd.mkdir()
        with pytest.raises(ValueError, match="no committed snapshot"):
            CrawlEngine.resume(spark, pages, str(wd), CFG)


def test_take_over_sweeps_stale_staging_dirs(spark, tmp_path):
    """A crashed commit's ``.tmp.*`` dir and a crashed prune's ``.drop.*``
    dir are gone after the next ``take_over()``; snapshots stay as they
    were."""
    wd = tmp_path / "wd"
    wd.mkdir()
    store = ParquetDeltaLogStore(spark, wd)
    _publish(spark, store, 0, "a")
    _publish(spark, store, 1, "a")
    before = store.snapshots()
    for name in (".tmp.round=0002.dead", ".drop.round=0001.dead"):
        (wd / name / "t").mkdir(parents=True)
        (wd / name / "manifest.json").write_text("{}")

    store.take_over()

    assert not list(wd.glob(".tmp.*")) and not list(wd.glob(".drop.*"))
    assert store.snapshots() == before


def test_commit_that_loses_the_lease_raises_concurrent_writer(spark, tmp_path):
    """A second handle takes the lease over between the first's staging and
    its publish rename.  The take-over sweeps the staged dir, so the rename
    fails; the first writer must report the lost lease, not the missing
    dir, and publish nothing."""
    wd = tmp_path / "wd"
    wd.mkdir()
    a, b = ParquetDeltaLogStore(spark, wd), ParquetDeltaLogStore(spark, wd)
    token = a.take_over()
    real_current = a.current

    def current_then_lose_lease():
        b.take_over()
        return real_current()

    a.current = current_then_lose_lease
    df = spark.createDataFrame([("a",)], "writer string")
    with pytest.raises(ConcurrentWriterError) as err:
        a.commit(0, {"t": (df, 1)}, lambda legs: {"round": 0}, token)

    assert isinstance(err.value.__cause__, OSError)
    assert not list(wd.glob("round=*"))
