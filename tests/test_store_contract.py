"""Snapshot-store CONTRACT suite (round-4 VERDICT next-round #3).

``StoreContractSuite`` is written purely against the abstract
``SnapshotStore`` seam (``plans/store.py``) — no parquet-layout knowledge —
so a real Apache-Iceberg-backed store can be certified by subclassing and
rebinding one fixture.  ``TestParquetDeltaLogStore`` binds the shipped
implementation: a workdir produced by a real ``CrawlEngine`` run with
per-round durable commits.

Each test names the Iceberg behavior it pins (the store call → Iceberg API
mapping table lives in ``plans/store.py`` and COVERAGE.md).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from google_maps_scraper_spark.plans.crawl import (
    ConcurrentWriterError,
    CrawlConfig,
    CrawlEngine,
)
from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


def _rows(df):
    """Order-insensitive canonical row multiset (JSON lines, sorted)."""
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
    )


class StoreContractSuite:
    """Abstract contract: subclasses bind ``store`` to a fresh, mutable
    SnapshotStore holding ≥3 committed snapshots of a real run."""

    # -- read side ----------------------------------------------------------

    def test_snapshots_ascending_current_is_max(self, store):
        snaps = store.snapshots()
        assert len(snaps) >= 3
        assert snaps == sorted(snaps)
        assert store.current() == snaps[-1]

    def test_manifest_lineage_chains_to_parent(self, store):
        """Snapshot parent pointers form the linear history Iceberg's
        snapshot log records."""
        snaps = store.snapshots()
        for older, newer in zip(snaps, snaps[1:]):
            assert store.manifest(newer)["parent_round"] == older

    def test_totals_are_exact(self, store):
        """The summary totals (≙ total-records) equal a full read's count at
        EVERY snapshot, not just the head."""
        for at in store.snapshots():
            t = store.totals(at)
            assert store.read("seen", at).count() == t["seen"]
            assert store.read("results", at).count() == t["results"]
            assert store.read("term", at).count() == sum(t["term"].values())

    def test_time_travel_reads_are_append_only(self, store):
        """Older snapshots expose a subset of newer ones (append-only
        tables): the defining property of snapshot-isolation reads."""
        snaps = store.snapshots()
        prev: set | None = None
        for at in snaps:
            cur = set(_rows(store.read("results", at)))
            if prev is not None:
                assert prev <= cur
            prev = cur

    def test_is_resumable_all_retained(self, store):
        for at in store.snapshots():
            assert store.is_resumable(at)
        assert not store.is_resumable(10_000)

    # -- rollback -----------------------------------------------------------

    def test_rollback_discards_newer_lineage(self, store):
        snaps = store.snapshots()
        target = snaps[-2]
        before = _rows(store.read("results", target))
        store.rollback_to(target)
        assert store.current() == target
        assert store.snapshots()[-1] == target
        assert _rows(store.read("results")) == before

    def test_rollback_refuses_future_and_missing(self, store):
        with pytest.raises(ValueError, match="ahead of the commit point"):
            store.rollback_to(store.current() + 5)
        with pytest.raises(ValueError, match="no committed snapshot"):
            store.rollback_to(-3)

    # -- compaction (rewriteDataFiles) --------------------------------------

    def test_rewrite_preserves_contents_as_new_snapshot(self, store):
        cur = store.current()
        before = {t: _rows(store.read(t)) for t in ("seen", "results", "term")}
        new = store.rewrite_data_files()
        assert new > cur
        assert store.current() == new
        for t, rows in before.items():
            assert _rows(store.read(t, new)) == rows
            assert len(store.manifest(new)["chain"][t]) <= 1
        # compaction appends history; it never rewrites it (snapshot
        # immutability): the pre-compaction snapshot still reads identically
        assert _rows(store.read("results", cur)) == before["results"]

    def test_rewrite_totals_carried(self, store):
        cur = store.manifest(store.current())
        store.rewrite_data_files()
        assert store.totals() == cur["totals"]
        # a compaction changes no crawl state: same round, same counters
        new = store.manifest(store.current())
        assert (new["round"], new["counters"]) == (cur["round"], cur["counters"])

    # -- expiry (expireSnapshots) -------------------------------------------

    def test_expire_refuses_while_referenced(self, store):
        """A delta chain referencing older round dirs blocks their expiry —
        Iceberg never deletes files a retained snapshot references."""
        chain = store.manifest(store.current())["chain"]
        refs = {p.split("/", 1)[0] for ps in chain.values() for p in ps}
        if len(refs) <= 1:
            pytest.skip("run compacted down to one leg; nothing referenced")
        with pytest.raises(ValueError, match="rewrite_data_files"):
            store.expire_snapshots(keep_last=1)

    def test_expire_after_rewrite_keeps_readable_head(self, store):
        store.rewrite_data_files()
        head = store.current()
        before = _rows(store.read("results", head))
        dropped = store.expire_snapshots(keep_last=1)
        assert dropped and head not in dropped
        assert store.snapshots() == [head]
        assert store.is_resumable(head)
        assert _rows(store.read("results", head)) == before
        for old in dropped:
            assert not store.is_resumable(old)

    # -- writer fencing (optimistic concurrency) ----------------------------

    def test_conditional_commit_fails_on_lease_change(self, store):
        mine = store.take_over()
        assert store.writer_token() == mine
        store.take_over()  # a second writer fences us out
        with pytest.raises(ConcurrentWriterError):
            store.rewrite_data_files(expected_token=mine)
        # the failed commit must not have advanced the commit point
        snaps_after = store.snapshots()
        assert store.current() == snaps_after[-1]

    def test_rewrite_refuses_to_destroy_concurrently_committed_round(
        self, store
    ):
        """r5 ADVICE (medium): if a concurrent writer already committed
        round cur+1, a compaction racing it must refuse BEFORE removing the
        committed round dir — the data must survive the failed attempt."""
        mine = store.take_over()
        # a rival handle commits round cur+1 for real...
        rival = type(store)(store.spark, store.workdir)
        committed = rival.rewrite_data_files()
        rd = store.workdir / f"round={committed:04d}"
        assert rd.exists() and (rd / "manifest.json").exists()
        # ...and our compaction raced it: its FIRST current() read happened
        # before the rival's commit (stale), everything after sees the
        # committed state
        real_current = store.current
        calls = {"n": 0}

        def stale_then_real():
            calls["n"] += 1
            return real_current() - 1 if calls["n"] == 1 else real_current()

        store.current = stale_then_real
        with pytest.raises(ConcurrentWriterError):
            store.rewrite_data_files(expected_token=mine)
        store.current = real_current
        # the rival's committed snapshot data is intact and still readable
        assert rd.exists() and (rd / "manifest.json").exists()
        assert store.current() == committed
        assert committed in store.snapshots()


@pytest.fixture(scope="module")
def golden_workdir(spark, tmp_path_factory):
    """One real crawl, per-round durable commits, multi-snapshot history."""
    corpus = generate_corpus(n_seeds=3, places_per_serp=5, seed=29)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    wd = tmp_path_factory.mktemp("store-golden") / "wd"
    eng = CrawlEngine(
        spark,
        pages,
        str(wd),
        CrawlConfig(extract_email=True, now_micros=NOW, checkpoint_every=1),
    )
    eng.seed_from_queries(
        [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    )
    eng.run()
    return wd


class TestParquetDeltaLogStore(StoreContractSuite):
    @pytest.fixture
    def store(self, spark, golden_workdir, tmp_path):
        # mutating contract ops (rollback/expire/rewrite) get a private copy
        wd = tmp_path / "wd"
        shutil.copytree(golden_workdir, wd)
        return ParquetDeltaLogStore(spark, wd)
