"""Durable delta-log protocol (round 4): commits write O(delta), manifests
pin the chain + running totals, compaction bounds chain legs, and a
retention-broken chain is a loud error.

≙ Iceberg append snapshots (manifest list + summary counts), rewrite_data_files
(compaction) and expire_snapshots (retention) — the sandbox ships no
table-format jars (plans/crawl.py module docstring), so the parquet protocol
carries the same semantics."""

import json
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore
from google_maps_scraper_spark.schemas import SEEN_SCHEMA, STATUS_NEW
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


def _seeds(corpus):
    return [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]


@pytest.fixture(scope="module")
def pages_and_seeds(spark):
    corpus = generate_corpus(n_seeds=2, places_per_serp=4, seed=23)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    return pages, _seeds(corpus)


def _manifests(wd):
    out = {}
    for d in sorted(pathlib.Path(wd).glob("round=*")):
        m = d / "manifest.json"
        if m.exists():
            out[int(d.name.split("=")[1])] = json.loads(m.read_text())
    return out


def test_commits_write_only_deltas(spark, pages_and_seeds, tmp_path_factory):
    """Each committed round dir must hold only the rows APPENDED since the
    previous commit (the O(delta) property), and the union of the final
    chain must reproduce the full table exactly."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("delta"))
    eng = CrawlEngine(spark, pages, wd, CrawlConfig(extract_email=True, now_micros=NOW))
    eng.seed_from_queries(seeds)
    eng.run()
    assert eng.round >= 2

    manifests = _manifests(wd)
    final = manifests[max(manifests)]
    total_seen = eng.counters()["seen"]
    assert final["counters"]["seen"] == total_seen

    # seen-chain dirs must sum to the total: no commit rewrote the table
    per_dir = {
        p: spark.read.schema(SEEN_SCHEMA).parquet(str(pathlib.Path(wd) / p)).count()
        for p in final["chain"]["seen"]
    }
    assert sum(per_dir.values()) == total_seen

    # terminal rows retire EVERY round, so the term chain must be a genuine
    # multi-dir delta chain where no single dir holds the whole history
    from google_maps_scraper_spark.schemas import FRONTIER_SCHEMA

    term_total = sum(final["totals"]["term"].values())
    term_dirs = {
        p: spark.read.schema(FRONTIER_SCHEMA)
        .parquet(str(pathlib.Path(wd) / p)).count()
        for p in final["chain"]["term"]
    }
    assert sum(term_dirs.values()) == term_total
    assert len([v for v in term_dirs.values() if v]) >= 2
    assert all(v < term_total for v in term_dirs.values())

    # chain union == in-memory table, row for row
    chain_df = ParquetDeltaLogStore(spark, wd).read("seen", max(manifests))
    assert (
        chain_df.select("url").subtract(eng.seen.select("url")).count() == 0
        and eng.seen.select("url").subtract(chain_df.select("url")).count() == 0
    )

    # every mid-run manifest carries exact write-observed counters (the old
    # protocol wrote null until fixpoint) and a snapshot summary linking it
    # to its parent (≙ Iceberg snapshot parent-id + summary)
    prev = None
    for rnd, m in sorted(manifests.items()):
        assert m["counters"] is not None and "seen" in m["counters"], rnd
        cm = m["commit_meta"]
        assert cm["actions"]["term"] in ("none", "delta", "compact")
        assert m["parent_round"] == (prev if prev is not None else -1)
        prev = rnd


def test_compaction_bounds_chain_legs(spark, pages_and_seeds, tmp_path_factory):
    """With compact_chain=2 every published manifest's chains stay ≤ 2 legs
    and the final state is unchanged vs an uncompacted run."""
    pages, seeds = pages_and_seeds
    wd_a = str(tmp_path_factory.mktemp("compact"))
    wd_b = str(tmp_path_factory.mktemp("nocompact"))
    kw = dict(extract_email=True, now_micros=NOW)

    a = CrawlEngine(spark, pages, wd_a, CrawlConfig(compact_chain=2, **kw))
    a.seed_from_queries(seeds)
    ca = a.run()
    b = CrawlEngine(spark, pages, wd_b, CrawlConfig(**kw))
    b.seed_from_queries(seeds)
    cb = b.run()
    assert ca == cb

    for rnd, m in _manifests(wd_a).items():
        for t, paths in m["chain"].items():
            assert len(paths) <= 2, (rnd, t, paths)
    # the resumed compacted store reproduces identical results
    r = CrawlEngine.resume(spark, pages, wd_a, CrawlConfig(compact_chain=2, **kw))
    assert r.counters() == ca
    got = {
        (x["link"], x["canonical_json"])
        for x in r.results.select("link", "canonical_json").collect()
    }
    want = {
        (x["link"], x["canonical_json"])
        for x in b.results.select("link", "canonical_json").collect()
    }
    assert got == want


def test_broken_chain_resume_is_loud(spark, pages_and_seeds, tmp_path_factory):
    """Deleting a chain-referenced delta dir must make resume fail loudly,
    never silently drop the missing rows."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("broken"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)
    eng = CrawlEngine(spark, pages, wd, cfg)
    eng.seed_from_queries(seeds)
    eng.run()
    final = _manifests(wd)[eng.round]
    round_of = ParquetDeltaLogStore._round_of
    victims = {
        round_of(p)
        for ps in final["chain"].values()
        for p in ps
        if round_of(p) < eng.round
    }
    assert victims, "multi-round chain must reference an older dir"
    shutil.rmtree(pathlib.Path(wd) / f"round={min(victims):04d}")
    with pytest.raises(ValueError, match="retention has pruned"):
        CrawlEngine.resume(spark, pages, wd, cfg)


def test_seen_segments_are_immutable_deltas(spark, pages_and_seeds, tmp_path_factory):
    """In-memory O(delta) invariant for the seen set: per-round admissions
    become materialized block-backed segments (never re-copied), and the
    union view equals their sum."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("seensegs"))
    eng = CrawlEngine(
        spark, pages, wd,
        # budget 1 serializes the two SERP seeds into two admission rounds
        CrawlConfig(extract_email=False, now_micros=NOW, checkpoint_every=100,
                    host_budget=1, politeness_salts=1),
    )
    eng.seed_from_queries(seeds)
    for _ in range(64):  # drain WITHOUT finalize (finalize re-roots segments
        if eng.run_round().get("done"):  # at the committed chain)
            break
    assert len(eng._seen_segs) >= 2  # one admission segment per SERP round
    for seg in eng._seen_segs:
        plan = seg._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan and "Join" not in plan
    assert eng.seen.count() == sum(s.count() for s in eng._seen_segs)
    # the live frontier never holds terminal rows alongside
    assert eng._frontier.filter(F.col("status") != STATUS_NEW).count() == 0
