"""Snapshot time travel + retention on the parquet state store, the
commit-point regression fencing guard, robots re-stamping on resume, and the
stats-reset hardening (round-3 VERDICT #3/#5/#8 + ADVICE robots/fencing).

Time travel ≙ Iceberg ``rollback_to_snapshot`` / snapshot-id reads — the one
MERGE-store capability gap the sandbox's plain-parquet protocol could still
close (round-3 VERDICT "what's missing" #1)."""

import pathlib
import shutil

import pytest

from google_maps_scraper_spark.plans.crawl import (
    ConcurrentWriterError,
    CrawlConfig,
    CrawlEngine,
)
from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


def _seeds(corpus):
    return [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]


def _result_set(eng):
    return {
        (r["link"], r["canonical_json"])
        for r in eng.results.select("link", "canonical_json").collect()
    }


@pytest.fixture(scope="module")
def pages_and_seeds(spark):
    corpus = generate_corpus(n_seeds=2, places_per_serp=4, seed=13)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    return pages, _seeds(corpus)


def test_resume_from_older_round_replays_identically(
    spark, pages_and_seeds, tmp_path_factory
):
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("tt"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)

    a = CrawlEngine(spark, pages, wd, cfg)
    a.seed_from_queries(seeds)
    a.run()
    final = _result_set(a)
    final_round = a.round
    assert final_round >= 2  # corpus must exercise multiple rounds

    # travel back to round 1, replay forward: identical final tables
    b = CrawlEngine.resume(spark, pages, wd, cfg, from_round=1)
    assert b.round == 1
    # newer (now-divergent) round dirs were pruned, commit point rewound
    rounds_left = sorted(
        int(d.name.split("=")[1]) for d in pathlib.Path(wd).glob("round=*")
    )
    assert rounds_left == [0, 1]
    assert ParquetDeltaLogStore(spark, wd).current() == 1

    b.run()
    assert b.round == final_round
    assert _result_set(b) == final


def test_resume_from_round_validation(spark, pages_and_seeds, tmp_path_factory):
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("tt-bad"))
    a = CrawlEngine(spark, pages, wd, CrawlConfig(now_micros=NOW))
    a.seed_from_queries(seeds)
    a.run_round()
    a.finalize()
    with pytest.raises(ValueError, match="ahead of the commit point"):
        CrawlEngine.resume(spark, pages, wd, CrawlConfig(now_micros=NOW), from_round=99)


def _crawl_rows(eng):
    """What a crawl decided and when: per-job claim round, admissions,
    emitted results."""
    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    return (
        rows(eng.frontier, "job_id", "round_claimed"),
        rows(eng.seen, "url", "admitting_parent", "round_admitted"),
        rows(eng.results, "link", "canonical_json", "round_emitted"),
    )


def test_rewrite_expire_resume_keeps_crawl_clock(
    spark, pages_and_seeds, tmp_path_factory
):
    """Retention's one path — ``rewrite_data_files`` then
    ``expire_snapshots``, run between crawls — changes no crawl state: a
    crawl resumed from the compacted head claims, admits and emits exactly
    as an uninterrupted one.  The host budget does not divide by the salt
    count, so the remainder rotation makes the claim schedule depend on the
    round number, and a compaction that moved the round clock would show."""
    pages, seeds = pages_and_seeds
    cfg = CrawlConfig(
        extract_email=True, now_micros=NOW, host_budget=5, politeness_salts=4
    )
    ref = CrawlEngine(spark, pages, str(tmp_path_factory.mktemp("tt-ref")), cfg)
    ref.seed_from_queries(seeds)
    ref_counters = ref.run()

    wd = str(tmp_path_factory.mktemp("tt-keep"))
    a = CrawlEngine(spark, pages, wd, cfg)
    a.seed_from_queries(seeds)
    a.run_round()
    a.finalize()
    store = ParquetDeltaLogStore(spark, wd)
    head = store.rewrite_data_files()
    assert store.manifest(head)["round"] == 1
    assert store.expire_snapshots(keep_last=1) == [0, 1]
    assert store.snapshots() == [head]

    b = CrawlEngine.resume(spark, pages, wd, cfg)
    assert b.round == 1
    assert b.run() == ref_counters
    assert _crawl_rows(b) == _crawl_rows(ref)
    # an expired snapshot is a loud error, not silent corruption
    with pytest.raises(ValueError, match="no committed snapshot"):
        CrawlEngine.resume(spark, pages, wd, cfg, from_round=0)


def test_latest_regression_refused(spark, pages_and_seeds, tmp_path_factory):
    """Narrowed check-then-act window (round-3 ADVICE): a writer whose round
    number no longer exceeds the published commit point must refuse to
    commit even if its WRITER token still matches (e.g. the takeover
    happened between the final token check and the publish)."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("tt-fence"))
    a = CrawlEngine(spark, pages, wd, CrawlConfig(now_micros=NOW))
    a.seed_from_queries(seeds)
    a.run_round()
    a._join_pending_checkpoint()
    # simulate a racing writer having advanced the commit point: a
    # committed round dir above this writer's next round
    shutil.copytree(pathlib.Path(wd) / "round=0001", pathlib.Path(wd) / "round=0007")
    a.run_round()
    with pytest.raises(ConcurrentWriterError, match="refusing to regress"):
        a.finalize()


def test_robots_rules_reapplied_on_resume(spark, pages_and_seeds, tmp_path_factory):
    """Admission-time robots stamping alone would let NEW jobs persisted in
    a checkpoint slip past rules added later (round-3 ADVICE): resume must
    re-stamp the restored frontier under the CURRENT config's rules."""
    from urllib.parse import urlparse

    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("tt-robots"))
    base = CrawlConfig(extract_email=False, now_micros=NOW)

    a = CrawlEngine(spark, pages, wd, base)
    a.seed_from_queries(seeds)
    a.run_round()  # SERP round: place children admitted as NEW
    a.finalize()
    new_rows = (
        a.frontier.filter("status = 'new' AND kind = 'place'")
        .select("url", "host").collect()
    )
    assert new_rows
    victim, host = min((r["url"], r["host"]) for r in new_rows)
    path_prefix = urlparse(victim).path[:12]

    denied_cfg = CrawlConfig(
        extract_email=False, now_micros=NOW, robots=[(host, path_prefix)]
    )
    b = CrawlEngine.resume(spark, pages, wd, denied_cfg)
    b.run()
    statuses = {
        r["url"]: r["status"] for r in b.frontier.select("url", "status").collect()
    }
    assert statuses[victim] == "failed"
    assert b.results.filter(f"url = '{victim}'").count() == 0
    # done history is never rewritten by re-stamping: the seed SERP jobs
    # completed in round 1 and must stay done after the rule lands
    done_serps = [u for u, s in statuses.items() if s == "done"]
    assert done_serps


def test_stats_reset_constant_across_rounds(spark):
    """The localCheckpoint stats-squaring fix must hold for 20+ iterative
    self-join rounds: plan sizeInBytes digit count stays flat instead of
    doubling per round (round-3 VERDICT #3/#8)."""
    from pyspark.sql import functions as F

    eng = CrawlEngine.__new__(CrawlEngine)  # stats helper needs spark only
    eng.spark = spark

    state = spark.range(64).withColumn("k", F.col("id") % 8)
    digits = []
    for _ in range(22):
        derived = state.groupBy("k").count().withColumnRenamed("count", "c")
        state = (
            state.join(derived, "k")
            .select("id", "k")
            .localCheckpoint(eager=True)
        )
        state = eng._reset_stats(state)
        size = state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits.append(len(str(size)))
    # squaring doubles digits per round (would be >100 digits by round 22);
    # a fresh leaf stays at defaultSizeInBytes (constant digit count)
    assert max(digits) == min(digits), digits
    assert state.count() == 64


def test_stats_reset_fallback_path(spark):
    """Spark-version drift on the private fast path must degrade loudly to
    the Python-roundtrip rebuild, not crash or silently skip the reset."""
    from pyspark.sql import functions as F

    eng = CrawlEngine.__new__(CrawlEngine)
    eng.spark = spark
    old = CrawlEngine._stats_reset_broken
    try:
        CrawlEngine._stats_reset_broken = True
        df = spark.range(10).withColumn("v", F.col("id") * 2).localCheckpoint(eager=True)
        out = eng._reset_stats(df)
        assert sorted(r["v"] for r in out.collect()) == [x * 2 for x in range(10)]
    finally:
        CrawlEngine._stats_reset_broken = old
