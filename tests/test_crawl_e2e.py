"""End-to-end crawl: Spark engine vs the sequential oracle.

The oracle enacts the reference's exact scheduling (priority queue drained
(priority ASC, created_at ASC), single-threaded deduper); the Spark engine
must reproduce its URL-seen decisions and its result set byte-identically
(canonical JSON per url — the BASELINE.json invariant)."""

import tempfile

import pytest

from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from google_maps_scraper_spark.plans.oracle import SequentialOracle
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_seeds=3, places_per_serp=8, seed=42)


@pytest.fixture(scope="module")
def oracle_out(corpus):
    pages = {p["url"]: p["html"] for p in corpus.pages}
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    return SequentialOracle(pages, extract_email=True, now_micros=NOW).run(seeds)


@pytest.fixture(scope="module")
def engine_out(spark, corpus, tmp_path_factory):
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    eng = CrawlEngine(
        spark,
        pages_df,
        str(tmp_path_factory.mktemp("crawl")),
        CrawlConfig(extract_email=True, now_micros=NOW),
    )
    eng.seed_from_queries(seeds)
    counters = eng.run()
    return eng, counters


def test_seen_decisions_match(oracle_out, engine_out):
    eng, _ = engine_out
    spark_seen = {
        (r["url"], r["admitting_parent"])
        for r in eng.seen.select("url", "admitting_parent").collect()
    }
    oracle_admitted = {
        (url, parent) for url, admitted, parent in oracle_out.seen_decisions if admitted
    }
    assert spark_seen == oracle_admitted


def test_results_byte_identical(oracle_out, engine_out):
    eng, _ = engine_out
    spark_results = {
        r["link"]: r["canonical_json"]
        for r in eng.results.select("link", "canonical_json").collect()
    }
    oracle_results = {r["entry"]["link"]: r["canonical_json"] for r in oracle_out.results}
    assert set(spark_results) == set(oracle_results)
    mismatches = {
        k for k in oracle_results if spark_results[k] != oracle_results[k]
    }
    assert not mismatches, f"canonical JSON mismatch for {sorted(mismatches)[:3]}"


def test_counters_consistent(oracle_out, engine_out):
    eng, counters = engine_out
    # every seed SERP processed; no place/email left unclaimed
    assert counters.get("search_new", 0) == 0
    assert counters.get("place_new", 0) == 0
    assert counters.get("email_new", 0) == 0
    assert counters["results"] == len(oracle_out.results)
    assert counters["seen"] == len(
        {u for u, admitted, _ in oracle_out.seen_decisions if admitted}
    )


def test_emails_match(oracle_out, engine_out):
    eng, _ = engine_out
    spark_emails = {
        r["link"]: tuple(r["emails"] or [])
        for r in eng.results.select("link", "emails").collect()
    }
    for res in oracle_out.results:
        want = tuple(res["entry"].get("emails") or [])
        assert spark_emails[res["entry"]["link"]] == want


def test_bfs_rounds(engine_out):
    eng, counters = engine_out
    # 2-hop graph with email hop: search→place→email enter rounds 1/2/3;
    # failed jobs (malformed pages) may be re-claimed in later retry rounds
    # (≙ MaxRetries requeue, gmaps/job.go:57), so only the FIRST claim round
    # per kind is structural.
    assert counters["round"] >= 3
    rows = eng.frontier.select("kind", "round_claimed").collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], set()).add(r["round_claimed"])
    assert min(by_kind["search"]) == 1
    assert min(by_kind["place"]) == 2
    assert min(by_kind.get("email", {3})) == 3
    # successful jobs complete at their BFS round; only failures repeat
    done_rounds = {
        r["kind"]: r["rc"]
        for r in eng.frontier.filter("status = 'done'")
        .groupBy("kind").agg({"round_claimed": "max"})
        .withColumnRenamed("max(round_claimed)", "rc").collect()
    }
    assert done_rounds["search"] == 1
    assert done_rounds["place"] == 2
    assert done_rounds.get("email", 3) == 3


def test_resume_equivalence(spark, corpus, tmp_path_factory, engine_out):
    """Kill-and-resume parity: stop after round 1, resume in a fresh engine,
    final results equal the uninterrupted run (FIXTURES.md §4 resume check)."""
    eng_full, _ = engine_out
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    wd = str(tmp_path_factory.mktemp("resume"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)
    eng1 = CrawlEngine(spark, pages_df, wd, cfg)
    eng1.seed_from_queries(seeds)
    eng1.run_round()  # only round 1, then "crash"
    # durable commits overlap the next round since round 3: pin the crash
    # AFTER round 1's commit (the crash-before-commit variant — resume from
    # the previous round — is covered by test_checkpoint_kill_during_write)
    eng1._join_pending_checkpoint()
    del eng1

    eng2 = CrawlEngine.resume(spark, pages_df, wd, cfg)
    assert eng2.round == 1
    eng2.run()

    full = {
        r["link"]: r["canonical_json"]
        for r in eng_full.results.select("link", "canonical_json").collect()
    }
    resumed = {
        r["link"]: r["canonical_json"]
        for r in eng2.results.select("link", "canonical_json").collect()
    }
    assert resumed == full


def test_fixpoint_even_round_checkpoint(spark, corpus, tmp_path_factory, engine_out):
    """Regression (round-2 ADVICE, high): with checkpoint_every>1, a crawl
    whose final round lands exactly on the durable cadence must not
    re-checkpoint at fixpoint — the old overwrite targeted the very parquet
    dirs the state DataFrames were lazily reading, crashing the run and
    destroying the last durable snapshot."""
    eng_full, counters = engine_out
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    rounds = counters["round"]
    # cadence == total rounds → the final round writes the durable snapshot
    # inside run_round(); pre-fix, run() then overwrote that same round dir.
    wd = str(tmp_path_factory.mktemp("evenckpt"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW, checkpoint_every=rounds)
    eng = CrawlEngine(spark, pages_df, wd, cfg)
    eng.seed_from_queries(seeds)
    c2 = eng.run()
    assert c2["results"] == counters["results"]
    assert eng._durable_round == eng.round
    # the snapshot must be intact and resumable
    eng3 = CrawlEngine.resume(spark, pages_df, wd, cfg)
    assert eng3.round == eng.round
    assert eng3.results.count() == counters["results"]


def test_checkpoint_kill_during_write(spark, corpus, tmp_path_factory, engine_out, monkeypatch):
    """Kill injected INSIDE the snapshot writer (at the atomic publish step):
    the previous committed round must survive untouched, and resume + rerun
    must reach the same final results (rename-commit protocol proof).
    Durable writes are overlapped with the next round since round 3, so the
    injected error surfaces at the JOIN point (next run_round/finalize), not
    inside the round that submitted the write."""
    import google_maps_scraper_spark.plans.store as store_mod

    eng_full, counters = engine_out
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    wd = str(tmp_path_factory.mktemp("killwrite"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)
    eng = CrawlEngine(spark, pages_df, wd, cfg)
    eng.seed_from_queries(seeds)
    eng.run_round()  # round 1 submitted
    eng._join_pending_checkpoint()  # round-1 snapshot durably committed

    real_rename = store_mod.os.rename

    def boom(*a, **k):
        raise RuntimeError("injected kill during checkpoint publish")

    monkeypatch.setattr(store_mod.os, "rename", boom)
    eng.run_round()  # round 2: overlapped checkpoint dies in the background
    with pytest.raises(RuntimeError, match="injected kill"):
        eng.finalize()  # join point re-raises the write error
    monkeypatch.setattr(store_mod.os, "rename", real_rename)
    del eng

    assert store_mod.ParquetDeltaLogStore(spark, wd).current() == 1
    eng2 = CrawlEngine.resume(spark, pages_df, wd, cfg)
    assert eng2.round == 1
    eng2.run()
    full = {
        r["link"]: r["canonical_json"]
        for r in eng_full.results.select("link", "canonical_json").collect()
    }
    resumed = {
        r["link"]: r["canonical_json"]
        for r in eng2.results.select("link", "canonical_json").collect()
    }
    assert resumed == full


def test_robots_denied_terminal(spark, corpus, tmp_path_factory):
    """Regression (round-2 ADVICE, medium): robots-denied jobs are terminal
    FAILED — never retried back to NEW, and flipped even when a round claims
    nothing besides them."""
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    cfg = CrawlConfig(
        extract_email=False,
        now_micros=NOW,
        robots=[("google.com", "/maps/place/")],
    )
    eng = CrawlEngine(spark, pages_df, str(tmp_path_factory.mktemp("robots")), cfg)
    eng.seed_from_queries(seeds)
    counters = eng.run()
    # every admitted place job was denied and must end FAILED (not NEW)
    assert counters.get("place_new", 0) == 0
    assert counters.get("place_done", 0) == 0
    assert counters.get("place_failed", 0) > 0
    assert counters["results"] == 0
    # denied jobs were never re-claimed: retries stayed 0
    assert (
        eng.frontier.filter("kind = 'place' AND retries > 0").count() == 0
    )


def test_resume_rebuilds_missing_bloom(spark, corpus, tmp_path_factory):
    """Regression (round-2 ADVICE, medium): resuming with seen_bloom=True from
    a snapshot that has no persisted filter must rebuild it from the seen
    table — an empty Bloom over a non-empty seen set would route every seen
    URL down the definite-new path and admit duplicates."""
    pages_df = corpus_to_spark(spark, corpus)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    wd = str(tmp_path_factory.mktemp("bloomresume"))
    cfg_off = CrawlConfig(extract_email=False, now_micros=NOW, seen_bloom=False)
    eng = CrawlEngine(spark, pages_df, wd, cfg_off)
    eng.seed_from_queries(seeds)
    eng.run_round()
    eng.run_round()  # places admitted → seen non-empty
    seen_urls = [r["url"] for r in eng.seen.select("url").collect()]
    assert seen_urls
    del eng

    cfg_on = CrawlConfig(
        extract_email=False, now_micros=NOW, seen_bloom=True, bloom_capacity=10_000
    )
    eng2 = CrawlEngine.resume(spark, pages_df, wd, cfg_on)
    assert eng2._bloom is not None
    misses = [u for u in seen_urls if not eng2._bloom.might_contain(u)]
    assert not misses, f"rebuilt Bloom false-negatives: {misses[:3]}"


def test_duplicate_page_captures_latest_wins(spark, corpus, tmp_path_factory, engine_out):
    """Regression (round-2 ADVICE, low): multiple captures per url (legal —
    the schema carries warc_ts) must neither duplicate results nor mask fetch
    misses; the latest capture wins (≙ a live fetch returning the current
    page)."""
    from pyspark.sql import functions as F

    eng_full, counters = engine_out
    pages_df = corpus_to_spark(spark, corpus)
    # add an OLDER, malformed capture of every place page: if dedup-by-latest
    # is broken these either produce duplicate/failed results or mask misses
    stale = (
        pages_df.filter(F.col("url").contains("/maps/place/"))
        .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 30 DAYS"))
        .withColumn("html", F.lit(b"<html>stale capture, not parseable</html>"))
    )
    dup_pages = pages_df.unionByName(stale)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)
    eng = CrawlEngine(spark, dup_pages, str(tmp_path_factory.mktemp("dupcap")), cfg)
    eng.seed_from_queries(seeds)
    c2 = eng.run()
    assert c2["results"] == counters["results"]
    full = {
        r["link"]: r["canonical_json"]
        for r in eng_full.results.select("link", "canonical_json").collect()
    }
    got = {
        r["link"]: r["canonical_json"]
        for r in eng.results.select("link", "canonical_json").collect()
    }
    assert got == full


def test_counters_write_observed_equals_aggregation(spark, tmp_path):
    """The write-observed counters cache must equal the full aggregation
    bit-for-bit (same keys, same values) — and invalidate as soon as state
    moves past the committed round."""
    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.sources.corpus import (
        corpus_to_spark,
        generate_corpus,
    )

    corpus = generate_corpus(n_seeds=3, places_per_serp=5)
    pages = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark, pages, str(tmp_path / "wd"),
        CrawlConfig(extract_email=True, now_micros=1786838400000000),
    )
    eng.seed_from_queries(
        [(s["query"].split(" #!#")[0], s["custom_id"]) for s in corpus.seeds]
    )
    got = eng.run()
    assert got and eng._counters_from_write is not None
    cached = eng.counters()
    # force the exact aggregation path and compare
    eng._counters_from_write = None
    exact = eng.counters()
    assert cached == exact
    assert cached["results"] > 0 and cached["seen"] > 0


def test_terminal_segments_are_materialized_once(spark, tmp_path):
    """Frontier terminal segments must be checkpointed leaves (immutable,
    never re-persisted) and the live set must hold only NEW rows."""
    from pyspark.sql import functions as F

    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.schemas import STATUS_NEW
    from google_maps_scraper_spark.sources.corpus import (
        corpus_to_spark,
        generate_corpus,
    )

    corpus = generate_corpus(n_seeds=2, places_per_serp=4)
    pages = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark, pages, str(tmp_path / "wd"),
        CrawlConfig(extract_email=False, now_micros=1786838400000000,
                    checkpoint_every=100, term_flush_rows=0),
    )
    eng.seed_from_queries(
        [(s["query"].split(" #!#")[0], s["custom_id"]) for s in corpus.seeds]
    )
    eng.run_round()
    eng.run_round()
    assert eng._frontier.filter(F.col("status") != STATUS_NEW).count() == 0
    assert len(eng._frontier_done) >= 2  # seed segment + per-round segments
    for seg in eng._frontier_done:
        # a materialized segment is rooted at RDD blocks, not a live plan:
        # its physical plan must be a bare scan of an existing RDD
        plan = seg._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan and "Join" not in plan
    # full view equals live + segments with no row lost
    full_n = eng.frontier.count()
    parts = eng._frontier.count() + sum(s.count() for s in eng._frontier_done)
    assert full_n == parts


def test_terminal_batching_conserves_rows(spark, tmp_path):
    """With the default flush threshold, tiny rounds accumulate retiring
    rows lazily — the full view, counters, and snapshots must still see
    every row, and a durable snapshot must round-trip identically."""
    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.sources.corpus import (
        corpus_to_spark,
        generate_corpus,
    )

    corpus = generate_corpus(n_seeds=2, places_per_serp=4)
    pages = corpus_to_spark(spark, corpus)
    kw = dict(extract_email=True, now_micros=1786838400000000)
    a = CrawlEngine(spark, pages, str(tmp_path / "a"), CrawlConfig(**kw))
    a.seed_from_queries(
        [(s["query"].split(" #!#")[0], s["custom_id"]) for s in corpus.seeds]
    )
    ca = a.run()
    assert a._term_lazy  # tiny corpus: deltas stayed lazy (batched)
    b = CrawlEngine(
        spark, pages, str(tmp_path / "b"), CrawlConfig(term_flush_rows=0, **kw)
    )
    b.seed_from_queries(
        [(s["query"].split(" #!#")[0], s["custom_id"]) for s in corpus.seeds]
    )
    cb = b.run()
    assert not b._term_lazy  # flush-every-round mode
    assert ca == cb
    # resume from a's durable snapshot reproduces the same counters
    r = CrawlEngine.resume(spark, pages, str(tmp_path / "a"), CrawlConfig(**kw))
    assert r.counters() == ca


def test_entry_crawl_twin_matches_engine_counters(spark):
    """The flagship twin (__spark_entry__.entry_crawl) and a directly-driven
    CrawlEngine on the same seeded corpus must report identical final
    counters, and those counters must match the sequential oracle — pins the
    flagship path to the real engine so they cannot drift (round-4 VERDICT
    next-round #6)."""
    import __spark_entry__ as entrymod

    twin = {r["counter"]: r["n"] for r in entrymod.entry_crawl(spark).collect()}

    corpus = generate_corpus(n_seeds=3, places_per_serp=5, seed=7)
    pages = {p["url"]: p["html"] for p in corpus.pages}
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    oracle = SequentialOracle(pages, extract_email=True, now_micros=NOW).run(seeds)

    eng = CrawlEngine(
        spark,
        corpus_to_spark(spark, corpus),
        tempfile.mkdtemp(prefix="twin-direct-"),
        CrawlConfig(extract_email=True),
    )
    eng.seed_from_queries(seeds)
    direct = {k: int(v) for k, v in eng.run().items() if isinstance(v, int)}

    assert twin == direct
    assert twin["results"] == len(oracle.results)
    assert twin["seen"] == len(
        {u for u, admitted, _ in oracle.seen_decisions if admitted}
    )
    assert twin.get("search_new", 0) == 0 and twin.get("place_new", 0) == 0
