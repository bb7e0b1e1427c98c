"""url-bucketed pages table (Iceberg ``bucket(url)`` partition analog).

The fetch stand-in is ``pages ⋈ claim ON url``.  For big-claim rounds the
round-4 engine hints a shuffled-hash build on the claim side; with the
pages table written url-bucketed the scan itself satisfies the join's
required distribution, so ONLY the slim claim keys shuffle — the multi-KB
html column must never appear in any Exchange, and the driver never builds
a broadcast hash serially.  These tests pin:

  * byte-identical crawl results on the bucketed + forced-shuffle path vs
    the sequential oracle (the correctness contract is join-strategy
    independent);
  * the plan shape: html outside every Exchange, no cartesian/BNLJ, and a
    ShuffledHashJoin (not a sort of page rows) for the fetch join.
"""

import re

import pytest

from google_maps_scraper_spark.plans import crawl
from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from google_maps_scraper_spark.plans.oracle import SequentialOracle
from google_maps_scraper_spark.sources.corpus import (
    bucketed_pages_spec,
    corpus_to_spark,
    generate_corpus,
    read_bucketed_pages,
    write_bucketed_pages,
)

NOW = 1786838400000000


def _exchange_inputs(formatted: str) -> list[str]:
    blocks = re.split(r"\n(?=\(\d+\) )", formatted)
    return [
        m.group(1)
        for b in blocks
        if re.match(r"\(\d+\) Exchange", b)
        for m in re.finditer(r"Input \[\d+\]: \[([^\]]*)\]", b)
    ]


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_seeds=3, places_per_serp=8, seed=42)


@pytest.fixture(scope="module")
def bucketed_pages(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bucketed") / "pages")
    df = corpus_to_spark(spark, corpus)
    write_bucketed_pages(spark, df, path, buckets=8, table="gms_pages_bkt_w")
    assert bucketed_pages_spec(path) == 8
    return read_bucketed_pages(spark, path, buckets=8, table="gms_pages_bkt_r")


@pytest.fixture(scope="module")
def oracle_out(corpus):
    pages = {p["url"]: p["html"] for p in corpus.pages}
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    return SequentialOracle(pages, extract_email=True, now_micros=NOW).run(seeds)


@pytest.fixture(scope="module")
def engine_out(spark, bucketed_pages, corpus, tmp_path_factory):
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    eng = CrawlEngine(
        spark,
        bucketed_pages,
        str(tmp_path_factory.mktemp("crawl-bkt")),
        CrawlConfig(extract_email=True, now_micros=NOW, capture_plans=True),
    )
    # a zero broadcast bound forces EVERY claim (and the seen probe's
    # candidate gate) onto the large-scale shuffle paths — on the bucketed
    # table that is the storage-partitioned join
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl, "_BROADCAST_ROWS", 0)
        eng.seed_from_queries(seeds)
        counters = eng.run()
    return eng, counters


def test_results_byte_identical_on_bucketed_shuffle_path(oracle_out, engine_out):
    eng, _ = engine_out
    spark_results = {
        r["link"]: r["canonical_json"]
        for r in eng.results.select("link", "canonical_json").collect()
    }
    oracle_results = {
        r["entry"]["link"]: r["canonical_json"] for r in oracle_out.results
    }
    assert spark_results == oracle_results


def test_seen_decisions_match_on_bucketed_shuffle_path(oracle_out, engine_out):
    eng, _ = engine_out
    spark_seen = {r["url"] for r in eng.seen.select("url").collect()}
    oracle_seen = {
        url for url, admitted, _parent in oracle_out.seen_decisions if admitted
    }
    assert spark_seen == oracle_seen


def _fetch_plans(eng):
    plans = [v for k, v in eng.plan_log.items() if k.endswith("/fetch_dispatch")]
    assert plans, f"no fetch_dispatch plans captured: {list(eng.plan_log)}"
    return plans


def test_html_outside_every_exchange(engine_out):
    """The storage-partitioned fetch join must shuffle only claim keys —
    across EVERY round (search fan-out, place, email harvest)."""
    eng, _ = engine_out
    for plan in _fetch_plans(eng):
        for cols in _exchange_inputs(plan):
            assert "html" not in cols, f"html entered an Exchange:\n[{cols}]"
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in plan


def test_fetch_join_is_shuffled_hash_on_pages_scan(engine_out):
    """Pages side satisfies the distribution (bucketed scan); the claim
    side builds the hash — no sort of multi-KB page rows, no broadcast."""
    eng, _ = engine_out
    for plan in _fetch_plans(eng):
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "Bucketed: true" in plan


def test_bucketed_spec_roundtrip(tmp_path):
    assert bucketed_pages_spec(str(tmp_path)) is None
