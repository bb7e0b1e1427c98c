"""Plan-regression guard (round-3 VERDICT #7): the physical plans of the
engine's load-bearing dataflows and the headline catalog queries must keep
the 100-TB-safe shape — no CartesianProduct / BroadcastNestedLoopJoin, the
multi-KB html column outside every shuffle, and the seen table scan-probed
(broadcast semi/anti) when the claim is broadcast-sized.  Catches silent
plan regressions that correctness tests cannot (the wrong plan computes the
same rows, 100× slower at scale)."""

import re

import pytest

from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _exchange_inputs(formatted: str) -> list[str]:
    """Column lists flowing INTO each Exchange node of a formatted plan."""
    blocks = re.split(r"\n(?=\(\d+\) )", formatted)
    return [
        m.group(1)
        for b in blocks
        if re.match(r"\(\d+\) Exchange", b)
        for m in re.finditer(r"Input \[\d+\]: \[([^\]]*)\]", b)
    ]


def _single_partition_consumers(plan: str) -> list[str]:
    """The operator each ``repartition(1)`` exchange of a tree-string plan
    feeds: the nearest line above it whose node sits one level shallower."""
    def col(line):
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    consumers = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition, REPARTITION_BY_NUM" in line:
            parent = next(p for p in reversed(lines[:i]) if col(p) < col(line))
            consumers.append(
                re.match(r"(?:\*\(\d+\) )?(\w+)", parent[col(parent):]).group(1)
            )
    return consumers


@pytest.fixture(scope="module")
def plan_log(spark, tmp_path_factory):
    corpus = generate_corpus(n_seeds=2, places_per_serp=4, seed=3)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    eng = CrawlEngine(
        spark, pages, str(tmp_path_factory.mktemp("plan-guard")),
        CrawlConfig(extract_email=False, now_micros=NOW, capture_plans=True),
    )
    eng.seed_from_queries(seeds)
    eng.run_round()  # SERP round: fetch join + admission anti-join
    eng.run_round()  # place round
    eng.finalize()
    assert eng.plan_log
    return eng.plan_log


@pytest.fixture(scope="module")
def email_plan_log(spark, tmp_path_factory):
    """Same crawl with the email hop on — covers the payload-claim round's
    plan shape (the harvest path: html must die inside the pages scan)."""
    corpus = generate_corpus(n_seeds=2, places_per_serp=4, seed=3)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]
    eng = CrawlEngine(
        spark, pages, str(tmp_path_factory.mktemp("plan-guard-email")),
        CrawlConfig(extract_email=True, now_micros=NOW, capture_plans=True),
    )
    eng.seed_from_queries(seeds)
    eng.run()
    assert any(
        "fetch_dispatch" in n and "round003" in n for n in eng.plan_log
    ), "email round plan not captured"
    return eng.plan_log


def test_email_round_never_shuffles_html_or_payload(email_plan_log):
    """The email hop harvests emails inside the pages scan and broadcasts
    the tiny (job_id, emails) result onto the payload claim: neither the
    page bodies nor the multi-KB parked entries may cross an Exchange
    (previously the fetched html shuffle-joined the payloads — a GB-class
    per-round exchange at headline scale)."""
    for name, plan in email_plan_log.items():
        if "fetch_dispatch" not in name:
            continue
        for cols in _exchange_inputs(plan):
            assert not re.search(r"\b(html|payload)#", cols), (
                f"html/payload crosses an Exchange in {name}: [{cols}]"
            )
        for bad in FORBIDDEN:
            assert bad not in plan, f"{bad} in {name}"


def test_no_forbidden_joins_in_crawl_round(plan_log):
    for name, plan in plan_log.items():
        for bad in FORBIDDEN:
            assert bad not in plan, f"{bad} in {name}"


def test_html_never_shuffled_in_payload_free_round(plan_log):
    """Payload-free claims broadcast into the pages scan: html is born and
    dies inside one stage — it must not appear in any Exchange's input."""
    for name, plan in plan_log.items():
        if "fetch_dispatch" not in name:
            continue
        for cols in _exchange_inputs(plan):
            assert not re.search(r"\bhtml#", cols), (
                f"html crosses an Exchange in {name}: [{cols}]"
            )


def test_fetch_join_broadcasts_claim(plan_log):
    """The claim side (budget-bounded) must broadcast into the pages scan —
    a shuffle join here re-partitions the 100-TB pages table per round."""
    fetches = [p for n, p in plan_log.items() if "fetch_dispatch" in n]
    assert fetches
    for plan in fetches:
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_seen_table_scan_probed(plan_log):
    """Broadcast-sized claims probe the seen table with broadcast semi/anti
    joins (the seen table itself is scanned, never shuffled)."""
    probes = [p for n, p in plan_log.items() if "seen_antijoin" in n]
    assert probes
    for plan in probes:
        assert "SortMergeJoin" not in plan
        assert re.search(r"BroadcastHashJoin.*Left(Semi|Anti)", plan), plan
    # and at least one round actually exercised both probe directions
    assert any("LeftAnti" in p for p in probes)


def _catalog_names():
    import __spark_entry__ as entry

    # crossjoin_grid IS a cross product by spec (queries × grid cells, both
    # driver-bounded dims — the reference's CreateGridSeedJobs); everything
    # else must plan without cartesian/nested-loop joins.
    return sorted(set(entry.queries()) - {"crossjoin_grid"})


@pytest.mark.parametrize("qname", _catalog_names())
def test_catalog_query_plans_clean(spark, qname):
    """EVERY catalog query must plan without cartesian/nested-loop joins at
    the driver's correctness scale — enumerated from queries() so new waves
    are guarded the moment they register.  And ``ordered()`` stays the last
    operator: each of its single-partition exchanges feeds its in-partition
    Sort and nothing else (Catalyst drops a local sort under a later join or
    aggregate, so a misplaced ``ordered()`` shows here)."""
    import __spark_entry__ as entry

    df = entry.queries()[qname](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan, f"{bad} in {qname}"
    consumers = _single_partition_consumers(plan)
    assert all(c == "Sort" for c in consumers), (qname, consumers, plan)


def test_winnow_plan_single_hash_pass_no_window(spark):
    """The winnowing selection must stay inside the row.  r6 shape: the
    per-gram hashing AND the per-doc (fp, first_pos) dedup run inside one
    Arrow map stage (``winnow_fingerprints_vectorized``), so the plan must
    show NO JVM-side md5 (zero re-evaluation risk — the hash lives in the
    UDF), no window-sort shuffle of per-gram rows, no (doc_id, fp)
    aggregation exchange, and exactly the two benign exchanges of the
    fan-out + final single-partition sort."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        docs_winnow_fingerprint,
    )

    df = docs_winnow_fingerprint(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan, "per-gram hashing leaked back into the JVM plan"
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan, "per-doc dedup left the Arrow stage"
    assert plan.count("Exchange") <= 2  # scan fan-out + final gather


def test_asof_plan_single_shuffle_no_range_join(spark):
    """The as-of composition must not plan a range join (nested-loop pair
    blow-up); one exchange for the user window plus one for the output sort
    are the only shuffles."""
    from google_maps_scraper_spark.operators.analytics import (
        events_asof_attribution,
    )

    df = events_asof_attribution(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan
    assert plan.count("Exchange") <= 2


def test_ivf_assignment_plan_is_literal_arithmetic(spark):
    """IVF cell assignment must stay a scan-stage map: no shuffle, no join.
    r6: the assignment arithmetic runs as ONE Arrow-vectorized UDF
    (``ivf_cells`` — centroids captured as numpy literals; value-equal to
    the JVM HOF reference by test), so the plan shows a single
    ArrowEvalPython and still no row-at-a-time BatchEvalPython."""
    from pyspark.sql import functions as F

    from google_maps_scraper_spark.operators.similarity import (
        N_CELLS,
        ivf_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").between(1, N_CELLS))
        .orderBy("vec_id")
        .collect()
    ]
    plan = (
        ivf_cells(emb.select("vec_id", "embedding"), cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert plan.count("ArrowEvalPython") <= 1
