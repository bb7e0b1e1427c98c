"""Pipelined durable commits: up to ``crawl._CKPT_INFLIGHT`` (2) commits in
flight let commit N's write overlap commit N+1's capture and the following
rounds' compute,
while commits still EXECUTE serially on the one writer thread (the manifest
chain is ordered).  The driver folds finished records opportunistically and
blocks only when the pipeline is full or at sync points.

≙ the reference's exiter/committer overlap: postgres writes happen on the
provider's connection while the scraper keeps fetching
(/root/reference/postgres/provider.go:107-146 runs in its own tx while
jobs continue).  These tests pin the safety contract: pipelining must never
change a byte of output, a manifest chain link, or resume semantics."""

import json
import pathlib

import pytest

from google_maps_scraper_spark.plans import crawl as crawl_mod
from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


def _seeds(corpus):
    return [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]


@pytest.fixture(scope="module")
def pages_and_seeds(spark):
    corpus = generate_corpus(n_seeds=3, places_per_serp=4, seed=47)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    return pages, _seeds(corpus)


def _manifests(wd):
    out = {}
    for d in sorted(pathlib.Path(wd).glob("round=*")):
        m = d / "manifest.json"
        if m.exists():
            out[int(d.name.split("=")[1])] = json.loads(m.read_text())
    return out


def _result_set(eng):
    return {
        (x["link"], x["canonical_json"])
        for x in eng.results.select("link", "canonical_json").collect()
    }


def test_pipelined_commits_byte_identical(
    spark, pages_and_seeds, tmp_path_factory, monkeypatch
):
    """Depth 2 (and deeper) must reproduce the serial engine exactly:
    same counters, same result bytes, and the SAME committed manifest chain
    round for round (parent links, chain legs, totals) — pipelining moves
    only WHEN the driver waits, never what gets written."""
    pages, seeds = pages_and_seeds
    runs = {}
    for depth in (1, 2, 4):
        monkeypatch.setattr(crawl_mod, "_CKPT_INFLIGHT", depth)
        wd = str(tmp_path_factory.mktemp(f"pipe{depth}"))
        eng = CrawlEngine(
            spark, pages, wd, CrawlConfig(extract_email=True, now_micros=NOW)
        )
        eng.seed_from_queries(seeds)
        counters = eng.run()
        runs[depth] = (counters, _result_set(eng), _manifests(wd))

    base_counters, base_results, base_manifests = runs[1]
    for depth in (2, 4):
        counters, results, manifests = runs[depth]
        assert counters == base_counters, depth
        assert results == base_results, depth
        assert manifests.keys() == base_manifests.keys(), depth
        for rnd, m in base_manifests.items():
            got = manifests[rnd]
            for k in ("parent_round", "chain", "totals", "counters"):
                assert got[k] == m[k], (depth, rnd, k)


def test_pipeline_overlap_actually_happens(spark, pages_and_seeds, tmp_path_factory):
    """With a slowed writer and depth 2, the driver must reach the next
    round while a commit is still in flight (the whole point of the
    pipeline), and the fold order must stay commit order."""
    import time

    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("overlap"))
    eng = CrawlEngine(
        spark, pages, wd,
        CrawlConfig(extract_email=False, now_micros=NOW),
    )
    inner = eng._write_snapshot_inner
    seen_depths = []

    def slow_write(cap, bloom_bytes):
        # must dwarf a round's wall so the next round ALWAYS finishes while
        # this commit is still in flight (2.5 s flaked once round walls
        # crossed it on a loaded box — r6)
        time.sleep(8.0)
        return inner(cap, bloom_bytes)

    eng._write_snapshot_inner = slow_write
    eng.seed_from_queries(seeds)
    applied = []
    orig_apply = eng._apply_commit

    def spy_apply(rec):
        applied.append(rec["round"])
        orig_apply(rec)

    eng._apply_commit = spy_apply
    for _ in range(64):
        done = eng.run_round().get("done")
        seen_depths.append(len(eng._pending_ckpts))
        if done:
            break
    eng.finalize()
    # the pipeline filled to depth 2 at least once mid-run
    assert max(seen_depths) == 2, seen_depths
    # commits folded strictly in commit order
    assert applied == sorted(applied)
    # and the durable store is complete + consistent at the end
    manifests = _manifests(wd)
    assert max(manifests) == eng.round
    prev = -1
    for rnd in sorted(manifests):
        assert manifests[rnd]["parent_round"] == prev
        prev = rnd


def test_tight_retention_degrades_to_serial(spark, pages_and_seeds, tmp_path_factory):
    """keep_rounds smaller than the pipeline window must degrade to the
    depth-1 join-before-submit behavior (a lazily-applied driver view could
    otherwise outlive a pruned round dir) — and results stay exact."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("tightkeep"))
    eng = CrawlEngine(
        spark, pages, wd,
        CrawlConfig(extract_email=True, now_micros=NOW, keep_rounds=2),
    )
    eng.seed_from_queries(seeds)
    depths = []
    for _ in range(64):
        done = eng.run_round().get("done")
        depths.append(len(eng._pending_ckpts))
        if done:
            break
    eng.finalize()
    assert max(depths) <= 1, depths

    wd_ref = str(tmp_path_factory.mktemp("tightref"))
    ref = CrawlEngine(
        spark, pages, wd_ref, CrawlConfig(extract_email=True, now_micros=NOW)
    )
    ref.seed_from_queries(seeds)
    ref.run()
    assert eng.counters() == ref.counters()
    assert _result_set(eng) == _result_set(ref)


def test_failed_commit_is_fail_stop(spark, pages_and_seeds, tmp_path_factory):
    """If commit N fails while commit N+1 is already queued, N+1 must NOT
    publish: its capture assumes N's deltas are in the chain, so publishing
    would commit a manifest that silently skips those rows.  The
    run must raise and the store must end at a pre-failure commit point."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("failstop"))
    eng = CrawlEngine(
        spark, pages, wd,
        CrawlConfig(extract_email=True, now_micros=NOW),
    )
    inner = eng._write_snapshot_inner

    def failing(cap, bloom_bytes):
        if cap["round"] == 2:
            raise OSError("injected: disk gone")
        return inner(cap, bloom_bytes)

    eng._write_snapshot_inner = failing
    eng.seed_from_queries(seeds)
    with pytest.raises((OSError, RuntimeError)):
        eng.run()
    latest = ParquetDeltaLogStore(spark, wd).current()
    assert latest < 2
    for d in pathlib.Path(wd).glob("round=*"):
        if (d / "manifest.json").exists():
            assert int(d.name.split("=")[1]) < 2, d
    # and the pre-failure store is still a valid resume point
    resumed = CrawlEngine.resume(
        spark, pages, wd,
        CrawlConfig(extract_email=True, now_micros=NOW),
    )
    assert resumed.round == latest


def test_resume_mid_pipeline_crash(
    spark, pages_and_seeds, tmp_path_factory, monkeypatch
):
    """Abandoning the engine with commits still in flight (crash analog)
    must leave a resumable store: the commit point is a fully committed round,
    and resume + rerun reproduces the serial engine's final output."""
    pages, seeds = pages_and_seeds
    wd = str(tmp_path_factory.mktemp("crash"))
    cfg = CrawlConfig(extract_email=True, now_micros=NOW)
    eng = CrawlEngine(spark, pages, wd, cfg)
    eng.seed_from_queries(seeds)
    for _ in range(3):
        if eng.run_round().get("done"):
            break
    # crash: no finalize, no joins — but let in-flight writes land on disk
    # (a real kill mid-write is covered by test_concurrent_writers; here we
    # pin that an un-FINALIZED pipeline is a valid resume point)
    eng._join_pending_checkpoint()
    del eng

    resumed = CrawlEngine.resume(spark, pages, wd, cfg)
    resumed.run()

    monkeypatch.setattr(crawl_mod, "_CKPT_INFLIGHT", 1)
    wd_ref = str(tmp_path_factory.mktemp("crashref"))
    ref = CrawlEngine(spark, pages, wd_ref, cfg)
    ref.seed_from_queries(seeds)
    ref.run()
    assert resumed.counters()["results"] == ref.counters()["results"]
    assert _result_set(resumed) == _result_set(ref)
