"""The benchmark's two workloads.

``crawl_polite_resume`` runs ``CrawlEngine`` to fixpoint on a generated
page corpus, interrupted after ``INTERRUPT_AFTER`` rounds and continued
through ``CrawlEngine.resume``.  ``catalog`` runs a fixed subset of the
operator catalog (``__spark_entry__.queries()``) on the catalog's sf0.001
tables, kept in ``perfbench/data``.  Each workload has three steps:
``prepare`` builds the inputs (untimed, and the same work on every run, so
the timed window always starts from the same session state), ``run``
performs the timed work, and ``check`` compares the outputs with the
oracles (untimed, fingerprints cached per shape and seed).  ``layers`` adds
the per-layer numbers of a traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import spans as spans_mod
from perfbench.hostnoise import Bracket


@dataclass
class Ctx:
    spark: object
    tracer: spans_mod.Tracer
    work: Path
    cache: Path
    seed: int
    seconds: float
    cores: int
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    brackets: list[dict] = field(default_factory=list)
    report_extra: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def _sha(s: str | bytes) -> str:
    if isinstance(s, str):
        s = s.encode()
    return hashlib.sha256(s).hexdigest()[:20]


def _cached_json(path: Path, build):
    """Load ``path`` or build, write and return it."""
    if path.exists():
        return json.loads(path.read_text())
    value = build()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value))
    os.replace(tmp, path)
    return value


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --- crawl_polite_resume ---------------------------------------------------

class CrawlPoliteResume:
    """Seeds → SERP → place pages to fixpoint, with a durable delta-log
    commit every round, a politeness budget on every claim, and an
    interrupt/resume after the first round.

    Round count, not page count, sets the crawl's cost (each round has a
    fixed cost of several seconds), so the shape keeps rounds few: no
    malformed pages (each would add three retry rounds) and no email or
    review-RPC hops.  Every place page shares one host, and the host budget
    sits just under the largest round's place claim, so it binds once and
    spreads the place pages over two rounds.  The corpus still holds
    review-RPC and website pages for the traced run's standalone extractor
    passes."""

    name = "crawl_polite_resume"
    N_SEEDS = 12
    PLACES_PER_SERP = 12
    EXTRA_REVIEW_PAGES = 2
    MALFORMED_FRACTION = 0.0
    BUCKETS = 8
    HOST_BUDGET = 96
    INTERRUPT_AFTER = 1

    def config(self):
        from google_maps_scraper_spark.plans.crawl import CrawlConfig

        return CrawlConfig(host_budget=self.HOST_BUDGET, checkpoint_every=1)

    def prepare(self, ctx: Ctx) -> None:
        """Write the url-bucketed pages table for ``ctx.seed``.  It is not
        cached: a cached table would let the measured session skip this
        Spark work on some runs and not others."""
        from google_maps_scraper_spark.sources.corpus import (
            corpus_to_spark,
            generate_corpus,
            write_bucketed_pages,
        )

        self.shape = (f"{self.N_SEEDS}x{self.PLACES_PER_SERP}x"
                      f"{self.EXTRA_REVIEW_PAGES}m{self.MALFORMED_FRACTION}"
                      f"-seed{ctx.seed}")
        self.pages_dir = ctx.work / "pages"
        corpus = generate_corpus(
            n_seeds=self.N_SEEDS, places_per_serp=self.PLACES_PER_SERP,
            malformed_fraction=self.MALFORMED_FRACTION,
            extra_review_pages=self.EXTRA_REVIEW_PAGES, seed=ctx.seed,
        )
        write_bucketed_pages(ctx.spark, corpus_to_spark(ctx.spark, corpus),
                             str(self.pages_dir), buckets=self.BUCKETS)
        self.seeds = [(s["query"].split("#!#")[0].strip(), s["custom_id"])
                      for s in corpus.seeds]

    def register(self, ctx: Ctx) -> None:
        from google_maps_scraper_spark.sources.corpus import read_bucketed_pages

        self.pages = read_bucketed_pages(ctx.spark, str(self.pages_dir),
                                         buckets=self.BUCKETS)

    def oracle(self, ctx: Ctx) -> dict:
        """Fingerprint of the uninterrupted sequential crawl: the multiset
        of result canonical JSON and the admitted (url, parent) set."""
        from google_maps_scraper_spark.plans.oracle import SequentialOracle

        def build():
            pages = {r["url"]: bytes(r["html"])
                     for r in self.pages.select("url", "html").collect()}
            cfg = self.config()
            res = SequentialOracle(
                pages, extract_email=cfg.extract_email,
                extra_reviews=cfg.extra_reviews, now_micros=cfg.now_micros,
            ).run(self.seeds)
            return {
                "results": sorted(_sha(r["canonical_json"]) for r in res.results),
                "seen": sorted(_sha(f"{u}\x1f{p}")
                               for u, ok, p in res.seen_decisions if ok),
            }

        key = _sha(repr(self.config()))[:8]
        path = ctx.cache / f"oracle-{self.name}-{self.shape}-{key}.json"
        return _cached_json(path, build)

    def _crawl(self, ctx: Ctx, wd: Path) -> dict:
        """Seed, ``INTERRUPT_AFTER`` rounds, commit and drop the engine,
        resume, rounds to fixpoint, finalize, counters."""
        from google_maps_scraper_spark.plans.crawl import CrawlEngine
        from google_maps_scraper_spark.session import release_cached

        spark, tr, cfg = ctx.spark, ctx.tracer, self.config()
        pages, seeds = self.pages, self.seeds
        rounds: list[spans_mod.Span] = []

        def one_round(eng) -> dict:
            ctx.attempted += 1
            with tr.span("round") as sp:
                stats = eng.run_round()
            sp.attrs.update(claimed=int(stats.get("claimed", 0)),
                            chain_hops=int(stats.get("chain_hops", 0) or 0))
            rounds.append(sp)
            return stats

        with Bracket() as b, tr.span("crawl") as top:
            with tr.span("seed"):
                eng = CrawlEngine(spark, pages, str(wd), cfg)
                eng.seed_from_queries(seeds)
            for _ in range(self.INTERRUPT_AFTER):
                one_round(eng)
            # interrupt: commit, drop the engine and its cached blocks
            with tr.span("interrupt"):
                eng.finalize()
                del eng
                release_cached(spark)
            ctx.attempted += 1
            with tr.span("resume") as resume_span:
                eng = CrawlEngine.resume(spark, pages, str(wd), cfg)
            first_resumed = len(rounds)
            for _ in range(cfg.max_rounds):
                if one_round(eng).get("done"):
                    break
            with tr.span("finalize"):
                eng.finalize()
            with tr.span("counters"):
                counters = eng.counters()
        return {
            "engine": eng, "counters": counters, "host": b.stats,
            "top": top, "rounds": rounds, "resume": resume_span,
            "first_resumed": rounds[first_resumed], "workdir": wd,
        }

    def run(self, ctx: Ctx) -> dict:
        """Full crawls until ``ctx.seconds`` have passed (at least one)."""
        from google_maps_scraper_spark.session import release_cached

        crawls = []
        t0 = time.perf_counter()
        while not crawls or time.perf_counter() - t0 < ctx.seconds:
            if crawls:  # only the last crawl's engine is kept for the checks
                del crawls[-1]["engine"]
                release_cached(ctx.spark)
            wd = ctx.work / f"crawl-{len(crawls)}"
            shutil.rmtree(wd, ignore_errors=True)
            crawls.append(self._crawl(ctx, wd))
            ctx.brackets.append({"window": f"crawl-{len(crawls) - 1}",
                                 **crawls[-1]["host"]})
        self.crawls = crawls
        crawl_s = _median([c["host"]["wall_s"] for c in crawls])
        results = _median([c["counters"].get("results", 0) for c in crawls])
        round_s = [sp.duration for c in crawls for sp in c["rounds"]]
        return {
            "pass_s": crawl_s,
            "pass_cpu_s": _median([c["host"]["cpu_s"] for c in crawls]),
            "work_per_s": results / crawl_s,
            "detail": {
                "crawl_s": [c["host"]["wall_s"] for c in crawls],
                "round_s": round_s,
                "resume_s": [c["resume"].duration + c["first_resumed"].duration
                             for c in crawls],
                "counters": crawls[-1]["counters"],
            },
        }

    def check(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        want = self.oracle(ctx)
        last = self.crawls[-1]
        eng = last["engine"]
        got_results = sorted(_sha(r["canonical_json"]) for r in
                             eng.results.select("canonical_json").collect())
        got_seen = sorted(_sha(f"{r['url']}\x1f{r['admitting_parent']}") for r in
                          eng.seen.select("url", "admitting_parent").collect())
        if got_results != want["results"]:
            diff = Counter(got_results)
            diff.subtract(Counter(want["results"]))
            n = sum(abs(v) for v in diff.values())
            ctx.fail(f"results differ from the sequential oracle ({n} of "
                     f"{len(want['results'])} canonical JSON rows)")
        if got_seen != want["seen"]:
            n = len(set(got_seen) ^ set(want["seen"]))
            ctx.fail(f"admitted URL set differs from the oracle ({n} URLs)")
        if last["counters"].get("results") != len(want["results"]):
            ctx.fail(f"counters report {last['counters'].get('results')} "
                     f"results, oracle {len(want['results'])}")
        over = (
            eng.frontier.filter(F.col("round_claimed").isNotNull())
            .groupBy("round_claimed", "host").count()
            .filter(F.col("count") > self.HOST_BUDGET).count()
        )
        if over:
            ctx.fail(f"{over} (round, host) claims exceed host_budget")

    def layers(self, ctx: Ctx) -> dict:
        """Per-layer numbers that need the live session: the store's
        commit chain, a read and a compaction of the finished workdir, and
        the standalone extractor passes."""
        from google_maps_scraper_spark.plans.store import ParquetDeltaLogStore

        last = self.crawls[-1]
        tr, top = ctx.tracer, last["top"]
        rounds, wd, counters = last["rounds"], last["workdir"], last["counters"]
        claimed = sum(sp.attrs["claimed"] for sp in rounds)
        top_idx = tr.spans.index(top)

        def one(name):
            return next(s for s in tr.spans if s.name == name and s.parent == top_idx)

        store = ParquetDeltaLogStore(ctx.spark, str(wd))
        chain = store.manifest(store.current())["chain"]
        commits = len(store.snapshots())
        bytes_written = sum(f.stat().st_size for f in wd.rglob("*") if f.is_file())
        with tr.span("store.read"):
            store.read("results").count()
        with tr.span("store.rewrite"):
            store.rewrite_data_files()
        out = {
            "crawl.seed_s": one("seed").duration,
            "crawl.finalize_s": one("finalize").duration,
            "crawl.counters_s": one("counters").duration,
            "crawl.rounds": len(rounds),
            "crawl.round_p50_s": _median([sp.duration for c in self.crawls
                                          for sp in c["rounds"]]),
            "crawl.claimed": claimed,
            "crawl.chain_hops": sum(sp.attrs["chain_hops"] for sp in rounds),
            "crawl.resume_call_s": last["resume"].duration,
            "crawl.resume_first_round_s": last["first_resumed"].duration,
            "crawl.admit_ratio": counters.get("seen", 0)
            / (self.N_SEEDS * self.PLACES_PER_SERP),
            "crawl.results_per_claim": counters.get("results", 0) / max(claimed, 1),
            "store.commits": commits,
            "store.chain_len": max((len(v) for v in chain.values()), default=0),
            "store.bytes_written": bytes_written,
            "store.bytes_per_result": bytes_written / max(counters.get("results", 1), 1),
            "store.read_s": tr.named("store.read")[-1].duration,
            "store.rewrite_s": tr.named("store.rewrite")[-1].duration,
        }
        out.update(self._extractor_layers(ctx))
        ctx.report_extra["tiling"] = {
            "crawl_s": top.duration,
            "crawl_self_s": tr.self_time(top_idx),
            "top_level_self_s": {
                name: sum(tr.self_time(i) for i, s in enumerate(tr.spans)
                          if s.name == name and s.parent == top_idx)
                for name in ("seed", "round", "interrupt", "resume",
                             "finalize", "counters")
            },
        }
        return out

    def job_layers(self, ctx: Ctx, by_group: dict, jobs: list) -> dict:
        """Per-layer numbers from the event log: Spark jobs per round, the
        round wall time covered by any job and the driver gap, and the
        executor time of the store's background commit writer."""
        rounds = self.crawls[-1]["rounds"]
        intervals = [(j.submit, j.end) for j in jobs]
        n_jobs, job_s, gap_s = [], [], []
        for sp in rounds:
            n_jobs.append(len(by_group.get(sp.group, [])))
            cov = spans_mod.covered(intervals, sp.start, sp.end)
            job_s.append(cov)
            gap_s.append(sp.duration - cov)
        ctx.report_extra["per_round"] = [
            {"claimed": sp.attrs["claimed"], "wall_s": round(sp.duration, 4),
             "jobs": n, "job_s": round(js, 4), "driver_gap_s": round(g, 4)}
            for sp, n, js, g in zip(rounds, n_jobs, job_s, gap_s)
        ]
        top = self.crawls[-1]["top"]
        background = [j for j in by_group.get(spans_mod.BACKGROUND, [])
                      if top.start <= j.submit <= top.end]
        return {
            "crawl.round_jobs": _median(n_jobs),
            "crawl.round_job_s": _median(job_s),
            "crawl.round_driver_gap_s": _median(gap_s),
            "store.background_s": sum(j.run_s for j in background),
            "store.background_jobs": len(background),
        }

    def window(self) -> tuple[float, float]:
        top = self.crawls[-1]["top"]
        return top.start, top.end

    def _extractor_layers(self, ctx: Ctx) -> dict:
        """Standalone extractor passes over the pages table, one per page
        kind, forced with a ``noop`` write; plus the pure-Python entry parse
        over a sample of place pages, with no Spark."""
        from pyspark.sql import functions as F

        from google_maps_scraper_spark.extract.entry import entry_from_json
        from google_maps_scraper_spark.extract.place_page import extract_app_init_blob
        from google_maps_scraper_spark.operators.extractors import (
            dispatch_udf,
            harvest_emails_udf,
            reviews_pages_udf,
        )

        now = F.lit(self.config().now_micros).cast("long")
        url = F.col("url")
        kinds = {
            "place": url.contains("/maps/place/"),
            "serp": url.contains("/maps/search/"),
            "reviews": url.contains("listugcposts"),
        }
        kinds["email"] = ~(kinds["place"] | kinds["serp"] | kinds["reviews"])

        def dispatch(kind):
            return dispatch_udf(
                F.lit(kind), "html", F.lit(None).cast("string"), F.lit("seed"),
                "url", now, F.lit(False), F.lit(None).cast("array<string>"))

        exprs = {
            "place": dispatch("place"),
            "serp": dispatch("search"),
            "reviews": reviews_pages_udf(F.array("html"), now),
            "email": harvest_emails_udf("html"),
        }
        out, place_pass_s, n_place = {}, 0.0, 0
        for kind, cond in kinds.items():
            df = self.pages.filter(cond)
            n = df.count()
            with ctx.tracer.span(f"extractors.{kind}"):
                t = time.perf_counter()
                df.select(exprs[kind].alias("x")).write.format("noop").mode(
                    "overwrite").save()
                dt = time.perf_counter() - t
            out[f"extractors.{kind}_pages_per_s"] = n / dt
            if kind == "place":
                place_pass_s, n_place = dt, n
        sample = [bytes(r["html"]) for r in
                  self.pages.filter(kinds["place"]).select("html").limit(200).collect()]
        t = time.perf_counter()
        for html in sample:
            blob = extract_app_init_blob(html)
            if blob is not None:
                try:
                    entry_from_json(blob, now_micros=self.config().now_micros)
                except Exception:  # malformed pages fail by design
                    pass
        per_page = (time.perf_counter() - t) / max(len(sample), 1)
        out["extract.entry_us_per_page"] = per_page * 1e6
        out["extract.python_share"] = (
            per_page * n_place / (place_pass_s * ctx.cores) if place_pass_s else 0.0
        )
        return out


# --- catalog ---------------------------------------------------------------

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.001"


class Catalog:
    """One query per operator module, each forced by ``collect()``, on the
    catalog's fixed sf0.001 tables (``DATA_DIR``); the seed does not apply.
    For dedup_docs and similarity the query is a regression the ROADMAP
    carries over (``dedup_cluster_components``, ``emb_lsh_neardup_pairs``);
    for the other four it is a query of that module picked so that one pass
    fits the per-run time budget."""

    name = "catalog"
    QUERIES = {
        "frontier_etld1_key": "frontier",
        "graph_reciprocal_edges": "graph",
        "docs_domain_quota_cap": "sampling",
        "emb_lsh_neardup_pairs": "similarity",
        "dedup_cluster_components": "dedup_docs",
        "events_rate_anomaly": "analytics",
    }
    REGRESSIONS = ("dedup_cluster_components", "emb_lsh_neardup_pairs")

    def prepare(self, ctx: Ctx) -> None:
        import __spark_entry__ as entrymod

        catalog = entrymod.queries()
        self.queries = {q: catalog[q] for q in catalog if q in self.QUERIES}
        self.oracles = entrymod.oracle_sql()
        self.data_dir = DATA_DIR

    def register(self, ctx: Ctx) -> None:
        """The catalog reads its parquet files per query; nothing to
        register."""

    def oracle(self, ctx: Ctx) -> dict:
        import duckdb

        from tools.check_oracles import TABLES, table_hash

        def build():
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{self.data_dir}/{t}.parquet'")
                out = {}
                for name in self.queries:
                    cur = con.execute(self.oracles[name])
                    cols = [d[0] for d in cur.description]
                    rows = cur.fetchall()
                    out[name] = {"rows": len(rows), "cols": sorted(cols),
                                 "hash": table_hash(rows, cols)}
                return out
            finally:
                con.close()

        data = b"".join(f.read_bytes() for f in sorted(self.data_dir.glob("*.parquet")))
        key = _sha(",".join(sorted(self.queries)).encode() + data)[:12]
        path = ctx.cache / f"oracle-catalog-{key}.json"
        return _cached_json(path, build)

    def run(self, ctx: Ctx) -> dict:
        """Passes over the subset until ``ctx.seconds`` have passed (at
        least one full pass)."""
        from google_maps_scraper_spark.session import release_cached

        self.samples: list[tuple[str, spans_mod.Span]] = []
        self.outputs: list[tuple[str, list, list]] = []
        passes: list[float] = []
        cpu: list[float] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < ctx.seconds:
            pass_s = 0.0
            with Bracket() as b:
                for name, fn in self.queries.items():
                    ctx.attempted += 1
                    with ctx.tracer.span(f"q.{name}") as sp:
                        try:
                            df = fn(ctx.spark, str(self.data_dir))
                            rows = [tuple(r) for r in df.collect()]
                            cols = df.columns
                        except Exception as exc:  # a failed query is a failed op
                            rows, cols = None, None
                            ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
                    release_cached(ctx.spark)
                    pass_s += sp.duration
                    self.samples.append((name, sp))
                    if rows is not None:
                        self.outputs.append((name, rows, cols))
            ctx.brackets.append({"window": f"pass-{len(passes)}", **b.stats})
            passes.append(pass_s)
            cpu.append(b.stats["cpu_s"])
        pass_s = _median(passes)
        return {
            "pass_s": pass_s,
            "pass_cpu_s": _median(cpu),
            "work_per_s": len(self.queries) / pass_s,
            "detail": {
                "passes_s": passes,
                "query_s": [(n, sp.duration) for n, sp in self.samples],
            },
        }

    def check(self, ctx: Ctx) -> None:
        from tools.check_oracles import table_hash

        want = self.oracle(ctx)
        for name, rows, cols in self.outputs:
            got = {"rows": len(rows), "cols": sorted(cols),
                   "hash": table_hash(rows, cols)}
            if got != want[name]:
                ctx.fail(f"{name}: spark {got} != duckdb {want[name]}")

    def layers(self, ctx: Ctx) -> dict:
        first = self.samples[: len(self.queries)]
        out = {"catalog.query_p50_s": _median([sp.duration for _, sp in self.samples])}
        for name, sp in first:
            out[f"catalog.{self.QUERIES[name]}_s"] = sp.duration
            if name in self.REGRESSIONS:
                out[f"catalog.q.{name}_s"] = sp.duration
        return out

    def job_layers(self, ctx: Ctx, by_group: dict, jobs: list) -> dict:
        """Query wall time of the first pass not covered by any Spark job:
        planning, driver-side collection and Python between jobs."""
        intervals = [(j.submit, j.end) for j in jobs]
        per_query = {}
        for name, sp in self.samples[: len(self.queries)]:
            cov = spans_mod.covered(intervals, sp.start, sp.end)
            per_query[name] = {"wall_s": round(sp.duration, 4),
                               "jobs": len(by_group.get(sp.group, [])),
                               "driver_gap_s": round(sp.duration - cov, 4)}
        ctx.report_extra["per_query"] = per_query
        return {"catalog.driver_gap_s": sum(q["driver_gap_s"] for q in per_query.values())}

    def window(self) -> tuple[float, float]:
        first = self.samples[: len(self.queries)]
        return first[0][1].start, first[-1][1].end


WORKLOADS = {w.name: w for w in (CrawlPoliteResume, Catalog)}
