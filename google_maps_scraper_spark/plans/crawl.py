"""The crawl engine: driver-coordinated BFS rounds over DataFrames.

Round shape (≙ the reference's scrapemate loop, re-expressed as dataflow):
``CrawlEngine.run_round`` runs one method per phase, each returning what the
next one reads.

    _claim_round    — window-rank round selection per politeness bucket
                      (≙ ``ORDER BY priority ASC, created_at ASC ... LIMIT``
                      claim of postgres/provider.go:148-244, plus the
                      per-host politeness budget the north_rule adds);
    _fetch_dispatch — equi-join claim×pages on url (replaces the live fetch,
                      gmaps/job.go:189-261), then one kind-dispatched
                      vectorized extraction UDF; fetch misses recovered;
    _follow_chains  — review-RPC chains followed to exhaustion in-round;
    _admit          — first-wins dedup of SERP-discovered hrefs: window rank
                      on (parent created_path, pos) then left-anti join
                      against the seen table (≙ deduper.AddIfNotExists under
                      sequential DOM iteration, gmaps/job.go:159-176 +
                      deduper/hashmap.go:16-35);
    _emit           — new place/email/review jobs and result rows;
    _retire         — flip statuses, split live/terminal, materialize the
                      round's state and submit the durable commit (parquet
                      tables + a JSON manifest; resume ≙ the DB modes'
                      natural resumability, postgres/provider.go:17-21).

Termination: fixpoint — no ``new`` frontier rows (≙ exiter's
seedCompleted>=seedCount && placesCompleted>=placesFound,
exiter/exiter.go:49-93; with stored pages, queue-empty is equivalent).

Scale notes (100 TB design):
  * every window is partitioned (politeness bucket / url hash) — no global
    windows, no driver-side collects of data rows (only counters);
  * the pages join uses a broadcast of the claimed round when it is small,
    else a shuffle hash join; AQE handles skew splits;
  * host skew is killed by salting the politeness bucket: bucket =
    (host, xxhash64(url) % salts); per-salt budgets sum to the host budget;
  * the html column is only referenced inside the fetch-extract stage, so
    Parquet/Iceberg column pruning keeps it out of every other scan;
  * per-round checkpointing truncates lineage and gives kill-resume.

Table format: SURVEY.md §7 plans Iceberg with graceful degradation; this
sandbox ships no Iceberg/Delta jars (re-verified round 3: pyspark/jars has
neither, no delta-spark/pyiceberg pip package, and no network to fetch
them), so state tables are plain parquet snapshots per round + a JSON
manifest, with MERGE semantics emulated by anti-join/union.  Every workdir
read and write goes through ``plans/store.py``'s ``ParquetDeltaLogStore``:
it stages a commit in a private temp dir and publishes it with ONE atomic
rename onto the round dir, which fails rather than replace a dir another
writer committed; the commit point is the highest committed round.
Concurrent-writer protection is the store's WRITER lease (taken over at
seed/resume and checked at publish) plus that rename (two engines on one
workdir → the stale one aborts with ConcurrentWriterError;
tests/test_concurrent_writers.py).  Snapshot TIME TRAVEL (≙ Iceberg
rollback_to_snapshot) via ``resume(from_round=N)`` and keep-last-K retention
(≙ expire_snapshots) via ``CrawlConfig.keep_rounds`` close the remaining
table-format gap (tests/test_time_travel.py).  Swapping the store for
Iceberg tables (MERGE INTO frontier/seen, snapshot ids in the manifest)
changes only the store.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict, deque
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.extractors import dispatch_udf, etld1_col, harvest_emails_udf
from ..schemas import (
    ENTRY_STRUCT,
    FRONTIER_SCHEMA,
    KIND_EMAIL,
    KIND_PLACE,
    KIND_REVIEWS,
    KIND_SEARCH,
    PRIORITY_HIGH,
    PRIORITY_LOW,
    PRIORITY_MEDIUM,
    RESULT_SCHEMA,
    SEEN_SCHEMA,
    STATUS_DONE,
    STATUS_FAILED,
    STATUS_NEW,
    STATUS_QUEUED,
)
from .store import ConcurrentWriterError, ParquetDeltaLogStore

__all__ = ["CrawlConfig", "CrawlEngine", "ConcurrentWriterError"]

_RESULT_COLS = [f.name for f in RESULT_SCHEMA.fields]


@dataclass
class CrawlConfig:
    extract_email: bool = False
    extra_reviews: bool = False          # ≙ -extra-reviews (gmaps/place.go:180-202)
    max_depth: int = 10                  # ≙ -depth default, runner/runner.go:111
    max_rounds: int = 64
    # NB retry semantics: the reference requeues failed jobs up to
    # max_retries (gmaps/job.go:57); with an immutable stored-pages corpus a
    # retry deterministically fails again, so this engine marks fetch misses
    # failed terminally — same final state, fewer rounds.  The retries
    # columns stay in the frontier schema for a live-fetch backend.
    now_micros: int = 1786838400000000   # pinned clock (determinism)
    host_budget: int | None = None       # per-eTLD+1 per-round claim budget
    politeness_salts: int = 4            # salt shards per host bucket
    lang: str = "en"
    robots: list[tuple[str, str]] = field(default_factory=list)
    # (host, path_prefix) deny rules; engine-new (north_rule), absent in ref.
    checkpoint_every: int = 1
    # durable-commit cadence: 1 = every round (max resumability); N>1
    # keeps intermediate rounds as in-memory localCheckpoints (lineage still
    # truncated) and commits every N rounds + at fixpoint.  Since the delta
    # log landed, a commit writes O(rows appended since the last commit) —
    # per-round durability no longer rewrites the state tables.
    # Durable writes OVERLAP the next round's compute: a crash can lose at
    # most the rounds whose commits were still in flight — resume then
    # deterministically re-runs them.
    # finalize()/run() always join and commit the final round.
    broadcast_claim_rows: int = 100_000
    # claims up to this many rows broadcast into the pages join (the huge
    # pages table is then never shuffled); larger claims fall back to a
    # shuffle join, where AQE picks the physical strategy.
    keep_rounds: int | None = None
    # snapshot retention: keep the last K round NUMBERS — after each commit
    # of round R (on the checkpoint thread) round dirs numbered below
    # R-K+1 are pruned, so with checkpoint_every > 1 fewer than K committed
    # dirs survive.  None keeps every round — full time-travel history
    # (≙ Iceberg snapshot retention / expire_snapshots; resume(from_round=N)
    # targets any retained round).  K < 2 acts as 2: the previous round's
    # parquet can back live DataFrames until the next commit completes.
    # NB retention interacts with the delta log: a commit whose chain would
    # reference a dir older than the window COMPACTS that table first (full
    # rewrite), so aggressive retention trades away O(delta) commit cost —
    # keep_rounds well above compact_chain keeps both.
    compact_chain: int = 16
    # delta-log chain bound (≙ Iceberg rewrite_data_files cadence): when a
    # table's manifest chain would exceed this many delta dirs, the commit
    # rewrites it as one compacted full table.  Bounds resume/read fan-in
    # and retention debt; amortized rewrite cost is O(total/compact_chain)
    # per commit.
    seen_bloom: bool = False
    # opt-in Bloom accelerator in front of the exact seen anti-join: a
    # broadcast filter (per-partition shards, treeReduce-merged, maintained
    # incrementally from each round's admissions) marks candidates
    # might-be-seen; only those touch the exact set.  Wins when the seen
    # table is huge relative to per-round candidates.  Decisions stay exact:
    # false positives fall through to the anti-join, false negatives are
    # impossible.
    bloom_capacity: int = 1_000_000      # expected distinct URLs (sizes m,k)
    term_flush_rows: int = 65536
    # terminal-segment commit batching: retiring rows accumulate as lazy
    # deltas (cheap projections of already-checkpointed round outputs) and
    # materialize into an immutable segment only once the accumulated rows
    # pass this threshold or a durable sync checkpoint needs them — the
    # Iceberg small-commit-batching analog.  Keeps tiny rounds from paying
    # a fixed materialization job for a handful of retired rows; 0 flushes
    # every round.
    capture_plans: bool = False
    timing: bool = False
    # debug/bench hook: accumulate driver-blocking wall time per phase in
    # engine.phase_times (claim, dispatch, chains, persist, checkpoint,
    # counters) — every Spark action blocks the driver, so wall around each
    # block attributes the round's cost to its phase.  Off by default.
    # debug/test hook: record formatted physical plans of the round's three
    # load-bearing dataflows (claim window, fetch+dispatch, seen anti-join)
    # in engine.plan_log — the plan-regression pytest guard asserts on them
    # (no CartesianProduct/BNLJ, html outside every Exchange, scan-probed
    # seen table).  Off by default: capturing forces plan compilation.


def _jid(*cols):
    return F.sha2(F.concat_ws("\x1f", *cols), 256).substr(1, 32)


# Intra-round review-chain hop cap: the reference bounds chains at 50 RPC
# pages (gmaps/reviews.go:87); 64 leaves headroom while guarding against a
# cyclic corpus (leftovers fall back to inter-round frontier jobs).
_CHAIN_MAX_HOPS = 64
# every review-chain continuation URL starts with this (build_review_rpc_url,
# extract/urls.py:228-243) — the predicate that carves the chain working set
# out of the pages table
_REVIEW_RPC_PREFIX = "https://www.google.com/maps/rpc/listugcposts"
# Max durable commits in flight at once: 2 lets commit N's writes overlap
# commit N+1's CAPTURE and the following round, so the driver no longer
# blocks on the previous commit at round end.  Commits still EXECUTE
# serially on the one writer thread (the manifest chain is ordered).  Depth
# 2 measured faster than 1 and than 4 (BENCH.md, BENCH_HISTORY.md).
_CKPT_INFLIGHT = 2
# false-positive rate the seen_bloom filter is sized for
_BLOOM_FPP = 0.01
# the entry fields a result row copies from a dispatched entry struct
_ENTRY_COLS = (
    "link", "cid", "title", "category", "categories", "address", "web_site",
    "phone", "plus_code", "review_count", "review_rating", "latitude",
    "longitude", "status", "place_id", "data_id",
)


def _union_all(parts: list[DataFrame]) -> DataFrame:
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _first_wins(df: DataFrame, key: str, *order) -> DataFrame:
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _latest_capture(df: DataFrame, tiebreak: str) -> DataFrame:
    # one row per job, its url's latest capture; equal warc_ts resolve by a
    # hash of ``tiebreak`` — identically across runs, never by partition luck
    return _first_wins(
        df, "job_id", F.col("warc_ts").desc_nulls_last(), F.xxhash64(tiebreak).asc()
    )


def _named(col: str | Column, name: str) -> Column:
    # a same-named input column passes through unaliased
    if isinstance(col, str):
        return F.col(col) if col == name else F.col(col).alias(name)
    return col.alias(name)


def _frontier_jobs(
    src, kind, *, key, url, parent: str, path, priority, depth, max_retries, payload
) -> DataFrame:
    # new ``kind`` jobs, one per ``src`` row, in FRONTIER_SCHEMA column order
    # (_stamp_url_cols adds url_hash/host/politeness_bucket).  The job id
    # hashes (kind, key, parent job id); ``parent`` names the src column
    # holding that id, ``path`` is the suffix to the parent's created_path.
    return src.select(
        _jid(F.lit(kind), key, F.col(parent)).alias("job_id"),
        _named(parent, "parent_id"),
        F.col("seed_id"),
        F.lit(kind).alias("kind"),
        url.alias("url"),
        F.concat_ws(".", F.col("created_path"), path).alias("created_path"),
        F.lit(priority).alias("priority"),
        _named(depth, "depth"),
        F.col("max_depth"),
        F.lit(0).alias("retries"),
        F.lit(max_retries).alias("max_retries"),
        F.lit(STATUS_NEW).alias("status"),
        F.lit(None).cast("int").alias("round_claimed"),
        F.col("extract_email"),
        F.col("lang"),
        payload.alias("payload"),
    )


def _review_continuations(src: DataFrame) -> DataFrame:
    # one reviews job per dispatched row with a next review-RPC page, its
    # payload the accumulated reviews; chain jobs keep the parent's depth —
    # the page cap bounds them
    nxt = F.col("p.reviews_next.url")
    return _frontier_jobs(
        src.filter(nxt.isNotNull()), KIND_REVIEWS, key=nxt, url=nxt,
        parent="job_id", path=F.lit("r00000"), priority=PRIORITY_MEDIUM,
        depth="depth", max_retries=3, payload=F.col("p.reviews_next.payload"),
    )


def _result_rows(src: DataFrame, entry: str, emails: Column, rnd: int) -> DataFrame:
    # RESULT_SCHEMA rows from a dispatched entry struct: ``p.entry`` for
    # place/review results, ``p.email`` for finished email jobs
    return src.select(
        "job_id",
        F.col(f"{entry}.input_id").alias("input_id"),
        F.col("url"),
        *[F.col(f"{entry}.{c}").alias(c) for c in _ENTRY_COLS],
        emails.alias("emails"),
        F.col(f"{entry}.canonical_json").alias("canonical_json"),
        F.lit(rnd).alias("round_emitted"),
    )


def _state_storage_level(spark: SparkSession):
    """Block-manager storage level for the engine's in-memory state
    checkpoints (frontier / seen segments / terminal segments / round
    outputs): serialized, and off the heap when the session has an off-heap
    pool.

    ``localCheckpoint``'s default is MEMORY_AND_DISK **deserialized**: every
    cached row lives as Java objects on the executor heap.  That is the
    fastest level while the aggregate state fits, but it fails superlinearly
    when it stops fitting — a 2× corpus (4.2M pages, local[16], 32g heap)
    measured 4–14× phase walls (claim 14×, persist 10.6×) as old-gen churn
    and storage eviction set in.  Serialized blocks cost one decode per
    scan (each state table is scanned once per round) but keep the heap
    flat; with ``spark.memory.offHeap.enabled`` the blocks leave the heap
    entirely (``OFF_HEAP`` still spills to disk when the pool fills, so
    nothing is ever recomputed — localCheckpoint has no lineage to replay)."""
    from pyspark import StorageLevel

    try:
        off_heap = spark.conf.get(
            "spark.memory.offHeap.enabled", "false"
        ).lower() == "true"
    except Exception:
        off_heap = False
    return StorageLevel.OFF_HEAP if off_heap else StorageLevel.MEMORY_AND_DISK


class CrawlEngine:
    """Iterative crawl over a pages DataFrame with parquet-backed state."""

    # class-level capability flag: set once when the JVM-internal stats-reset
    # fast path fails (Spark-version drift); all engines then use the loud
    # fallback instead of re-raising per round
    _stats_reset_broken = False

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        workdir: str,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.store = ParquetDeltaLogStore(spark, workdir)
        self.cfg = config or CrawlConfig()
        self.round = 0
        self._cum_claimed = 0
        self._cum_admitted = 0   # SERP fan-out candidates (observed n_links)
        self._durable_round = -1   # last round with a committed durable snapshot
        self._writer_token: str | None = None  # store lease (split-brain guard)
        self._chain_pages = None   # lazily materialized review-RPC page
        # subset: every chain-hop fetch probes this instead of re-scanning
        # the full pages table (built once per run, on the first multi-hop
        # chain — see _follow_chains)
        self._ckpt_pool = None     # lazy single-thread executor: serializes
        # in-flight durable snapshots, oldest first (≤ _CKPT_INFLIGHT).
        # The single worker runs them in submit order; the driver folds
        # finished records opportunistically (round start / next submit)
        # and blocks only when the queue is full or at sync points.
        self._pending_ckpts: deque = deque()
        # per-list count of entries captured by in-flight commits but not
        # yet folded by _apply_commit — captures take the suffix past this
        # head, applies slice the head (in commit order)
        self._cap_heads = {"seen": 0, "results": 0, "term": 0}
        # writer-thread-owned manifest chain state (prev log/totals/parent):
        # commits chain through the serialized worker, so the driver never
        # needs the previous commit's result to capture the next
        self._wlog: dict | None = None
        self._wtotals: dict | None = None
        self._wparent: int = -1
        # first commit failure (fail-stop): later queued commits must NOT
        # publish — their captures assume the failed commit's deltas are in
        # the chain, so publishing would commit a manifest that silently
        # skips those rows
        self._ckpt_failed: BaseException | None = None
        self._bloom = None
        if self.cfg.seen_bloom:
            from ..operators.bloom import BloomFilter

            self._bloom = BloomFilter.sized(self.cfg.bloom_capacity, _BLOOM_FPP)
        self._frontier: DataFrame | None = None   # LIVE rows (status NEW)
        self._frontier_done: list[DataFrame] = []  # terminal segments,
        # append-only: each is materialized ONCE when its round retires it
        # and never recopied — the frontier analog of an Iceberg append-only
        # data file.  At 10^10-URL scale this is what keeps per-round state
        # maintenance O(delta) instead of O(total): done/failed jobs (with
        # their multi-KB payloads) stop riding every round's checkpoint.
        self._pending_term: DataFrame | None = None  # this round's retiring rows
        self._term_lazy: list[DataFrame] = []  # unflushed lazy term deltas
        self._term_lazy_rows = 0               # upper-bound row estimate
        self._live_parquet_rooted = False      # live set backed by a round dir
        # The seen set is append-only too: immutable per-round admission
        # segments, each materialized once (the seen analog of
        # _frontier_done).  self._seen stays the union VIEW every consumer
        # reads; only the newest delta is ever materialized.
        self._seen_segs: list[DataFrame] = []
        self._pending_seen: DataFrame | None = None  # this round's admissions
        self._seen: DataFrame | None = None          # union view over segments
        # Results are append-only: _results_base is the durably-logged part
        # (re-rooted at the delta-log parquet chain after each commit),
        # _results_new the per-round deltas since; self._results is the view.
        self._results_base: DataFrame | None = None
        self._results_new: list[DataFrame] = []
        self._results: DataFrame | None = None
        # Durable delta log (Iceberg-append analog): each committed round
        # dir holds ONLY the rows appended since the previous commit for the
        # append-only tables (seen / results / term) plus the full (small)
        # live frontier; the manifest pins the exact chain of immutable
        # delta dirs composing the snapshot and the running row totals.
        # Durability bookkeeping is DECOUPLED from the in-memory segment
        # machinery: the *_since_durable lists hold the delta DataFrames not
        # yet covered by a committed chain; a commit captures a prefix of
        # each list and drops it at the join point on success.  In-memory
        # segment compaction can therefore merge old segments freely — it
        # never disturbs the captured refs.
        self._seen_since_durable: list[DataFrame] = []
        self._term_since_durable: list[DataFrame] = []
        # row estimates (upper bounds) for the deltas accumulated since the
        # last commit capture: sizes the delta writes' partition counts —
        # a fixpoint/first commit's "delta" can be the WHOLE table (2M+
        # rows at bench scale), and a fixed 32-partition cap made that
        # write level-independent (measured 1.28x at 4→16)
        self._rows_since = {"seen": 0, "results": 0, "term": 0}
        self._log: dict[str, list[str]] = {"seen": [], "results": [], "term": []}
        self._totals: dict = {"term": {}, "seen": 0, "results": 0}
        self.plan_log: dict[str, str] = {}  # filled when cfg.capture_plans
        self.phase_times: dict[str, float] = defaultdict(float)  # cfg.timing
        # serialized (off-heap when available) block storage for all state
        # checkpoints — the deserialized default turns superlinear once
        # state outgrows the heap's storage pool (see _state_storage_level)
        self._state_level = _state_storage_level(spark)

    def _ckpt(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` into the block manager at the engine's state
        storage level (lineage truncated, eager).  Every state checkpoint
        funnels through here so the storage policy is one decision."""
        return df.localCheckpoint(eager=True, storageLevel=self._state_level)

    # ---------------- seeding -------------------------------------------------

    def seed_from_queries(self, queries: list[tuple[str, str]]) -> None:
        """queries: ordered (query_text, custom_id).  Builds the search-URL
        frontier (≙ CreateSeedJobs, runner/jobs.go:21-133 + NewGmapJob,
        gmaps/job.go:34-84)."""
        from ..extract.urls import build_search_url

        import hashlib

        rows = []
        for i, (query, custom_id) in enumerate(queries):
            url = build_search_url(query)
            seed_id = custom_id or f"seed-{i}"
            path = f"{i:09d}"
            jid = hashlib.sha256(
                "\x1f".join((KIND_SEARCH, url, path)).encode()
            ).hexdigest()[:32]
            rows.append((
                jid, None, seed_id, KIND_SEARCH, url, 0, None, None,
                PRIORITY_LOW, path, 0, self.cfg.max_depth, 0, 3,
                STATUS_NEW, None, self.cfg.extract_email, self.cfg.lang, None,
            ))
        full = self._stamp_url_cols(self.spark.createDataFrame(rows, FRONTIER_SCHEMA))
        # the terminal part (robots-denied seeds, possibly empty) is
        # materialized ONCE, like every terminal segment: segments are
        # immutable and never re-persisted
        done = self._ckpt(
            full.filter(F.col("status") != STATUS_NEW)
            .coalesce(self._state_partitions())
        )
        self._root_state(
            full.filter(F.col("status") == STATUS_NEW), done, [],
            self.spark.createDataFrame([], RESULT_SCHEMA),
            {"seen": [], "results": [], "term": []},
            {"term": {}, "seen": 0, "results": 0},
        )
        # robots can deny SEED urls: the terminal part must reach the
        # durable term log like any other retirement
        self._term_since_durable = [done]
        self.round = 0
        self.store.reset()
        self._writer_token = self.store.take_over()
        if self.cfg.checkpoint_every == 1:
            self._checkpoint()  # durable round-0 snapshot (resume-from-seed)
        else:
            self._persist_state()

    def seed_from_grid(
        self, queries: list[tuple[str, str]], bbox_str: str, cell_km: float, zoom: int
    ) -> None:
        """Grid mode (≙ CreateGridSeedJobs, runner/jobs.go:141-214): the
        queries×cells cross product, one search job per pair."""
        from ..extract.geo import cell_geo_coordinates, generate_cells, parse_bounding_box
        from ..extract.urls import build_search_url

        bbox = parse_bounding_box(bbox_str)
        cells = generate_cells(bbox, cell_km)
        expanded: list[tuple[str, str]] = []
        for qi, (query, custom_id) in enumerate(queries):
            for ci, (lat, lon) in enumerate(cells):
                cell_id = f"{custom_id or f'q{qi}'}-cell{ci:05d}"
                geo = cell_geo_coordinates(lat, lon)
                expanded.append((build_search_url(query, geo, zoom), cell_id))
        self.seed_from_queries(expanded)

    # ---------------- state helpers ------------------------------------------

    def _stamp_url_cols(self, df: DataFrame) -> DataFrame:
        df = (
            df.withColumn("url_hash", F.xxhash64("url"))
            .withColumn("host", etld1_col(F.col("url")))
            .withColumn(
                "politeness_bucket",
                F.pmod(F.xxhash64("url"), F.lit(self.cfg.politeness_salts)).cast("int"),
            )
        )
        # robots gating (engine-new, north_rule) applied at ADMISSION, not at
        # claim: rules are static for the run, so stamping denial once on the
        # claim-sized children delta avoids a per-round join over the full
        # NEW backlog.  Denied jobs enter the frontier already terminally
        # FAILED — they can never be claimed, retried, or block the fixpoint.
        if self.cfg.robots:
            path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
            if len(self.cfg.robots) <= 256:
                # small rule lists fold to one codegen'd predicate: no join
                denied = F.lit(False)
                for h, p in self.cfg.robots:
                    denied = denied | (
                        (F.col("host") == F.lit(h)) & path.startswith(F.lit(p))
                    )
            else:
                # large rule tables: broadcast left-semi membership flag
                rules = self.spark.createDataFrame(
                    self.cfg.robots, "r_host string, path_prefix string"
                )
                hit = (
                    df.withColumn("_path", path)
                    .join(
                        F.broadcast(rules),
                        (F.col("host") == F.col("r_host"))
                        & F.col("_path").startswith(F.col("path_prefix")),
                        "left",
                    )
                    .groupBy("job_id")
                    .agg(F.max(F.col("r_host").isNotNull()).alias("_denied"))
                )
                df = df.join(hit, "job_id", "left")
                denied = F.coalesce(F.col("_denied"), F.lit(False))
            # only NEW jobs are deniable: a terminal row (done/failed) is
            # history — re-stamping under changed rules (resume) must not
            # rewrite it
            denied = denied & (F.col("status") == STATUS_NEW)
            df = (
                df.withColumn(
                    "status",
                    F.when(denied, F.lit(STATUS_FAILED)).otherwise(F.col("status")),
                )
                .withColumn(
                    "round_claimed",
                    F.when(denied, F.lit(self.round)).otherwise(
                        F.col("round_claimed")
                    ),
                )
                .drop("_denied")
            )
        return df

    def _frontier_full(self) -> DataFrame:
        """The complete frontier: live rows plus every terminal segment —
        the audit/counters/snapshot view.  Claims never build this (they
        read the live set only), so the union's width costs nothing on the
        per-round hot path; segment count is bounded by round count."""
        pending = [] if self._pending_term is None else [self._pending_term]
        return _union_all(
            [self._frontier, *self._frontier_done, *self._term_lazy, *pending]
        )

    def _root_state(self, live, term, seen_segs, results, log, totals) -> None:
        """Root the state at the given tables and durable chain (seed,
        resume): nothing pending, nothing lazy, nothing since-durable."""
        self._frontier = live
        self._frontier_done = [term]
        self._pending_term = None
        self._term_lazy = []
        self._term_lazy_rows = 0
        self._term_since_durable = []
        self._seen_segs = seen_segs
        self._pending_seen = None
        self._seen_since_durable = []
        self._rebuild_seen_view()
        self._results_base = results
        self._results_new = []
        self._rebuild_results_view()
        self._log = log
        self._totals = totals

    def _rebuild_seen_view(self) -> None:
        """self._seen = union of the immutable admission segments (+ the
        not-yet-materialized current round's delta, so mid-round consumers
        see a consistent set).  The leading empty leg gives the view
        SEEN_SCHEMA's types before any segment exists."""
        pending = [] if self._pending_seen is None else [self._pending_seen]
        self._seen = _union_all(
            [self.spark.createDataFrame([], SEEN_SCHEMA), *self._seen_segs, *pending]
        )

    def _rebuild_results_view(self) -> None:
        self._results = _union_all([self._results_base, *self._results_new])

    # in-memory seen-segment compaction threshold: past this many union legs
    # the per-round anti-join plan's compile cost starts to matter, so the
    # durable-covered prefix is merged into one segment (amortized O(total/48)
    # per round; the since-durable refs are separate list entries and are
    # never disturbed by the merge)
    _SEEN_COMPACT_SEGS = 48

    def _persist_state(self) -> None:
        """Truncate lineage in memory (no durable write) — used between
        durable checkpoints when ``checkpoint_every > 1``.

        O(delta) per round: only this round's DELTAS get materialized (the
        live frontier for the claim, the pending seen admissions for the
        anti-join).  The seen table is never re-copied — admissions append
        as immutable segments, exactly like the frontier's terminal
        segments.  Results stay lazy until the next durable checkpoint —
        their per-round deltas root in this round's already-checkpointed
        ``fetched``/``extracted``, so deferred evaluation costs one plan
        compile at checkpoint time instead of one per round.

        Every persisted table is coalesced first: per-round unions otherwise
        accumulate partitions round over round (old ∪ children ∪ ...), and by
        round R a 1 k-row frontier schedules 100+ tasks per action — pure
        scheduler overhead locally and straggler fodder on a cluster.

        The materializations are independent Spark jobs, so they run
        concurrently from a thread pool (driver latency ≈ max, not sum; on a
        real cluster concurrent jobs also keep executors fed)."""
        from concurrent.futures import ThreadPoolExecutor

        n = self._state_partitions()
        n_delta = max(1, min(n, 32))  # deltas are claim-bounded, not state-sized
        if self._pending_term is not None:
            # retiring rows accumulate lazily (projections of this round's
            # already-checkpointed outputs) until the batch is worth a
            # materialization job (cfg.term_flush_rows); the durable log
            # keeps its own (cheap) ref to every per-round delta
            self._term_lazy.append(self._pending_term)
            self._term_since_durable.append(self._pending_term)
            self._term_lazy_rows += self._pending_term_rows
            self._pending_term = None
        flush = self._term_lazy and (
            self._term_lazy_rows >= max(self.cfg.term_flush_rows, 1)
            or self.cfg.term_flush_rows == 0
            # a delta built over a parquet-rooted live set must not stay
            # lazy past this persist: keep_rounds retention may prune the
            # round dir it references (the same dangling-file hazard the
            # segment re-root logic guards against)
            or self._live_parquet_rooted
        )
        tables = {"frontier": (self._frontier, n)}
        seen_obs = Observation()
        if self._pending_seen is not None:
            tables["seen_delta"] = (
                self._pending_seen.observe(seen_obs, F.count(F.lit(1)).alias("n")),
                n_delta,
            )
        if flush:
            tables["term"] = (_union_all(self._term_lazy), n)
        with self._timed("persist"), self._timed(
            f"persist/round{self.round:02d}"
        ), ThreadPoolExecutor(max_workers=3) as ex:
            fs = {
                name: ex.submit(
                    lambda df, k: self._ckpt(df.coalesce(k)), df, k
                )
                for name, (df, k) in tables.items()
            }
            self._frontier = self._reset_stats(fs["frontier"].result())
            self._live_parquet_rooted = False  # live now on fresh blocks
            if "seen_delta" in fs:
                # seen admissions are self-referential lineage (each delta is
                # anti-joined against the union of all earlier ones), so a
                # plain localCheckpoint leaf would compound sizeInBytes
                # multiplicatively round over round — reset, like the frontier.
                # Rounds that admit nothing (place/email rounds) append no
                # segment at all: the view, the durable chain, and the
                # anti-join plan stay free of empty legs.
                seg = self._reset_stats(fs["seen_delta"].result())
                if seen_obs.get["n"] > 0:
                    self._seen_segs.append(seg)
                    self._seen_since_durable.append(seg)
                    self._rows_since["seen"] += int(seen_obs.get["n"])
                self._pending_seen = None
            if "term" in fs:
                # terminal segment: materialized once, appended, never
                # touched again (no stats reset needed — segments never
                # re-enter an iterative join)
                seg = fs["term"].result()
                self._frontier_done.append(seg)
                # the durable log's pending refs to the just-flushed lazy
                # deltas are REPLACED by the block-backed batch (identical
                # rows): the commit writer then streams memory blocks instead
                # of re-evaluating each round's status-flip join — the serial
                # broadcast rebuilds that made commit writes scale at 1.3x.
                # Safe under commit pipelining: captures cover the list HEAD
                # (entries [0:_cap_heads)); this round's lazy deltas are the
                # newest tail entries, appended after the last capture, so
                # swapping them for the block-backed batch never disturbs a
                # captured prefix (guarded: the swap region must lie fully
                # past the capture head).
                k = len(self._term_lazy)
                if k and (
                    len(self._term_since_durable) - self._cap_heads["term"] >= k
                ):
                    assert self._term_since_durable[-k:] == self._term_lazy
                    self._term_since_durable[-k:] = [seg]
                self._term_lazy = []
                self._term_lazy_rows = 0
        if len(self._seen_segs) > self._SEEN_COMPACT_SEGS:
            # merge the durable-covered prefix into one block-backed segment
            # (the newest len(_seen_since_durable) segments are pending a
            # commit capture and keep their own list identities)
            keep_tail = len(self._seen_since_durable)
            prefix = self._seen_segs[: len(self._seen_segs) - keep_tail]
            if len(prefix) > 1:
                merged = self._reset_stats(
                    self._ckpt(_union_all(prefix).coalesce(n))
                )
                self._seen_segs = [merged] + self._seen_segs[len(prefix):]
        self._rebuild_seen_view()

    def _reset_stats(self, df: DataFrame) -> DataFrame:
        """Rebuild ``df`` as a fresh LogicalRDD leaf over its (already
        materialized) internal rows, DROPPING propagated plan statistics.

        Why: ``localCheckpoint`` rewrites the original plan's estimated
        sizeInBytes onto the new leaf.  The round plan joins the frontier
        against claim-derived state rooted in that same frontier, and the
        size-only stats visitor MULTIPLIES join children — so the estimate
        roughly SQUARES every round.  The BigInt's digit count then doubles
        per round, and by round ~20 Catalyst burns minutes multiplying
        million-digit numbers inside stats visits (pure planning arithmetic,
        zero data involved; bisected from a budget-stretched politeness
        crawl that pinned one core in BigInteger.multiplyToomCook3).

        A fresh leaf restores constant-size stats every round.  The state
        tables get defaultSizeInBytes, i.e. "too big to auto-broadcast" —
        exactly right for 10^10-row frontier/seen tables; every broadcast
        this engine wants is explicit (claim into the pages scan, candidate
        probe into the seen scan).

        The fast path uses JVM-internal APIs (``_jdf``,
        ``internalCreateDataFrame``) that a Spark upgrade may move; it is
        capability-checked once, and on failure the engine degrades LOUDLY
        (one warning) to a Python-roundtrip rebuild — slower per round but
        with the same constant-stats guarantee (round-3 VERDICT #3;
        tests/test_crawl_e2e.py asserts bounded stats across rounds)."""
        if not CrawlEngine._stats_reset_broken:
            try:
                jdf = df._jdf
                fresh = self.spark._jsparkSession.internalCreateDataFrame(
                    jdf.queryExecution().toRdd(), jdf.schema(), False
                )
                return DataFrame(fresh, df.sparkSession)
            except Exception as exc:  # private-API drift (Spark upgrade)
                CrawlEngine._stats_reset_broken = True
                import warnings

                warnings.warn(
                    "stats-reset fast path unavailable "
                    f"({type(exc).__name__}: {exc}); falling back to a "
                    "Python-roundtrip rebuild — correctness unaffected, "
                    "per-round state materialization will be slower",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return self.spark.createDataFrame(df.rdd, df.schema)

    def _explain(self, df: DataFrame, mode: str = "formatted") -> str:
        """Formatted physical-plan string (same renderer as df.explain), with
        a fallback to the raw QueryExecution dump on JVM-API drift."""
        try:
            return self.spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), mode
            )
        except Exception:
            return df._jdf.queryExecution().toString()

    def _capture_plan(self, name: str, df: DataFrame) -> None:
        if self.cfg.capture_plans:
            self.plan_log[f"round{self.round:03d}/{name}"] = self._explain(df)

    @contextmanager
    def _timed(self, name: str):
        if not self.cfg.timing:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_times[name] += time.perf_counter() - t0

    def _state_partitions(self) -> int:
        """Data-aware partition count for the state tables: ~8 k rows per
        partition, floor 8 so claim windows / anti-joins keep minimum
        parallelism, capped at 4096.  Sized by cumulative claims PLUS
        cumulative admissions: a search round's fan-out admits ~10^2× its
        claim count, and sizing by claims alone coalesced the round's
        heaviest state pipeline (admission window + anti-join + stamp over
        every admitted child) to the 8-partition floor — which pins the
        stage to 8 tasks regardless of cluster size (the round-4 phase
        bench measured the persist phase ANTI-scaling 0.85× at 4→16 on the
        2.1M-page corpus because of exactly this).  Sizing by data instead
        of cores still keeps tiny states from scheduling cores×tables
        no-op tasks every round."""
        return int(
            min(4096, max(8, (self._cum_claimed + self._cum_admitted) // 8192))
        )

    # -- durable checkpoint protocol ------------------------------------------
    #
    # DELTA LOG (round 4, ≙ Iceberg append snapshots): a committed snapshot
    # holds the full (small) live frontier plus, per append-only table
    # (seen / results / term), ONLY the rows appended since the previous
    # commit; the manifest pins the chain of immutable deltas composing the
    # snapshot and the running row totals.  Per-commit I/O is O(delta), not
    # O(total state) — the property that makes per-round durability
    # affordable at a 10^10-row frontier.  Chains are bounded by compaction
    # (cfg.compact_chain, ≙ rewrite_data_files); retention (cfg.keep_rounds,
    # ≙ expire_snapshots) prunes snapshots outside the window, forcing
    # compaction first so the surviving chain is self-contained.
    #
    # The engine owns only this policy; ``self.store`` owns the layout and
    # the publish.  A commit stages every table and the manifest in a
    # private temp dir and one atomic rename makes it the new commit point,
    # so a kill at ANY step leaves the previous committed round intact —
    # the writers never target a directory a live DataFrame or a committed
    # snapshot is reading (locked by tests/test_commit_protocol.py and
    # tests/test_crawl_e2e.py::test_checkpoint_kill_during_write).
    #
    # Blocking the driver on the parquet writes and counter aggregations
    # every durable round is a fixed latency that caps end-to-end scaling,
    # so the write runs on a single-thread executor while the NEXT round's
    # claim/dispatch proceeds; the future is joined later (at most
    # _CKPT_INFLIGHT in flight, all at finalize), which also surfaces write
    # errors and re-roots the append-only results table at the committed
    # chain.
    # Counters ride the delta writes as Observations folded into the running
    # totals, so EVERY commit's manifest carries exact counters for free.
    #
    # Split-brain fencing: the engine takes over the store's writer lease at
    # seed/resume and passes its token to every commit; the store re-checks
    # it before the rename and aborts with ConcurrentWriterError if a second
    # engine took over, and the rename itself refuses a round another
    # writer already committed.

    def _term_full(self) -> DataFrame:
        """Every terminal frontier row (segments + lazy deltas) — the
        compaction source for the durable term log.  ``_pending_term`` is
        deliberately EXCLUDED: commits always run after ``_persist_state``
        has moved it into the lazy list, and a pending delta is not yet in
        ``_term_since_durable`` — including it here would double-count its
        rows at the next delta commit."""
        return _union_all(self._frontier_done + self._term_lazy)

    def _capture_commit(self) -> dict:
        """Snapshot the durable-commit inputs on the DRIVER thread: delta
        lists are copied (the writer thread must see a frozen prefix), marks
        record how much of each since-durable list the commit covers, and the
        full views back the compaction path.

        Pipelining contract (_CKPT_INFLIGHT > 1): each capture takes only
        the suffix past ``_cap_heads`` — the entries no earlier in-flight
        commit already covers — and marks are RELATIVE counts, applied in
        commit order by ``_apply_commit`` (entries captured-but-unapplied
        stay at the HEAD of each since-durable list, so the live seen/results
        views remain complete during the overlap window).  The manifest
        chain state (prev log/totals/parent) is NOT captured here: it lives
        with the serialized writer thread, which is what frees the driver
        from joining commit N before capturing N+1."""
        delta_rows = dict(self._rows_since)
        # the capture covers the full accumulated prefix; subsequent rounds
        # accumulate toward the NEXT commit
        self._rows_since = {"seen": 0, "results": 0, "term": 0}
        lists = {
            "seen": self._seen_since_durable,
            "results": self._results_new,
            "term": self._term_since_durable,
        }
        deltas = {t: list(lst[self._cap_heads[t]:]) for t, lst in lists.items()}
        marks = {t: len(lst) - self._cap_heads[t] for t, lst in lists.items()}
        for t, lst in lists.items():
            self._cap_heads[t] = len(lst)
        return {
            "round": self.round,
            "live": self._frontier,
            "delta_rows": delta_rows,
            "deltas": deltas,
            "marks": marks,
            "full": {
                "seen": self._seen,
                "results": self._results,
                "term": self._term_full(),
            },
        }

    def _write_snapshot(self, *a, **kw):
        # serialized with any earlier commit (one writer thread / the driver
        # at sync points), so this read-then-write of the flag is ordered
        if self._ckpt_failed is not None:
            raise RuntimeError(
                "an earlier durable commit failed; refusing to publish a "
                "chain that would skip its deltas"
            ) from self._ckpt_failed
        try:
            with self._timed("snapshot_write"):
                return self._write_snapshot_inner(*a, **kw)
        except BaseException as e:
            self._ckpt_failed = e
            raise

    _TERM_COMBOS = [
        (k, st)
        for k in (KIND_SEARCH, KIND_PLACE, KIND_EMAIL, KIND_REVIEWS)
        for st in (STATUS_QUEUED, STATUS_DONE, STATUS_FAILED)
    ]

    def _write_snapshot_inner(self, cap: dict, bloom_bytes: bytes | None) -> dict:
        """Commit one round as a DELTA-LOG entry through the store; runs on
        the checkpoint thread.  The engine picks what the snapshot holds —
        the full (small) live frontier plus, per append-only table
        (seen/results/term), either this commit's delta or a compacted full
        rewrite — and the manifest fields: the chain of immutable legs
        composing the snapshot and the running row totals (≙ an Iceberg
        append snapshot's manifest list + summary).  ``store.commit`` owns
        the layout and the atomic publish.  Compaction (≙
        rewrite_data_files) triggers when the chain would exceed
        ``cfg.compact_chain`` legs or reference a round the retention window
        is about to expire.  Returns the commit record the join point
        applies."""
        # writer-owned chain state: seeded from the driver's durable view at
        # the first write after init/resume/sync-apply (no commits are in
        # flight at those points), then advanced per commit ON THIS THREAD —
        # the serialized worker is the ordering point, so the driver never
        # waits for commit N's manifest to capture commit N+1
        if self._wlog is None:
            self._wlog = {k: list(v) for k, v in self._log.items()}
            self._wtotals = json.loads(json.dumps(self._totals))
            self._wparent = self._durable_round
        rnd = cap["round"]
        keep = self.cfg.keep_rounds
        cutoff = rnd - max(int(keep), 2) + 1 if keep is not None else None
        n = self._state_partitions()

        # counters ride the writes (≙ the exiter's incremental counting,
        # exiter/exiter.go:49-93): Observations fill during the parquet
        # jobs, so status/result/seen counts cost ZERO extra scans, and the
        # delta protocol accumulates them into running totals — every
        # commit's manifest carries exact counters for free.
        f_obs = Observation()
        live = cap["live"].observe(f_obs, *[
            F.sum(F.when(F.col("kind") == k, 1).otherwise(0))
            .cast("long").alias(f"{k}_{STATUS_NEW}")
            for k in (KIND_SEARCH, KIND_PLACE, KIND_EMAIL, KIND_REVIEWS)
        ])
        writes: dict[str, tuple[DataFrame, int]] = {"frontier": (live, n)}

        actions: dict[str, str] = {}
        obs: dict[str, Observation] = {}
        for t in ("seen", "results", "term"):
            prev, deltas = self._wlog[t], cap["deltas"][t]
            grown = len(prev) + (1 if deltas else 0)
            compact = bool(prev) and (
                grown > self.cfg.compact_chain
                or (cutoff is not None
                    and self.store.references_before(prev, cutoff))
            )
            if compact:
                df, parts = cap["full"][t], n
                actions[t] = "compact"
            elif deltas:
                df = _union_all(deltas)
                # row-aware writer parallelism: a steady-state delta is
                # claim-sized (few partitions, few files — the Iceberg
                # small-commit shape), but a fixpoint/first commit's delta
                # can be the whole table, where a fixed cap serializes the
                # write identically at every cluster size
                parts = min(
                    n, max(8, cap["delta_rows"].get(t, 0) // 8192 + 1)
                )
                actions[t] = "delta"
            else:
                actions[t] = "none"
                continue
            o = Observation()
            if t == "term":
                df = df.observe(o, *[
                    F.sum(
                        F.when(
                            (F.col("kind") == k) & (F.col("status") == st), 1
                        ).otherwise(0)
                    ).cast("long").alias(f"{k}_{st}")
                    for k, st in self._TERM_COMBOS
                ])
            else:
                df = df.observe(o, F.count(F.lit(1)).alias("n"))
            obs[t] = o
            writes[t] = (df, parts)

        def manifest(legs: dict[str, str]) -> dict:
            # called by the store once the writes are done: the riding
            # Observations are filled
            totals = json.loads(json.dumps(self._wtotals))
            log = {t: list(self._wlog[t]) for t in ("seen", "results", "term")}
            # snapshot summary (≙ Iceberg's snapshot parent-id + summary
            # map): per-table action taken this commit, rows appended by it,
            # and the chain depth — the per-partition lineage a
            # monitoring/debug read needs without opening any parquet footer
            appended = {
                t: obs[t].get["n"] if actions[t] != "none" else 0
                for t in ("seen", "results")
            }
            appended["term"] = (
                {k: v for k, v in obs["term"].get.items() if v}
                if actions["term"] != "none" else {}
            )
            for t in ("seen", "results", "term"):
                if actions[t] == "compact":
                    totals[t] = appended[t]
                    log[t] = [legs[t]]
                elif actions[t] == "delta":
                    if t == "term":
                        for k, v in appended[t].items():
                            totals[t][k] = totals[t].get(k, 0) + v
                    else:
                        totals[t] += appended[t]
                    log[t].append(legs[t])

            wc = {k: v for k, v in f_obs.get.items() if v}
            for k, v in totals["term"].items():
                wc[k] = wc.get(k, 0) + v
            wc["seen"] = totals["seen"]
            wc["results"] = totals["results"]
            return {
                "round": rnd,
                "parent_round": self._wparent,
                "counters": {**wc, "round": rnd},
                "chain": log,
                "totals": totals,
                "commit_meta": {
                    "actions": actions,
                    "appended": appended,
                    "chain_len": {t: len(log[t]) for t in log},
                    "live_rows": sum(v for v in f_obs.get.values() if v),
                },
                "bloom": (
                    {"m_bits": self._bloom.m_bits, "k": self._bloom.k}
                    if bloom_bytes is not None else None
                ),
            }

        m = self.store.commit(
            rnd, writes, manifest, self._writer_token,
            None if bloom_bytes is None else {"bloom.bin": bloom_bytes},
        )
        # retention (keep-last-K): prune rounds older than the window unless
        # the NEW chain still references them (the compaction trigger above
        # makes the new chain self-contained within the window, so the
        # reference check is a belt-and-suspenders guard).  rnd is now the
        # commit point; the writes above already consumed any parquet the
        # captured deltas referenced, so pruning here cannot starve them.
        if cutoff is not None:
            self.store.prune_before(cutoff, m["chain"])
        # advance the writer-owned chain state for the NEXT queued commit
        self._wlog = {t: list(v) for t, v in m["chain"].items()}
        self._wtotals = json.loads(json.dumps(m["totals"]))
        self._wparent = rnd
        return {
            "round": rnd,
            "log": m["chain"],
            "totals": m["totals"],
            "counters": m["counters"],
            "marks": cap["marks"],
        }

    def _checkpoint_async(self) -> None:
        """Submit the durable DELTA commit of the current state and return —
        the write overlaps the next round's claim/dispatch compute.  State
        must already be materialized (``_persist_state``): the delta writers
        then stream executor-local blocks instead of recomputing plans (term
        deltas may still be lazy projections of checkpointed round outputs —
        re-evaluating those claim-sized plans on the writer thread is the
        batching design's accepted cost)."""
        from concurrent.futures import ThreadPoolExecutor

        # fold any finished commits first (free), then block ONLY if the
        # pipeline is already at depth — an unconditional join here makes
        # the driver's round-end wait the scaling limiter
        self._drain_done_checkpoints()
        depth = _CKPT_INFLIGHT
        keep = self.cfg.keep_rounds
        if keep is not None and int(keep) < depth + 2:
            # tight retention: a lazily-applied driver view could outlive a
            # pruned round dir, so degrade to depth 1 (join-before-submit)
            # instead of widening the prune window past what the user asked
            # to keep
            depth = 1
        self._join_pending_checkpoint(depth)
        if self._ckpt_pool is None:
            self._ckpt_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="gms-ckpt"
            )
        bloom_bytes = self._bloom.to_bytes() if self._bloom is not None else None
        self._pending_ckpts.append(
            self._ckpt_pool.submit(
                self._write_snapshot, self._capture_commit(), bloom_bytes
            )
        )

    def _apply_commit(self, rec: dict) -> None:
        """Fold a successful commit record into driver state: advance the
        durable mark, adopt the new chain + totals, drop the covered prefix
        of every since-durable list, and re-root the durably-logged results
        at the committed chain parquet.  Marks are RELATIVE counts and
        records are applied in commit order, so the head slice always drops
        exactly the entries that commit captured (entries captured by
        still-pending commits remain at the new head)."""
        self._durable_round = rec["round"]
        self._log = rec["log"]
        self._totals = rec["totals"]
        self._counters_from_write = (rec["round"], rec["counters"])
        m = rec["marks"]
        self._seen_since_durable = self._seen_since_durable[m["seen"]:]
        self._term_since_durable = self._term_since_durable[m["term"]:]
        self._results_new = self._results_new[m["results"]:]
        for t in ("seen", "results", "term"):
            self._cap_heads[t] -= m[t]
        self._results_base = self.store.read("results", rec["round"])
        self._rebuild_results_view()

    def _drain_done_checkpoints(self) -> None:
        """Fold every ALREADY-FINISHED in-flight commit, oldest first, without
        blocking; surfaces write errors from finished commits."""
        while self._pending_ckpts and self._pending_ckpts[0].done():
            self._apply_commit(self._pending_ckpts.popleft().result())

    def _join_pending_checkpoint(self, depth: int = 1) -> None:
        """Block until fewer than ``depth`` commits are in flight (by
        default: all of them), folding each in commit order; re-raises write
        errors.  The sync points — round-0 seed, fixpoint, finalize,
        resume-time rebuilds — join fully here, so lazy applies can never be
        observed by a durable-state consumer."""
        if len(self._pending_ckpts) < depth:
            return
        with self._timed("ckpt_join"):
            while len(self._pending_ckpts) >= depth:
                self._apply_commit(self._pending_ckpts.popleft().result())

    def _checkpoint(self) -> None:
        """Synchronous durable commit (seed round-0 and finalize): write,
        commit, then re-root ALL state at the committed chain (metadata-only
        parquet reads for any later consumer; lineage fully truncated).
        Commits stop here, so chain-parquet views cannot dangle under
        retention — the commit point is never pruned."""
        self._join_pending_checkpoint()
        rec = self._write_snapshot(
            self._capture_commit(),
            self._bloom.to_bytes() if self._bloom is not None else None,
        )
        self._apply_commit(rec)
        # the live table holds exactly the NEW rows; terminal segments keep
        # their existing materialized blocks (block-backed segments cannot
        # dangle if a later resume's retention prunes this snapshot)
        self._frontier = self.store.read("frontier", rec["round"])
        self._live_parquet_rooted = True
        self._pending_term = None
        self._seen_segs = [self.store.read("seen", rec["round"])]
        self._seen_since_durable = []
        self._rebuild_seen_view()

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        workdir: str,
        config: CrawlConfig | None = None,
        from_round: int | None = None,
    ) -> "CrawlEngine":
        """Resume from the store's commit point (kill-safe: a partially
        written commit is a private temp dir until its one atomic rename,
        so it is never read).

        ``from_round`` is snapshot TIME TRAVEL (≙ Iceberg
        ``rollback_to_snapshot``): resume from any RETAINED older round.
        Rounds newer than the target are a now-divergent lineage — the
        store prunes them before any new work, so later commits (target+1,
        ...) replay forward deterministically and the commit point only
        moves forward."""
        eng = cls(spark, pages, workdir, config)
        store = eng.store
        if store.current() is None:
            raise ValueError(
                f"{workdir} has no committed snapshot to resume from"
            )
        eng._writer_token = store.take_over()  # fences out any old writer
        if from_round is not None:
            # rollback semantics live on the store seam (≙ Iceberg
            # manageSnapshots().rollbackTo), contract-tested in
            # tests/test_store_contract.py
            store.rollback_to(from_round)
        at = store.current()
        if not store.is_resumable(at):
            raise ValueError(
                f"round {at}'s chain references a round that retention has "
                "pruned — this snapshot is no longer resumable (pick a newer "
                "round or disable keep_rounds)"
            )
        manifest = store.manifest(at)
        eng.round = manifest["round"]
        restored = store.read("frontier", at)
        denied = None
        if eng.cfg.robots:
            # robots rules may differ from the run that wrote this snapshot
            # (admission-time stamping alone would let already-persisted NEW
            # jobs slip past newly added rules).  Re-stamp
            # the restored LIVE frontier: deterministic and idempotent (same
            # hash/host/bucket values recomputed; only NEW rows can flip).
            # Freshly denied rows retire immediately — and, because they are
            # not yet in the durable term chain, they enter the since-durable
            # list so the next commit logs them.
            stamped = eng._stamp_url_cols(restored)
            restored = stamped.filter(F.col("status") == STATUS_NEW)
            denied = stamped.filter(F.col("status") != STATUS_NEW)
        # terminal history comes from the manifest's term chain.  Chain dirs
        # are immutable but PRUNABLE when keep_rounds retention is active, so
        # that configuration copies the restored segments into block-manager
        # blocks once; without retention the free parquet views are safe
        # (nothing ever prunes a referenced dir).
        eng._cum_claimed = sum(manifest["totals"]["term"].values())
        # admissions ≈ the seen-set total (every admitted URL is recorded)
        eng._cum_admitted = int(manifest["totals"].get("seen", 0))
        n = eng._state_partitions()

        def _root(df):
            if eng.cfg.keep_rounds is None:
                return df
            return eng._ckpt(df.coalesce(n))

        eng._root_state(
            restored, _root(store.read("term", at)),
            [_root(store.read("seen", at))], store.read("results", at),
            {t: list(p) for t, p in manifest["chain"].items()},
            manifest["totals"],
        )
        eng._live_parquet_rooted = True
        if denied is not None:
            dseg = eng._ckpt(denied.coalesce(n))
            eng._frontier_done.append(dseg)
            eng._term_since_durable.append(dseg)
            # the restored live view now depends on a re-stamp plan over the
            # round dir's parquet; materialize it too so a later retention
            # prune cannot dangle it mid-run
            eng._frontier = eng._reset_stats(
                eng._ckpt(eng._frontier.coalesce(n))
            )
            eng._live_parquet_rooted = False
        eng._durable_round = eng.round
        bloom = store.blob(at, "bloom.bin") if manifest.get("bloom") else None
        if bloom is not None:
            from ..operators.bloom import BloomFilter

            b = manifest["bloom"]
            eng._bloom = BloomFilter(b["m_bits"], b["k"], bloom)
        elif eng._bloom is not None:
            # seen_bloom requested but the snapshot has no persisted filter
            # (e.g. the prior run had seen_bloom=False).  A fresh empty Bloom
            # over a non-empty seen table would answer might_contain=False for
            # every seen URL, routing them down the definite-new fast path and
            # bypassing the exact anti-join — duplicate admissions.  Rebuild
            # from the authoritative seen table instead ("false negatives are
            # impossible" invariant).
            from ..operators.bloom import build_bloom

            eng._bloom = build_bloom(eng._seen.select("url"), "url", proto=eng._bloom)
        return eng

    # ---------------- round ---------------------------------------------------

    def run_round(self) -> dict:
        """Execute one round; returns per-round stats.

        The round is a fixed sequence of bulk phases, each a method that
        returns what the next one reads: claim → fetch + dispatch →
        review chains → admission → children + results → retire.  One
        Python pass per round: a single kind-dispatched pandas UDF processes
        every fetched page, and the html column dies inside that stage, so
        executor/driver memory scales with results, never with page
        bodies."""
        # fold any FINISHED overlapped durable writes (non-blocking): surfaces
        # their write errors, advances _durable_round, re-roots results.  A
        # still-running commit keeps running — the driver blocks only when
        # the in-flight pipeline is full or at sync points
        # (seed/fixpoint/finalize).
        self._drain_done_checkpoints()
        self.round += 1
        claimed, counts = self._claim_round()
        if claimed is None:
            return counts
        n_claimed = counts["n"]
        processed, processed_all, n_next, n_links = self._fetch_dispatch(
            claimed, counts
        )
        processed_emit, reviews_src, chain_records, hops, hops_rows = (
            self._follow_chains(processed, processed_all, n_next)
        )
        admitted, new_seen = self._admit(processed_all, n_links)
        new_children, term_children, results = self._emit(
            admitted, processed_emit, processed_all, reviews_src, chain_records
        )
        self._retire(
            processed_all, new_children, term_children, new_seen, results,
            n_claimed, hops_rows,
        )
        return {"round": self.round, "claimed": n_claimed, "chain_hops": hops, "done": False}

    def _claim_round(self) -> tuple[DataFrame | None, dict]:
        """Claim phase: the materialized claim and its observed counts, or
        ``(None, stats)`` when nothing was claimed.  Robots-denied jobs
        never reach here — they are stamped terminally FAILED at admission
        (``_stamp_url_cols``), so the claim is a pure status filter +
        politeness window with no joins."""
        new = self._frontier.filter(F.col("status") == STATUS_NEW)
        claimed = new
        if self.cfg.host_budget is not None:
            # politeness: exact per-host budget B distributed over S salt
            # shards (shard s gets B//S plus one of the B%S remainder units);
            # rank windows are per (host, salt) so one hot host never
            # serializes into a single task.  The remainder units ROTATE by
            # round number: with B < S a fixed assignment would give some
            # shards a permanent budget of zero and starve their jobs forever
            # (caught by tests/test_politeness.py).
            b, s = self.cfg.host_budget, self.cfg.politeness_salts
            w = Window.partitionBy("host", "politeness_bucket").orderBy(
                "priority", "created_path", "job_id"
            )
            rotated = F.pmod(
                F.col("politeness_bucket") + F.lit(int(self.round)), F.lit(s)
            )
            shard_budget = F.lit(b // s) + (rotated < F.lit(b % s)).cast("int")
            ranked = new.withColumn("_rk", F.row_number().over(w))
            claimed = ranked.filter(F.col("_rk") <= shard_budget).drop("_rk")
        # claim counts ride the materialization job as observed metrics — no
        # separate count() action per round
        obs = Observation()
        claimed = claimed.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count("payload").alias("n_payload"),
            # payload claims split by kind: email jobs take the scan-side
            # harvest path (html never leaves the scan), reviews
            # continuations need the RPC page body joined back
            F.count(
                F.when(F.col("kind") == KIND_EMAIL, F.col("payload"))
            ).alias("n_payload_email"),
            # multiset fingerprint of the claimed job ids: compared against
            # the same pair observed on the dispatch output to detect
            # duplicate captures / fetch misses without a second driver
            # action.  decimal(38,0) so the ANSI sum can never overflow
            # (|xxhash64| < 1e19; 1e19 rows fit in 38 digits).
            F.sum(F.xxhash64("job_id").cast("decimal(38,0)")).alias("h"),
        )
        self._capture_plan("claim", claimed)
        with self._timed("claim"):
            claimed = self._ckpt(claimed.coalesce(self._state_partitions()))
            counts = obs.get
        if counts["n"] == 0:
            # Empty claim ≠ fixpoint when budget-remainder rotation is live:
            # with host_budget < politeness_salts a round's rotation can meet
            # only empty shards while other shards still hold NEW jobs
            # (starvation regression caught by tests/test_politeness.py).
            # Consume the round number (advances the rotation) unless no
            # claim-eligible NEW work remains at all.
            if self.cfg.host_budget is not None and new.count() > 0:
                return None, {"claimed": 0, "done": False, "rotation_miss": True}
            self.round -= 1
            return None, {"claimed": 0, "done": True}
        self._cum_claimed += counts["n"]
        return claimed, counts

    def _fetch_pages(self) -> DataFrame:
        # warc_ts rides along so multiple captures of one url can be resolved
        # to the latest one after dispatch (deduping the full pages table per
        # round would rescan/shuffle it; deduping the claim-sized dispatch
        # output is ~free and only paid when duplicates actually exist)
        if "warc_ts" in self.pages.columns:
            return self.pages.select("url", "html", "warc_ts")
        return self.pages.select(
            "url", "html", F.lit(None).cast("timestamp").alias("warc_ts")
        )

    @staticmethod
    def _bcast(df: DataFrame, small: bool) -> DataFrame:
        # small claims broadcast (pages side untouched, zero shuffle); large
        # claims hint a SHUFFLED-HASH build on the claim side: with a
        # url-bucketed pages table (the Iceberg bucket(url) analog —
        # sources/corpus.py:write_bucketed_pages) the scan already satisfies
        # the join's distribution, so ONLY the slim claim keys shuffle and
        # html stays inside the scan stage, while the driver never serially
        # builds a 10^6-row broadcast hash (a fixed cost identical at every
        # cluster size).  SHJ over SMJ also skips sorting multi-KB page rows
        # when pages must shuffle (plain-parquet fallback).
        return F.broadcast(df) if small else df.hint("shuffle_hash")

    def _dispatch(self, df: DataFrame) -> DataFrame:
        """The kind-dispatched extraction UDF over fetched rows, as ``p``."""
        # inputs differ in what they fetched: html for search/place/reviews
        # pages, a scan-side email harvest for the payload hop (the html
        # never leaves the pages scan there)
        ep = (
            F.col("emails_pre")
            if "emails_pre" in df.columns
            else F.lit(None).cast("array<string>")
        )
        html_c = (
            F.col("html")
            if "html" in df.columns
            else F.lit(None).cast("binary")
        )
        now = F.lit(self.cfg.now_micros).cast("long")
        return df.withColumn(
            "p",
            dispatch_udf(
                "kind", html_c, "payload", "seed_id", "url", now,
                F.lit(self.cfg.extra_reviews), ep,
            ),
        ).drop("html", "emails_pre")

    def _fetch_dispatch(self, claimed: DataFrame, counts: dict):
        """Fetch + dispatch phase.  Returns (processed, processed_all,
        n_next, n_links): the claim's dispatch output, the same plus the
        recovered fetch misses, and the observed review-continuation and
        SERP-link counts."""
        # Shaped to keep html out of every shuffle:
        #
        #   payload-free claims (search/place/reviews): broadcast the SLIM
        #   claim columns straight into the pages scan and run the dispatch
        #   UDF in the scan stage — the html column is born and dies inside
        #   one stage, never shuffled, never checkpointed.
        #
        #   payload-bearing claims (email jobs carry multi-KB parked
        #   entries): broadcast only (job_id, url) keys (broadcasting
        #   payloads measurably thrashed every scan task), then join the
        #   claim-sized fetch result back to the claim rows.
        #
        # Fetch misses are recovered afterwards with an anti-join and a
        # dispatch over html-null rows (≙ the fetch-error path: jobs still
        # Process — job.go:114-116, place.go:68-70, emailjob.go:100-102).
        cfg = self.cfg
        n_claimed, n_payload = counts["n"], counts["n_payload"]
        n_payload_email = counts["n_payload_email"]
        pages = self._fetch_pages()
        slim_cols = [
            "job_id", "kind", "url", "seed_id", "created_path",
            "depth", "max_depth", "extract_email", "lang",
        ]
        small = n_claimed <= cfg.broadcast_claim_rows
        claim_np = claimed.filter(F.col("payload").isNull()).select(
            *slim_cols, F.lit(None).cast("string").alias("payload")
        )
        claim_p = claimed.filter(F.col("payload").isNotNull()).select(
            *slim_cols, "payload"
        )

        # build only the non-empty branches — each live branch costs one full
        # pages scan, and rounds are usually kind-homogeneous
        parts = []
        if n_claimed - n_payload > 0:
            parts.append(
                self._dispatch(pages.join(self._bcast(claim_np, small), "url", "inner"))
            )
        if n_payload_email > 0:
            # email hop: harvest the emails INSIDE the pages scan (the only
            # thing the finalize needs from the page) and join the tiny
            # (job_id, emails) result back to the payload claim — the page
            # body dies in the scan and the multi-KB parked entries never
            # shuffle (shuffle-joining html against payloads is a GB-class
            # per-round exchange at headline scale).
            claim_e = claim_p.filter(F.col("kind") == KIND_EMAIL)
            got_e = pages.join(
                self._bcast(claim_e.select("job_id", "url"), small), "url", "inner"
            ).select(
                "job_id",
                harvest_emails_udf("html").alias("emails_pre"),
                "warc_ts",
            )
            if n_payload_email <= cfg.broadcast_claim_rows:
                got_e = F.broadcast(got_e)
            parts.append(self._dispatch(claim_e.join(got_e, "job_id", "inner")))
        if n_payload - n_payload_email > 0:
            # reviews continuations claimed from the frontier (hop-cap
            # leftovers / resumed chains): the RPC page body must reach the
            # accumulator, so this branch keeps the claim-sized html join
            claim_r = claim_p.filter(F.col("kind") != KIND_EMAIL)
            got = pages.join(
                self._bcast(claim_r.select("job_id", "url"), small), "url", "inner"
            ).select("job_id", "html", "warc_ts")
            parts.append(self._dispatch(claim_r.join(got, "job_id", "inner")))
        processed = _union_all(parts)
        # Dup/miss detection rides the materialization as observed metrics:
        # pages.url is NOT assumed unique (warc_ts makes multiple captures
        # legal), so the dispatch output's (count, Σ xxhash64(job_id))
        # fingerprint is compared against the claim-side pair.  Equality ⇒
        # each claimed job appeared exactly once (a dup would inflate the
        # count or, combined with a miss, shift the hash sum — a bare count
        # alone would let dups MASK misses).  Only a mismatched (rare,
        # anomalous-corpus) round pays the exact countDistinct diagnosis.
        pobs = Observation()
        processed = processed.observe(
            pobs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("job_id").cast("decimal(38,0)")).alias("h"),
            F.count(F.col("p.reviews_next.url")).alias("n_next"),
            # admitted-candidate volume (SERP feed links): the seen-probe
            # strategy keys off THIS, not the claim size — a tiny search
            # claim can fan out to 10^2× candidates, and broadcasting those
            # is a driver-serial build the claim count cannot predict
            F.sum(
                F.when(
                    F.col("p.links").isNotNull(), F.size("p.links")
                ).otherwise(F.lit(0))
            ).alias("n_links"),
        )
        self._capture_plan("fetch_dispatch", processed)
        with self._timed("dispatch"), self._timed(
            f"dispatch/round{self.round:02d}"
        ):
            processed = self._ckpt(processed)
            pm = pobs.get
        n_links = int(pm["n_links"] or 0)
        self._cum_admitted += n_links
        if pm["n"] == n_claimed and (pm["h"] or 0) == (counts["h"] or 0):
            nd, n_next = n_claimed, pm["n_next"]
        else:
            agg = processed.agg(
                F.count("*").alias("n"), F.countDistinct("job_id").alias("nd")
            ).head()
            nd = agg["nd"]
            if nd < agg["n"]:
                # deterministic tiebreaker: two captures with identical
                # warc_ts must resolve identically across runs — order ties
                # by a hash of the dispatch output, never by partition luck
                processed = self._ckpt(_latest_capture(processed, "p"))
            n_next = processed.agg(
                F.count(F.col("p.reviews_next.url")).alias("nn")
            ).head()["nn"]
        processed = processed.drop("warc_ts")
        if n_claimed - nd > 0:
            # Materialized ONCE: this branch roots processed_all, which every
            # round-end state materialization re-evaluates (frontier persist,
            # term flush, results delta write).  Left lazy, each of those
            # would re-run the claim-sized anti-join, whose driver-built
            # broadcast hash is a SERIAL cost that repeats identically at
            # every parallelism level.  The miss set itself is small
            # (null-html dispatch short-circuits), so one eager claim-bounded
            # job here buys block-backed reads everywhere downstream.
            slim_all = claim_np.unionByName(claim_p)
            with self._timed("miss_recover"):
                missing = self._ckpt(
                    self._dispatch(
                        slim_all.join(
                            processed.select("job_id"), "job_id", "left_anti"
                        ).withColumn("html", F.lit(None).cast("binary"))
                    )
                    .coalesce(max(1, min(self._state_partitions(), 32)))
                )
            processed_all = processed.unionByName(missing.select(processed.columns))
        else:
            processed_all = processed
        return processed, processed_all, n_next, n_links

    def _follow_chains(self, processed: DataFrame, processed_all: DataFrame, n_next: int):
        """Review-chain phase.  Returns (processed_emit, reviews_src,
        chain_records, hops, hops_rows): the round's dispatch output plus
        every hop's, the rows whose continuations become frontier jobs, the
        hops' frontier-shaped terminal rows, and the hop and hop-row
        counts."""
        # The reference walks a place's review RPC pages inside the claimed
        # job (gmaps/reviews.go:77-97 pagination loop, ≤50 pages); chain
        # continuations need no admission/dedup/claim/commit — only fetch +
        # dispatch — so an inner loop drains the chain frontier WITHIN the
        # round instead of charging one global round per hop.  Followed hops
        # are still recorded in the frontier as terminal rows (audit trail +
        # counters parity); the politeness budget is charged to the claimed
        # parent job, exactly as the reference's pagination occupies its
        # job's concurrency slot.  Robots gating applies per hop (denied
        # continuations are recorded FAILED, never fetched).
        cfg = self.cfg
        chain_parts: list[DataFrame] = []       # dispatch outputs (emission source)
        chain_records: list[DataFrame] = []     # frontier-shaped terminal rows
        chain_src = processed                   # hop-1 continuations come from the claim's dispatch
        hops = hops_rows = 0
        with self._timed("chains") if n_next else nullcontext():
            pages = self._fetch_pages()
            while n_next > 0 and hops < _CHAIN_MAX_HOPS:
                hops += 1
                stamped = self._stamp_url_cols(_review_continuations(chain_src))
                if cfg.robots:  # without rules `denied` is provably empty — do
                    # not grow the frontier-union plan by an empty branch per hop
                    chain_records.append(stamped.filter(F.col("status") != STATUS_NEW))
                    live = stamped.filter(F.col("status") == STATUS_NEW)
                else:
                    live = stamped
                # fetch: broadcast KEYS only (chain payloads are multi-KB
                # review accumulators — never broadcast), join html back; the
                # html column is born in the scan and dies in this hop's
                # dispatch.  Misses keep a null-html row via the left join
                # (dispatch marks them failed, as the reference's fetch-error
                # path Processes).  Dup captures (multiple warc_ts per url)
                # are DETECTED from the hop's observed row count and only
                # then paid for: the resolving window shuffles claim-sized
                # html, so the dup-free common case must not run it every
                # hop.  With robots rules live the pre-fetch live-count is
                # unknown without an action, so that configuration keeps the
                # deterministic window unconditionally.
                # Chain working set: every continuation URL is a
                # listugcposts RPC page by construction (build_review_rpc_url
                # is the only producer of reviews_next.url,
                # operators/extractors.py:302-314,330-337), so from the
                # second hop onward the fetch probes a ONCE-materialized
                # review-page subset instead of re-scanning the full pages
                # table: a 50-hop chain round costs 2 full scans (hop 1 + the
                # subset build) + 49 block-manager probes.  Built at hop 2 so
                # single-hop chains never pay the materialization; reused
                # across every later round (pages are immutable).
                if self._chain_pages is None and hops >= 2:
                    with self._timed("chain_pages_build"):
                        self._chain_pages = self._ckpt(
                            pages.filter(F.col("url").startswith(_REVIEW_RPC_PREFIX))
                        )
                cpages = self._chain_pages if self._chain_pages is not None else pages
                keys = live.select("job_id", "url")
                got = cpages.join(
                    F.broadcast(keys) if n_next <= cfg.broadcast_claim_rows else keys,
                    "url", "inner",
                ).select("job_id", "html", "warc_ts")
                if cfg.robots:
                    got = _latest_capture(got, "html")
                cproc, cm = self._chain_hop(live, got)
                if not cfg.robots and cm["n"] > n_next:
                    # dup captures — redo the hop windowed
                    cproc, cm = self._chain_hop(live, _latest_capture(got, "html"))
                n_next = cm["n_next"]
                self._cum_claimed += cm["n"]
                hops_rows += cm["n"]
                chain_parts.append(cproc)
                chain_records.append(
                    cproc.withColumn(
                        "status", F.coalesce(F.col("p.new_status"), F.lit(STATUS_FAILED))
                    )
                    .withColumn("round_claimed", F.lit(self.round))
                    # done payloads are dead weight in a 10^10-row frontier —
                    # drop them from the terminal record (the reference keeps
                    # no completed-job payloads either)
                    .withColumn("payload", F.lit(None).cast("string"))
                    .drop("p")
                )
                chain_src = cproc
        # hop-cap leftovers (cycle guard) fall back to inter-round frontier
        # jobs (reviews jobs in _emit); normally the loop drains
        reviews_src = chain_parts[-1] if chain_parts else processed_all
        processed_emit = _union_all(
            [processed_all] + [cp.select(processed_all.columns) for cp in chain_parts]
        )
        return processed_emit, reviews_src, chain_records, hops, hops_rows

    def _chain_hop(self, live: DataFrame, got: DataFrame):
        # one hop's materialized dispatch output and its observed (n, n_next)
        obs = Observation()
        out = self._ckpt(
            self._dispatch(live.join(got, "job_id", "left"))
            .drop("warc_ts")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.col("p.reviews_next.url")).alias("n_next"),
            )
        )
        return out, obs.get

    def _admit(self, processed_all: DataFrame, n_links: int):
        """Admission phase: SERP feed links → (admitted children, their
        seen-table rows)."""
        # first-wins: within the round, the earliest (created_path, pos)
        # occurrence wins (≙ sequential DOM iteration order across SERPs);
        # then exact left-anti vs the seen table.
        cfg = self.cfg
        search = processed_all.filter(F.col("kind") == KIND_SEARCH)
        place_children = search.filter(F.col("p.links").isNotNull()).select(
            F.col("job_id").alias("parent_id"),
            "seed_id", "created_path", "depth", "max_depth",
            "extract_email", "lang",
            (~F.col("p.direct")).alias("dedup"),   # direct /maps/place/ URLs skip dedup (job.go:145-157)
            F.posexplode("p.links").alias("pos", "child_url"),
        )
        dd_first = _first_wins(
            place_children.filter("dedup"), "child_url", "created_path", "pos"
        )

        # Bloom pre-filter (optional): definite-new candidates skip the exact
        # set entirely; only might-be-seen ones proceed.
        if cfg.seen_bloom and self._bloom is not None:
            from ..operators.bloom import bloom_might_contain_udf

            mc = bloom_might_contain_udf(self.spark, self._bloom)
            flagged = dd_first.withColumn("_maybe", mc("child_url"))
            definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
            maybes = flagged.filter(F.col("_maybe")).drop("_maybe")
        else:
            definite_new, maybes = None, dd_first

        seen_keys = self._seen.select(F.col("url").alias("child_url"))
        if n_links <= cfg.broadcast_claim_rows:
            # scan-probe: the seen table is SCANNED with a broadcast semi-probe
            # of the (budget-bounded) candidates and never shuffled — at
            # 10^10-row seen scale the anti-join's shuffle of seen is the
            # bottleneck this kills.  Gated on the OBSERVED candidate count
            # (n_links), not the claim size: a search round's fan-out is
            # ~10^2× its claim, and a 10^6-URL broadcast is a serial driver
            # build that repeats identically at every cluster size.
            hits = seen_keys.join(
                F.broadcast(maybes.select("child_url")), "child_url", "left_semi"
            )
            confirmed_new = maybes.join(F.broadcast(hits), "child_url", "left_anti")
        else:
            # wide fan-out: shuffle anti-join on url — both sides partition
            # by the join key, so the work scales with the cluster
            confirmed_new = maybes.join(seen_keys, "child_url", "left_anti")
        self._capture_plan("seen_antijoin", confirmed_new)
        admitted_new = (
            confirmed_new if definite_new is None
            else confirmed_new.unionByName(definite_new)
        )
        admitted = admitted_new.unionByName(place_children.filter(~F.col("dedup")))
        new_seen = admitted_new.select(
            F.xxhash64("child_url").alias("url_hash"),
            F.col("child_url").alias("url"),
            F.col("seed_id").alias("admitting_parent"),
            F.lit(self.round).alias("round_admitted"),
        )
        return admitted, new_seen

    def _emit(self, admitted, processed_emit, processed_all, reviews_src, chain_records):
        """Children + results phase.  Returns (new_children, term_children,
        results): the round's live new jobs, the ones born terminal, and
        its result rows."""
        place_jobs = _frontier_jobs(
            admitted.filter(F.col("depth") < F.col("max_depth")),
            KIND_PLACE, key=F.col("child_url"), url=F.col("child_url"),
            parent="parent_id", path=F.format_string("%06d", F.col("pos")),
            priority=PRIORITY_MEDIUM, depth=F.col("depth") + 1, max_retries=3,
            payload=F.lit(None).cast("string"),
        )

        # place / finished review chains: results vs email hop (a finished
        # reviews chain emits exactly like a place job; the entry it carries
        # already holds user_reviews_extended)
        place = processed_emit.filter(
            F.col("kind").isin(KIND_PLACE, KIND_REVIEWS)
            & F.col("p.entry").isNotNull()
        )
        ok = place.filter(F.col("p.entry.error").isNull())
        hop = F.lit(self.cfg.extract_email) & F.col("p.entry.email_eligible")
        results_now = _result_rows(
            ok.filter(~hop).filter(F.col("p.entry.valid")), "p.entry",
            F.lit(None).cast("array<string>"), self.round,
        )
        # email child carries its parked entry as the job payload
        # (≙ EmailExtractJob.Entry, gmaps/emailjob.go:32-41; the place result
        # is suppressed: UsageInResults=false, place.go:124-138).  The url is
        # normalized (emailjob.go:37,153-176); email jobs never retry
        # (emailjob.go:29).
        email_jobs = _frontier_jobs(
            ok.filter(hop), KIND_EMAIL, key=F.col("p.entry.web_site"),
            url=F.col("p.entry.email_url"), parent="job_id",
            path=F.lit("000000"), priority=PRIORITY_HIGH,
            depth=F.col("depth") + 1, max_retries=0,
            payload=F.col("p.entry.entry_json"),
        )
        # chains are followed to exhaustion intra-round; this only fires for
        # leftovers past _CHAIN_MAX_HOPS (cycle guard): one frontier job per
        # RPC page, its payload the accumulated reviews (gmaps/reviews.go:70-97)
        reviews_jobs = _review_continuations(reviews_src)

        # email: finalized rows come straight from the dispatch output
        email = processed_all.filter(F.col("kind") == KIND_EMAIL)
        email_results = _result_rows(
            email.filter(F.col("p.email.valid") & F.col("payload").isNotNull()),
            "p.email", F.col("p.email.emails"), self.round,
        )

        new_children = self._stamp_url_cols(
            _union_all([place_jobs, email_jobs, reviews_jobs])
        )
        # robots-denied children are born terminal (stamped FAILED at
        # admission): they retire straight into this round's terminal
        # segment and never touch the live set.  Intra-round chain hops
        # enter the frontier as TERMINAL rows too (status done/failed,
        # already robots-stamped), for counters/audit parity without
        # charging a global round.
        term_children = new_children.filter(F.col("status") != STATUS_NEW)
        term_children = _union_all(
            [term_children]
            + [cr.select(term_children.columns) for cr in chain_records]
        )
        new_children = new_children.filter(F.col("status") == STATUS_NEW)
        return new_children, term_children, results_now.unionByName(email_results)

    def _retire(
        self, processed_all, new_children, term_children, new_seen, results,
        n_claimed: int, hops_rows: int,
    ) -> None:
        """Retire phase: status flips, the live/terminal split and the state
        hand-off, then the round's materialization and durable commit."""
        # (robots denials never appear here: they are stamped terminally
        # FAILED at admission and are never claimed — see _stamp_url_cols)
        status_of_claimed = processed_all.select(
            "job_id",
            F.col("p.new_status").alias("new_status"),
        )
        # Status flip with retry semantics (≙ scrapemate requeue up to
        # MaxRetries, gmaps/job.go:57): a failed job with retries left goes
        # back to NEW with retries+1 — on a static corpus the retry fails
        # deterministically again, so outcomes equal the reference's.
        retryable = (
            (F.col("new_status") == STATUS_FAILED)
            & (F.col("retries") < F.col("max_retries"))
        )
        updated_live = (
            self._frontier.join(status_of_claimed, "job_id", "left")
            .withColumn(
                "status",
                F.when(retryable, F.lit(STATUS_NEW)).otherwise(
                    F.coalesce(F.col("new_status"), F.col("status"))
                ),
            )
            .withColumn(
                "retries",
                F.when(retryable, F.col("retries") + 1).otherwise(F.col("retries")),
            )
            .withColumn(
                "round_claimed",
                F.when(F.col("new_status").isNotNull(), F.lit(self.round)).otherwise(
                    F.col("round_claimed")
                ),
            )
            .drop("new_status")
        )
        # live/terminal split (the O(delta) state design): rows that stayed
        # or became NEW (unclaimed + retry-requeued + admitted children)
        # remain live; everything that finished this round retires into an
        # append-only segment materialized once in _persist_state.  Done
        # payloads are dead weight in a 10^10-row frontier — the terminal
        # record drops them (the reference keeps no completed-job payloads
        # either, and the audit columns all survive).
        self._frontier = updated_live.filter(
            F.col("status") == STATUS_NEW
        ).unionByName(new_children)
        self._pending_term = (
            updated_live.filter(F.col("status") != STATUS_NEW)
            .withColumn("payload", F.lit(None).cast("string"))
            .unionByName(term_children)
        )
        # upper-bound estimate for the flush heuristic: every claimed job
        # plus every chain-hop record can retire this round
        self._pending_term_rows = n_claimed + hops_rows
        self._rows_since["term"] += n_claimed + hops_rows
        self._rows_since["results"] += n_claimed  # emitted results ≤ claims
        # append-only state moves as DELTAS: admissions become an immutable
        # seen segment in _persist_state; the results delta stays lazy until
        # the next durable commit (it roots in this round's checkpointed
        # dispatch output)
        self._pending_seen = new_seen
        if self.cfg.seen_bloom and self._bloom is not None:
            from ..operators.bloom import build_bloom

            self._bloom.merge(
                build_bloom(new_seen.select("url"), "url", proto=self._bloom)
            )
        self._results_new.append(results)
        self._rebuild_results_view()
        # in-memory materialization every round (claim windows + anti-joins
        # read these next round); the durable parquet snapshot is submitted
        # to the background writer and overlaps the next round's compute.
        self._persist_state()
        if self.round % max(self.cfg.checkpoint_every, 1) == 0:
            self._checkpoint_async()

    def run(self) -> dict:
        """Run rounds to fixpoint; returns final counters."""
        for _ in range(self.cfg.max_rounds):
            with self._timed("round_total"):
                stats = self.run_round()
            if stats.get("done"):
                break
        self.finalize()
        return self.counters()

    def finalize(self) -> None:
        """Public commit seam (used by jobs-mode and run()): join any
        in-flight overlapped snapshot, then ensure the CURRENT round has a
        committed durable snapshot with final counters in its manifest.
        Skipped when the final round's write already committed: its
        manifest already carries the write-observed counters, and the store
        refuses a second commit of the same round."""
        self._join_pending_checkpoint()
        if self._durable_round != self.round:
            self._checkpoint()

    # ---------------- outputs -------------------------------------------------

    def counters(self) -> dict:
        """≙ exiter counters (exiter/exiter.go:17-26) from status aggregates.
        The three aggregations are independent Spark jobs and run
        concurrently (fixpoint-only cost ≈ max, not sum)."""
        from concurrent.futures import ThreadPoolExecutor

        if self._frontier is None:
            return {}
        cw = getattr(self, "_counters_from_write", None)
        if cw is not None and cw[0] == self.round == self._durable_round:
            # the last committed write observed exactly the current state
            c = dict(cw[1])
            c["round"] = self.round
            return c
        full = self._frontier_full()
        with self._timed("counters"), ThreadPoolExecutor(max_workers=3) as ex:
            f_rows = ex.submit(
                lambda: full.groupBy("kind", "status").count().collect()
            )
            f_res = ex.submit(
                lambda: self._results.count() if self._results is not None else 0
            )
            f_seen = ex.submit(
                lambda: self._seen.count() if self._seen is not None else 0
            )
            c: dict[str, int] = {}
            for r in f_rows.result():
                c[f"{r['kind']}_{r['status']}"] = r["count"]
            c["results"] = f_res.result()
            c["seen"] = f_seen.result()
        c["round"] = self.round
        return c

    @property
    def results(self) -> DataFrame:
        """Results with the fully-typed ``entry`` struct (schemas.ENTRY_STRUCT,
        SURVEY §1.2 preferred shape) derived JVM-side from canonical_json at
        read time: nested queries like ``entry.complete_address.city`` work
        directly, while the hot loop checkpoints only the canonical JSON
        (Catalyst prunes the parse for queries that never touch ``entry``)."""
        if self._results is None:
            return None
        return self._results.withColumn(
            "entry", F.from_json("canonical_json", ENTRY_STRUCT)
        )

    @property
    def seen(self) -> DataFrame:
        return self._seen

    @property
    def frontier(self) -> DataFrame:
        return self._frontier_full()

    def results_csv(self, path: str) -> None:
        """36-column CSV projection (entry.go:235-315) from canonical JSON."""
        from ..operators.csv_sink import write_results_csv

        write_results_csv(self._results, path)

    def write_results(self, path: str, fmt: str = "csv") -> None:
        """Write through a registered result writer (csv/json/parquet or a
        plugin registered via operators.sinks.register_writer — the
        ResultWriter surface, runner/jobs.go:267-303)."""
        from ..operators.sinks import write_results

        write_results(self._results, path, fmt)

