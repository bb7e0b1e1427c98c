"""Corpus-sampling, sketch, and skew-arithmetic operators (round-4 seventh
and ninth waves).

Operators a web-scale training-data pipeline runs between crawl and
tokenizer, each exact-integer/string so the DuckDB comparison is bit-exact:

* per-domain quota capping — C4/RefinedWeb's "no host dominates the mix"
  stage (≙ the reference's per-host politeness budget, ``plans/crawl.py``
  rotating windows, applied to corpus composition instead of fetch rate);
* exact stratified sampling with largest-remainder allocation — the
  reproducible language-mix downsampler (a ``rand()`` sample reshuffles on
  every plan change; a salted-hash rank never does, and largest-remainder
  makes the per-stratum counts sum EXACTLY to the target);
* a distributed Bloom-filter build — the URL-seen sketch of
  ``operators/bloom.py`` (per-partition shards, OR-merged) surfaced as a
  catalog query: per-word OR-folds are exposed as rows so the oracle
  verifies every bit, not just a cardinality.

All hash ordering rides the salted-md5 idiom the split/MinHash operators
established (identical lowercase hex in Spark and DuckDB; the first 8
nibbles fold to the same 32-bit integer via ``conv`` / the instr fold).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analytics import load

__all__ = ["QUERIES", "ORACLES"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


_QUOTA_SALT = "quota-v1"  # version the cap: resalting re-picks survivors
_QUOTA_CAP = 15           # max documents kept per source domain


@_q(
    "docs_domain_quota_cap",
    f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5('{_QUOTA_SALT}:' || doc_id),
                                         doc_id) AS rk
      FROM documents)
    WHERE rk <= {_QUOTA_CAP} ORDER BY doc_id
    """,
)
def docs_domain_quota_cap(spark, sf):
    """Per-domain quota cap: keep at most {CAP} documents per source,
    chosen by salted-hash order (C4's per-host cap; RefinedWeb §3.1 applies
    the same guard so a handful of giant hosts cannot dominate the
    training mix).  Hash order — not recency or doc_id order — makes the
    survivor set a uniform sample of the domain AND deterministic across
    re-runs/backfills.

    Scale shape: one shuffle, on ``source`` (the window's partition key).
    Per-host skew is the crawl engine's oldest enemy: a 10^8-page host
    makes one window partition own 10^8 rows.  The 100-TB variant bounds
    that the same way the politeness scheduler does — pre-filter with an
    approximate per-host count (broadcast), full-sort only hosts within 2×
    of the cap — but the rank-then-filter semantics here are the exact
    contract either plan must satisfy.  AQE splits the skewed partitions on
    this single-box shape."""
    d = load(spark, sf, "documents")
    h = F.md5(F.concat(F.lit(f"{_QUOTA_SALT}:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA_CAP)
        .select("doc_id", "source", "rk")
        .repartition(1).sortWithinPartitions("doc_id")
    )


_STRAT_SALT = "strat-v1"
_STRAT_DENOM = 5  # sample exactly floor(N/5) documents, allocated by lang


@_q(
    "docs_stratified_sample",
    f"""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n,
                 CAST(SUM(n_l) // {_STRAT_DENOM} AS BIGINT) AS s FROM c),
    a AS (SELECT lang, n_l, t.s AS s,
                 (n_l * t.s) // t.n AS base,
                 (n_l * t.s) % t.n AS rem
          FROM c, t),
    r AS (SELECT lang, base, rem, s,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
                 CAST(SUM(base) OVER () AS BIGINT) AS base_tot
          FROM a),
    alloc AS (SELECT lang,
                     base + CASE WHEN rr <= s - base_tot THEN 1 ELSE 0 END
                       AS quota
              FROM r),
    ranked AS (SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY md5('{_STRAT_SALT}:' || doc_id),
                                                  doc_id) AS rk
               FROM documents)
    SELECT doc_id, lang, rk
    FROM ranked JOIN alloc USING (lang)
    WHERE rk <= quota ORDER BY doc_id
    """,
)
def docs_stratified_sample(spark, sf):
    """Exact stratified sample: draw floor(N/5) documents total, allocated
    across languages proportionally by the largest-remainder (Hamilton)
    method, members picked per stratum by salted-hash rank.  This is the
    language-mix downsampler of a pretraining pipeline: the per-stratum
    counts sum EXACTLY to the target (floor+remainder, no rounding drift),
    and the draw is reproducible — the same corpus always yields the same
    sample, and growing the corpus only perturbs strata whose counts
    changed.

    Scale shape: the allocation table is corpus-size-INDEPENDENT (#langs
    rows) — its full-table window and leftover scalar run on that tiny
    aggregate, never on the corpus (same two-level trick as
    ``docs_pack_sequences``' shard offsets).  The corpus itself takes one
    shuffle (the per-lang rank window) and a broadcast join against the
    allocation; everything else is scan-stage arithmetic."""
    d = load(spark, sf, "documents")
    whole = Window.partitionBy()
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_l"))
        .withColumn("n", F.sum("n_l").over(whole))
        .withColumn("s", F.expr(f"n div {_STRAT_DENOM}"))
        .withColumn("base", F.expr("(n_l * s) div n"))
        .withColumn("rem", F.expr("(n_l * s) % n"))
        .withColumn("base_tot", F.sum("base").over(whole))
        .withColumn(
            "rr",
            F.row_number().over(
                Window.orderBy(F.col("rem").desc(), F.col("lang").asc())
            ),
        )
    )
    alloc = counts.select(
        "lang",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("s") - F.col("base_tot"), 1).otherwise(0)
        ).alias("quota"),
    )
    h = F.md5(F.concat(F.lit(f"{_STRAT_SALT}:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk")
        .repartition(1).sortWithinPartitions("doc_id")
    )


_BLOOM_BITS = 1024  # m: sized m ≈ -n·ln(p)/ln(2)² in production, tiny here
_BLOOM_K = 3        # independent hash functions per key
_BLOOM_WORD = 32    # bits per output word (fits signed 64-bit everywhere)


def _bloom_oracle() -> str:
    fold = (
        "CAST(list_sum(list_transform(range(0, 8), i -> "
        "CAST(instr('0123456789abcdef', "
        "substring(md5('bloom-v1:' || j.j || ':' || text), i + 1, 1)) - 1 "
        "AS BIGINT) << (4 * (7 - i)))) AS BIGINT)"
    )
    word = (
        f"CAST(bit_or(CAST(1 AS BIGINT) << CAST(h % {_BLOOM_WORD} AS INT)) "
        "AS BIGINT)"
    )
    ks = ", ".join(f"({j})" for j in range(_BLOOM_K))
    return f"""
    WITH p AS (
      SELECT {fold} % {_BLOOM_BITS} AS h
      FROM documents CROSS JOIN (VALUES {ks}) AS j(j)
    )
    SELECT h // {_BLOOM_WORD} AS word_idx,
           {word} AS bits,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(bit_count({word}) AS BIGINT) AS n_set
    FROM p GROUP BY 1 ORDER BY 1
    """


@_q("seen_bloom_build", _bloom_oracle())
def seen_bloom_build(spark, sf):
    """Distributed Bloom-filter build over document content — the URL-seen
    sketch of ``operators/bloom.py`` (≙ ``deduper/hasher.go``'s hashed
    seen-set) surfaced as a catalog query with every WORD of the filter
    exposed as a row, so the oracle verifies the exact bit pattern, not a
    summary statistic.

    k={K} salted md5 positions per key spray into m={M} bits grouped as
    {W}-bit words; the build is one explode (k rows per key, map-side) and
    one groupBy on word index whose ``bit_or`` partial-aggregates BEFORE
    the exchange — at most m/{W} rows ever cross the wire per partition,
    regardless of corpus size.  That map-side-combine OR-fold is exactly
    how ``operators/bloom.py``'s per-partition shards merge via treeReduce;
    at 10^10 keys only m grows (and the same plan holds — the shuffle
    stays bounded by filter size, not key count)."""
    d = load(spark, sf, "documents")
    pos = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bloom-v1:{j}:"), F.col("text"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_BITS
        )
        for j in range(_BLOOM_K)
    ]
    return (
        d.select(F.explode(F.array(*pos)).alias("h"))
        .select(
            F.expr(f"h div {_BLOOM_WORD}").alias("word_idx"),
            F.expr(f"CAST(h % {_BLOOM_WORD} AS INT)").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits"),
            F.count("*").alias("n_hits"),
        )
        .withColumn("n_set", F.expr("CAST(bit_count(bits) AS BIGINT)"))
        .repartition(1).sortWithinPartitions("word_idx")
    )


_CMS_ROWS = 4   # d: independent hash rows (error probability ~ e^-d)
_CMS_COLS = 64  # w: counters per row (overestimate ~ total/w)


def _cms_oracle() -> str:
    fold = (
        "CAST(list_sum(list_transform(range(0, 8), i -> "
        "CAST(instr('0123456789abcdef', "
        "substring(md5('cms-v1:' || r.r || ':' || user_id), i + 1, 1)) - 1 "
        "AS BIGINT) << (4 * (7 - i)))) AS BIGINT)"
    )
    rows = ", ".join(f"({r})" for r in range(_CMS_ROWS))
    return f"""
    WITH p AS (
      SELECT r.r AS row_idx, {fold} % {_CMS_COLS} AS col_idx
      FROM events CROSS JOIN (VALUES {rows}) AS r(r)
    )
    SELECT row_idx, col_idx, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM p GROUP BY row_idx, col_idx ORDER BY row_idx, col_idx
    """


@_q("events_cms_build", _cms_oracle())
def events_cms_build(spark, sf):
    """Count-Min sketch build over the event stream's user keys — the
    one-pass heavy-hitter detector a frontier runs to find hot hosts
    BEFORE they melt a politeness partition (the skew signal behind the
    engine's salted per-(host,salt) budget windows; a CMS answers "is this
    key over budget?" in O(d) with no per-key state).  Every counter of
    the d×w matrix is emitted as a row, so the oracle verifies the sketch
    cell-for-cell, and the standard guarantee — min over rows ≥ true
    count — is asserted against exact counts in the pytest oracle.

    Scale shape: the explode is map-side (d rows per event, d={D}); the
    single groupBy on (row, col) partial-aggregates to at most d·w={DW}
    cells per partition before the exchange — like the Bloom build, the
    shuffle is bounded by SKETCH size, not stream size, which is the whole
    point of sketching at 10^10 events."""
    ev = load(spark, sf, "events")
    cells = [
        F.struct(
            F.lit(r).alias("row_idx"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"cms-v1:{r}:"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _CMS_COLS
            ).alias("col_idx"),
        )
        for r in range(_CMS_ROWS)
    ]
    return (
        ev.select(F.explode(F.array(*cells)).alias("c"))
        .groupBy(F.col("c.row_idx").alias("row_idx"), F.col("c.col_idx").alias("col_idx"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition(1).sortWithinPartitions("row_idx", "col_idx")
    )


_SALT_SHARDS = 8


@_q(
    "events_salted_rollup",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_salted_rollup(spark, sf):
    """Skew-salted two-stage aggregation: count/sum per event_type computed
    as groupBy(key, salt) → groupBy(key), with salt = event_id mod {S}.
    The oracle is the PLAIN one-stage GROUP BY — equality proves the salted
    decomposition exact for these associative aggregates.

    This is the north rule's skew treatment ("salted repartitioning on
    eTLD+1 to kill host skew") in catalog form: when one key owns 90% of a
    10^10-row stream, a single-stage groupBy sends that key's every row to
    ONE reducer; salting splits it across {S} reducers and the second stage
    aggregates {S} tiny partials per key.  The engine's politeness windows
    (`plans/crawl.py` per-(host,salt) rotating budgets) and the host-skew
    wall-time benchmark (`tools/bench_skew.py`, ratio ≈1.0 at 90%-one-host)
    rest on exactly this arithmetic."""
    ev = load(spark, sf, "events")
    stage1 = (
        ev.withColumn("salt", F.col("event_id") % _SALT_SHARDS)
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("event_id").alias("ps"),
        )
    )
    return (
        stage1.groupBy("event_type")
        .agg(F.sum("pn").alias("n_events"), F.sum("ps").alias("sum_ids"))
        .repartition(1).sortWithinPartitions("event_type")
    )


_RARITY_SCALE = 1_000_000
_RARITY_RANK_SHARD = 1 << 20  # value-range bucket width for the rank shard


@_q(
    "docs_ccnet_rarity_bucket",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
              FROM t GROUP BY token),
    per_doc AS (
      SELECT t.doc_id AS doc_id,
             CAST((SUM(v.c) * {_RARITY_SCALE}) // COUNT(*) AS BIGINT)
               AS rarity_key
      FROM t JOIN vocab v USING (token) GROUP BY t.doc_id),
    k AS (SELECT doc_id, rarity_key,
                 ROW_NUMBER() OVER (ORDER BY rarity_key, doc_id) AS rk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n
          FROM per_doc)
    SELECT doc_id, rarity_key,
           CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
                                    WHEN 1 THEN 'middle'
                                    ELSE 'tail' END AS bucket
    FROM k ORDER BY doc_id
    """,
)
def docs_ccnet_rarity_bucket(spark, sf):
    """CCNet's head/middle/tail binning: rank every document by its mean
    per-token corpus frequency (scaled-integer ``sum_tok_freq·10^6 div
    n_tok`` — low = rare vocabulary) and cut the ranking into exact
    rank-terciles.  CCNet bins by LM perplexity and keeps the head as the
    high-quality slice; the integer rarity key is the same sufficient
    statistic ``docs_unigram_lm_rarity`` emits, kept exact so the tercile
    boundary cannot drift with float summation order.

    Scale shape: vocabulary census + score join as in the unigram-LM op
    (one corpus shuffle); the RANKED table is per-document (corpus-size ÷
    mean-doc-length), and its global rank decomposes exactly like
    ``docs_pack_sequences``' prefix sum — per-shard counts, tiny cumulative
    window over shard totals, partitioned intra-shard rank — so no single
    task ever owns the full ordering.  Rank-terciles (not value-threshold
    cuts) make the label deterministic under ties via the doc_id
    tiebreak.

    The shard key here is a VALUE-range bucket (``rarity_key div 2^20``) —
    monotone in the sort key, so (shard, key, doc_id) order equals global
    (key, doc_id) order and ties never straddle a shard boundary; value
    skew across buckets is AQE's problem, not a single task's."""
    rarity = docs_unigram_lm_rarity_stats(spark, sf)
    t = rarity.withColumn(
        "shard", F.expr(f"rarity_key div {_RARITY_RANK_SHARD}")
    )
    shard_cnt = t.groupBy("shard").agg(F.count(F.lit(1)).alias("c"))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shard_off = shard_cnt.select(
        "shard",
        F.coalesce(F.sum("c").over(w_sh), F.lit(0)).alias("shard_off"),
        F.sum("c").over(w_all).alias("n"),
    )
    w_in = Window.partitionBy("shard").orderBy("rarity_key", "doc_id")
    return (
        t.join(F.broadcast(shard_off), "shard")
        .withColumn("rk", F.row_number().over(w_in) + F.col("shard_off"))
        .select(
            "doc_id",
            "rarity_key",
            F.expr(
                "CASE ((rk - 1) * 3) div n WHEN 0 THEN 'head'"
                " WHEN 1 THEN 'middle' ELSE 'tail' END"
            ).alias("bucket"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


def docs_unigram_lm_rarity_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc scaled-integer mean token frequency (shared by the CCNet
    bucket op): ``(Σ corpus_freq(token)) · 10^6 div n_tok`` per doc."""
    d = load(spark, sf, "documents")
    t = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    vocab = t.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    return (
        t.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.expr(f"CAST((SUM(c) * {_RARITY_SCALE}) div COUNT(*) AS BIGINT)").alias(
                "rarity_key"
            )
        )
    )
