"""Operator catalog for the driver's correctness gate.

Each entry pairs a Spark DataFrame implementation with an ANSI-SQL oracle
(DuckDB) over the driver's testdata tables.  The catalog re-expresses every
operator family of SURVEY.md §2 on those tables — window-rank round claim,
politeness budgets, anti-join dedup, first-wins admission, set union,
completion counters, cross-join grid seeding, haversine filtering, needle
filters, regex place-id extraction — plus the training-data-pipeline
operators (exact/minhash/simhash/winnowing dedup, token/BPE-pre-token/
quality/lang/fingerprint text analysis, embedding similarity with LSH and
IVF pruning, as-of attribution joins, multimodal image/audio header decode
over opaque binary columns).

Column names are aliased identically in both implementations (the driver's
compare sorts columns by name before hashing values).
"""

from __future__ import annotations

import re as _re
import struct
import zlib
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["QUERIES", "ORACLES", "load", "parse_image_header"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_fanout(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus scan fan-out for expensive map stages (guide §2.2/§6).

    The driver's testdata tables are ONE parquet file with ONE row group, so
    a bare scan is a single input split and every per-row map (shingling,
    per-gram hashing, Arrow UDF decode) runs on one core of ``local[N]``.
    A real table at scale has thousands of splits, where this is a no-op:
    the repartition fires only when the scan has fewer partitions than the
    session's parallelism, and the exchange it adds moves the raw scan
    columns once (KB–MB here) to buy N-way map parallelism.  Use for
    operators whose pre-shuffle per-row work dominates; plain ``load`` is
    cheaper for scan→aggregate queries where the first exchange already
    spreads the work."""
    df = load(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    # single-split detection from file bytes (an os.stat, not a .rdd
    # conversion — the latter costs a full physical planning pass per
    # call): a directory of parquet parts under maxPartitionBytes total is
    # at most a handful of splits, and the driver's testdata is one file
    import os as _os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if _os.path.isdir(path):
            nbytes = sum(
                _os.path.getsize(_os.path.join(path, f))
                for f in _os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            nbytes = _os.path.getsize(path)
    except OSError:
        return df  # not a local path (e.g. s3a://): no size to decide on
    # Spark's own byte-string parser, so "128m" / "64MB" read as Spark does
    java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
    max_split = java_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    if nbytes < max_split:
        df = df.repartition(p)
    return df


def ordered(df: DataFrame, *cols) -> DataFrame:
    """Total-order a SMALL final result without a range exchange.

    ``orderBy`` plans ``Exchange rangepartitioning`` whose bounds sampling
    is a separate job that re-executes the child plan — for map-heavy or
    Python-UDF children the whole query computes twice (guide §2.4:
    "an orderBy used only to make output deterministic").  Catalog results
    are bounded (≤ ~25k rows), so one round-robin exchange into a single
    partition plus an in-partition sort yields the identical total order
    with the child executed exactly once.  Only for driver-bounded outputs;
    a genuinely large sorted result still wants rangepartitioning."""
    return df.repartition(1).sortWithinPartitions(*cols)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# =============================================================================
# Crawl-engine operator analogs (SURVEY §2.1/2.2/2.3/2.5/2.6)
# =============================================================================

@_q(
    "frontier_claim_topk",
    """
    SELECT event_type, event_id, rk FROM (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, ts ASC, event_id ASC) AS rk
      FROM events
    ) WHERE rk <= 5
    """,
)
def frontier_claim_topk(spark, sf):
    """Window-rank round claim (≙ postgres/provider.go:152-165: ORDER BY
    priority, created_at LIMIT n per claim)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "event_id", "rk")
    )


@_q(
    "politeness_budget_rank",
    """
    SELECT bucket, event_id FROM (
      SELECT user_id % 16 AS bucket, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 16
                                ORDER BY ts ASC, event_id ASC) AS rk
      FROM events
    ) WHERE rk <= 3
    """,
)
def politeness_budget_rank(spark, sf):
    """Per-bucket budget claim (salted politeness rank; north_rule)."""
    ev = load(spark, sf, "events").withColumn(
        "bucket", (F.col("user_id") % 16).cast("bigint")
    )
    w = Window.partitionBy("bucket").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("bucket", "event_id")
    )


@_q(
    "dedup_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def dedup_anti_join(spark, sf):
    """URL-seen check as left-anti join (≙ deduper/hashmap.go:16-35)."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


@_q(
    "first_wins_admission",
    """
    SELECT user_id, event_id AS first_event_id FROM (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def first_wins_admission(spark, sf):
    """First-occurrence-wins dedup ordering (≙ sequential AddIfNotExists
    during DOM iteration, gmaps/job.go:159-176)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"))
    )


@_q(
    "seen_union_distinct",
    """
    SELECT COUNT(*) AS n_keys FROM (
      SELECT o_custkey AS k FROM orders
      UNION
      SELECT c_custkey AS k FROM customer
    )
    """,
)
def seen_union_distinct(spark, sf):
    """Seen-set union across rounds (≙ union + dropDuplicates)."""
    orders = load(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    cust = load(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    return orders.union(cust).distinct().agg(F.count("*").alias("n_keys"))


@_q(
    "completion_counters",
    """
    SELECT o_orderstatus, COUNT(*) AS n_jobs,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders GROUP BY o_orderstatus
    """,
)
def completion_counters(spark, sf):
    """Exiter counters as status aggregates (≙ exiter/exiter.go:49-93)."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_jobs"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


@_q(
    "priority_queue_drain",
    """
    SELECT o_orderpriority, o_orderkey, rk FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rk <= 10
    """,
)
def priority_queue_drain(spark, sf):
    """Priority + FIFO drain order (≙ ORDER BY priority ASC, created_at ASC)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        load(spark, sf, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("o_orderpriority", "o_orderkey", "rk")
    )


@_q(
    "crossjoin_grid",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def crossjoin_grid(spark, sf):
    """Grid seeding cross product (≙ CreateGridSeedJobs queries×cells,
    runner/jobs.go:173-211)."""
    return load(spark, sf, "region").crossJoin(load(spark, sf, "nation")).select(
        "r_name", "n_name"
    )


@_q(
    "haversine_filter",
    """
    SELECT c_custkey, ROUND(dist_m) AS dist_m_r FROM (
      SELECT c_custkey,
             2 * 6371000.0 * ASIN(SQRT(
               POW(SIN((RADIANS(((c_custkey % 120) - 60) * 0.7)
                        - RADIANS(10.0)) / 2), 2)
               + COS(RADIANS(10.0))
                 * COS(RADIANS(((c_custkey % 120) - 60) * 0.7))
                 * POW(SIN((RADIANS((((c_custkey * 7) % 300) - 150) * 0.9)
                            - RADIANS(20.0)) / 2), 2)
             )) AS dist_m
      FROM customer
    ) WHERE dist_m <= 3000000.0
    """,
)
def haversine_filter(spark, sf):
    """Geo radius filter (≙ haversine, gmaps/entry.go:176-201, R=6371e3) over
    synthesized deterministic coordinates."""
    c = load(spark, sf, "customer")
    lat = ((F.col("c_custkey") % 120) - 60) * 0.7
    lon = (((F.col("c_custkey") * 7) % 300) - 150) * 0.9
    dlat = (F.radians(lat) - F.radians(F.lit(10.0))) / 2
    dlon = (F.radians(lon) - F.radians(F.lit(20.0))) / 2
    a = F.pow(F.sin(dlat), 2) + (
        F.cos(F.radians(F.lit(10.0))) * F.cos(F.radians(lat)) * F.pow(F.sin(dlon), 2)
    )
    dist = F.lit(2 * 6371000.0) * F.asin(F.sqrt(a))
    return (
        c.withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= 3000000.0)
        .select("c_custkey", F.round("dist_m").alias("dist_m_r"))
    )


@_q(
    "website_email_gate",
    """
    SELECT doc_id, website FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN ''
                  WHEN doc_id % 7 = 1 THEN 'https://facebook.com/p' || doc_id
                  WHEN doc_id % 7 = 2 THEN 'https://instragram.example/p' || doc_id
                  WHEN doc_id % 7 = 3 THEN 'https://twitter.com/p' || doc_id
                  ELSE 'https://' || source || '.example.com/p' || doc_id END AS website
      FROM documents
    ) WHERE website <> ''
      AND website NOT LIKE '%facebook%'
      AND website NOT LIKE '%instragram%'
      AND website NOT LIKE '%twitter%'
    """,
)
def website_email_gate(spark, sf):
    """Email-site validity filter with the reference's exact needles —
    including the 'instragram' misspelling (gmaps/entry.go:203-221)."""
    d = load(spark, sf, "documents")
    website = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.lit("https://facebook.com/p"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.lit("https://instragram.example/p"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 3, F.concat(F.lit("https://twitter.com/p"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/p"), F.col("doc_id")))
    )
    d = d.withColumn("website", website)
    return d.filter(
        (F.col("website") != "")
        & ~F.col("website").contains("facebook")
        & ~F.col("website").contains("instragram")
        & ~F.col("website").contains("twitter")
    ).select("doc_id", "website")


@_q(
    "place_id_regex_extract",
    """
    SELECT doc_id, regexp_extract(u, '!1s([^!]+)', 1) AS place_id FROM (
      SELECT doc_id,
             'https://www.google.com/maps/place/x/data=!4m2!1s0x' || md5(CAST(doc_id AS VARCHAR))
             || '!8m2' AS u
      FROM documents
    )
    """,
)
def place_id_regex_extract(spark, sf):
    """Regex place-id cascade, first pattern (≙ gmaps/reviews.go:199-233)."""
    d = load(spark, sf, "documents")
    u = F.concat(
        F.lit("https://www.google.com/maps/place/x/data=!4m2!1s0x"),
        F.md5(F.col("doc_id").cast("string")),
        F.lit("!8m2"),
    )
    return d.select(
        "doc_id", F.regexp_extract(u, r"!1s([^!]+)", 1).alias("place_id")
    )


# =============================================================================
# Relational engine coverage (joins/aggregations at TPC-H shapes)
# =============================================================================

@_q(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark, sf):
    """Partial-aggregatable wide scan (map-side combine; classic Q1 shape)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "broadcast_dim_rollup",
    """
    SELECT r_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_dim_rollup(spark, sf):
    """Small-dimension broadcast join chain (dims explicitly broadcast)."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@_q(
    "tpch_q3_shipping",
    """
    SELECT o_orderkey, ROUND(revenue, 2) AS revenue_r FROM (
      SELECT l_orderkey AS o_orderkey,
             SUM(l_extendedprice * (1 - l_discount)) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey
    ) ORDER BY revenue_r DESC, o_orderkey ASC LIMIT 10
    """,
)
def tpch_q3_shipping(spark, sf):
    """Fact-fact join + top-k (shuffle join with AQE)."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("o_orderkey", F.round("revenue", 2).alias("revenue_r"))
        .orderBy(F.col("revenue_r").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_q(
    "tpch_q5_local_revenue",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def tpch_q5_local_revenue(spark, sf):
    """Q5 shape: two fact joins + three broadcast dims + co-nation predicate.
    supplier/nation/region broadcast; customer⋈orders⋈lineitem shuffle on
    keys with AQE."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    su = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(su),
            (li.l_suppkey == su.s_suppkey) & (su.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_q(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_r, qty
    FROM (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
             SUM(l_quantity) AS qty
      FROM orders o JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
      HAVING SUM(l_quantity) > 150
    ) big JOIN customer ON c_custkey = big.o_custkey
    ORDER BY total_r DESC, o_orderkey ASC LIMIT 20
    """,
)
def tpch_q18_large_orders(spark, sf):
    """Q18 shape: aggregate-then-filter (HAVING) + join + top-k — the
    aggregation is partial-aggregatable, the final sort is a 20-row
    TakeOrdered, never a global sort."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    c = load(spark, sf, "customer")
    big = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    return (
        big.join(c, c.c_custkey == big.o_custkey)
        .select(
            "c_custkey", "o_orderkey",
            F.round("o_totalprice", 2).alias("total_r"), "qty",
        )
        .orderBy(F.col("total_r").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


# =============================================================================
# Training-data pipeline: text analysis & dedup over `documents`
# =============================================================================

@_q(
    "docs_exact_dedup",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def docs_exact_dedup(spark, sf):
    """Exact dedup: hash-groupBy, keep min doc_id per content hash."""
    d = load(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies")
    )


@_q(
    "docs_token_count",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def docs_token_count(spark, sf):
    """Whitespace token counting (training-data budget accounting)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )


@_q(
    "docs_bpe_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n'']+')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def docs_bpe_token_count(spark, sf):
    """BPE-style pre-tokenizer counting (the GPT-2 pre-tokenizer shape:
    contraction suffix | space-prefixed letter run | space-prefixed digit
    run | space-prefixed punctuation run) — the token-budget estimate a
    training pipeline uses where whitespace splitting undercounts (e.g.
    "don't" = 2 pre-tokens, "a,b" = 3).  The pattern avoids lookahead and
    backrefs so Java regex (Spark) and RE2 (DuckDB) agree exactly; the
    count stays a JVM-side regexp_extract_all, no Python."""
    d = load(spark, sf, "documents")
    pat = "'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n']+"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@_q(
    "docs_quality_score",
    """
    SELECT doc_id, n_chars,
           len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b')) AS stopword_hits,
           len(regexp_extract_all(text, '[.!?,;]')) AS punct_hits,
           CASE WHEN n_chars < 200 THEN 'short'
                WHEN n_chars < 400 THEN 'medium'
                ELSE 'long' END AS length_bucket
    FROM documents
    """,
)
def docs_quality_score(spark, sf):
    """Quality heuristics: stopword density, punctuation, length buckets."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        "n_chars",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"\b(the|a|and|of|to|in)\b"), F.lit(0)))
        .cast("long")
        .alias("stopword_hits"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?,;]"), F.lit(0)))
        .cast("long")
        .alias("punct_hits"),
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long")
        .alias("length_bucket"),
    )


@_q(
    "docs_lang_id",
    """
    SELECT doc_id, lang,
           CASE WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|is)\\b')) >= 3
                THEN 'en' ELSE lang END AS lang_pred
    FROM documents
    """,
)
def docs_lang_id(spark, sf):
    """N-gram-heuristic language ID (English function-word density, falling
    back to the declared lang)."""
    d = load(spark, sf, "documents")
    en_hits = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"\b(the|and|of|is)\b"), F.lit(0))
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(en_hits >= 3, "en").otherwise(F.col("lang")).alias("lang_pred"),
    )


@_q(
    "docs_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', '', 'g')) AS fingerprint
    FROM documents
    """,
)
def docs_fingerprint(spark, sf):
    """Whitespace-insensitive content fingerprint (normalize → hash)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", "")).alias("fingerprint"),
    )


@_q(
    "docs_vocab_topk",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 20
    """,
)
def docs_vocab_topk(spark, sf):
    """Global vocabulary top-k — the corpus-level token-frequency table a
    training pipeline builds for tokenizer fitting / vocab pruning.

    Scale shape: explode happens map-side and feeds a partial (map-side
    combine) aggregation, so the single shuffle carries one row per
    (partition, distinct token) — bounded by vocabulary size, not corpus
    size.  The final top-k is an ``orderBy().limit()`` that Spark executes
    as TakeOrdered (per-partition heaps + driver merge of k rows), never a
    full global sort."""
    d = load(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(20)
    )


@_q(
    "docs_word_rep_stats",
    """
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
           CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS dup_words
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def docs_word_rep_stats(spark, sf):
    """Within-document repetition stats (the Gopher-style repetition
    filters' raw signal): total words, distinct words, and the duplicate
    surplus per document.  Counts are exact integers so the oracle compare
    is bit-stable; the duplicate *fraction* is ``dup_words / n_words``
    downstream.

    Scale shape: ``split`` + ``array_distinct`` + ``size`` are all
    JVM-side array expressions evaluated per row inside the scan stage —
    no explode, no shuffle, no Python."""
    d = load(spark, sf, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_words"),
        (F.size(toks) - F.size(F.array_distinct(toks)))
        .cast("long")
        .alias("dup_words"),
    ).repartition(1).sortWithinPartitions("doc_id")


@_q(
    "multimodal_binary_meta",
    """
    SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS payload_sha
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf):
    """Opaque-binary column plumbing: typed metadata over a payload column
    (the pattern used for image/audio blobs; decode stays a stub)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).cast("long").alias("byte_len"),
        F.sha2(F.col("text"), 256).alias("payload_sha"),
    )


@_q(
    "nested_struct_city_rollup",
    """
    SELECT ca.city AS city, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM (
      SELECT c_acctbal,
             {'street': c_name, 'city': n_name, 'country': r_name} AS ca
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    )
    WHERE ca.country = 'EUROPE' AND ca.city <> 'FRANCE'
    GROUP BY ca.city
    ORDER BY city
    """,
)
def nested_struct_city_rollup(spark, sf):
    """Nested-field predicate + rollup over a typed struct column — the query
    shape the typed Entry struct enables on crawl results (e.g. WHERE
    entry.complete_address.city = ...; schemas.ENTRY_STRUCT).  Filters on
    struct fields stay JVM-side and prune like flat columns."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    ca = F.struct(
        F.col("c_name").alias("street"),
        F.col("n_name").alias("city"),
        F.col("r_name").alias("country"),
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("ca", ca)
        .filter((F.col("ca.country") == "EUROPE") & (F.col("ca.city") != "FRANCE"))
        .groupBy(F.col("ca.city").alias("city"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .repartition(1).sortWithinPartitions("city")
    )


# --- multimodal: real header decode over an opaque binary column -----------
#
# The container ships no image libs, so full pixel decode stays out of reach;
# header parsing (PNG IHDR / JPEG SOF marker scan) is real byte-level
# decoding and exercises the whole multimodal plumbing: binary column →
# Arrow batch → vectorized parser → typed struct.

def _png_payload(width: int, height: int) -> bytes:
    """Minimal valid PNG prelude: signature + IHDR chunk (real CRC)."""
    ihdr = struct.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def _jpeg_payload(width: int, height: int) -> bytes:
    """Minimal JFIF stream: SOI + APP0 + SOF0 (dims live here) + EOI."""
    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = b"\x08" + struct.pack(">HH", height, width) + b"\x01\x11\x00\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


_PNG_LEN = len(_png_payload(1, 1))
_JPEG_LEN = len(_jpeg_payload(1, 1))


def parse_image_header(b: bytes | None) -> tuple[str | None, int | None, int | None]:
    """Decode (format, width, height) from raw image bytes: PNG IHDR fields,
    or a real JPEG marker-segment scan for the first SOF0/1/2 frame header."""
    if not b:
        return (None, None, None)
    b = bytes(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b[:2] == b"\xff\xd8":
        # Marker scan per ITU-T T.81 §B.1.1.2: markers may be preceded by any
        # number of 0xFF fill bytes, and TEM (0x01), RST0-7 (0xD0-0xD7), SOI
        # (0xD8) and EOI (0xD9) are standalone — they carry NO length segment.
        # Reading a 2-byte length for those desyncs the scan on real-world
        # streams (round-2 ADVICE).  Entropy-coded data after SOS (0xDA) is
        # not marker-structured, so the scan stops there.
        i, n = 2, len(b)
        while i + 1 < n:
            if b[i] != 0xFF:
                return ("jpeg", None, None)  # desynced / corrupt stream
            while i + 1 < n and b[i + 1] == 0xFF:
                i += 1  # 0xFF fill byte padding before the marker code
            marker = b[i + 1]
            i += 2
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                continue  # standalone marker: no length segment
            if marker == 0xD9:  # EOI
                break
            if i + 2 > n:
                break
            seglen = int.from_bytes(b[i : i + 2], "big")
            if seglen < 2:
                return ("jpeg", None, None)
            if marker in (0xC0, 0xC1, 0xC2) and i + 7 <= n:
                h, w = struct.unpack(">HH", b[i + 3 : i + 7])
                return ("jpeg", w, h)
            if marker == 0xDA:  # SOS: entropy-coded data follows, stop
                break
            i += seglen
        return ("jpeg", None, None)
    return ("unknown", None, None)


@_q(
    "multimodal_image_dims",
    f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(16 + (doc_id * 13) % 2048 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 2048 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN {_PNG_LEN} ELSE {_JPEG_LEN} END
                AS BIGINT) AS byte_len
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_image_dims(spark, sf):
    """Image-header decode over a binary payload column: synthesize a real
    PNG/JPEG header stream per document (deterministic dims from doc_id),
    then DECODE it back with a byte-level parser — two independent
    vectorized UDFs, so the parse stage sees only opaque bytes.  The oracle
    recomputes the expected dims arithmetically, verifying the decoder."""

    @F.pandas_udf("binary")
    def synth_payload(doc_id: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            w, h = 16 + (i * 13) % 2048, 16 + (i * 7) % 2048
            return _png_payload(w, h) if i % 2 == 0 else _jpeg_payload(w, h)

        return doc_id.map(lambda i: mk(int(i)))

    @F.pandas_udf("format string, width int, height int")
    def decode_header(payload: pd.Series) -> pd.DataFrame:
        rows = [parse_image_header(b) for b in payload]
        return pd.DataFrame(rows, columns=["format", "width", "height"])

    d = load(spark, sf, "documents").select("doc_id")
    with_payload = d.withColumn("payload", synth_payload("doc_id"))
    return (
        with_payload.withColumn("img", decode_header("payload"))
        .select(
            "doc_id",
            F.col("img.format").alias("format"),
            F.col("img.width").alias("width"),
            F.col("img.height").alias("height"),
            F.octet_length("payload").cast("long").alias("byte_len"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


@_q(
    "events_sessionize",
    """
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions FROM (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    ) GROUP BY user_id
    """,
)
def events_sessionize(spark, sf):
    """Stateful sessionization (30-min inactivity gap) as window dataflow —
    the batch equivalent of the streaming state operator."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = micros - F.lag(micros).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    sess = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
    )


# =============================================================================
# As-of join (custom operator: Spark has no ASOF JOIN; DuckDB does)
# =============================================================================

@_q(
    "events_asof_attribution",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    s AS (SELECT event_id, user_id, event_type, ts FROM events
          WHERE event_type IN ('click', 'view'))
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           COALESCE(s.event_id, -1) AS src_event_id,
           COALESCE(s.event_type, 'none') AS src_event_type,
           COALESCE(date_diff('microsecond', s.ts, p.ts), -1) AS gap_us
    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts > s.ts
    ORDER BY event_id
    """,
)
def events_asof_attribution(spark, sf):
    """As-of join: attribute each ``purchase`` event to the same user's
    latest strictly-preceding ``click``/``view`` event (last-touch
    attribution).  Spark lacks a native ASOF JOIN; a range join explodes to
    O(|events|·|sources|) rows before aggregation.  This is the scalable
    composition instead: tag both sides, union, and take
    ``last(src, ignorenulls)`` over a (user, ts) window — ONE shuffle on
    user_id, O(n log n) per partition, no pair blow-up.  Strict `<`
    semantics come from the sort key: purchases order BEFORE equal-ts
    sources (kind 0 < 1), so an equal-timestamp source is outside the
    frame.  Misses are coalesced to sentinel values (-1 / 'none') so the
    output schema is non-nullable on both engines.  At 10^10-event scale
    the only skew risk is a single hot user_id; the same salting used for
    politeness buckets (plans/crawl.py) applies if one appears."""
    ev = load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.lit(None)
        .cast("struct<event_id:bigint,event_type:string,ts:timestamp_ntz>")
        .alias("src"),
    )
    sources = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct("event_id", "event_type", "ts").alias("src"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(sources)
        .withColumn("attr", F.last("src", ignorenulls=True).over(w))
        .filter(F.col("kind") == 0)
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("attr.event_id"), F.lit(-1)).alias("src_event_id"),
            F.coalesce(F.col("attr.event_type"), F.lit("none")).alias("src_event_type"),
            F.coalesce(
                F.expr("timestampdiff(MICROSECOND, attr.ts, ts)"), F.lit(-1)
            ).alias("gap_us"),
        )
        .repartition(1).sortWithinPartitions("event_id")
    )


# --- multimodal: audio (WAV/RIFF) header decode ----------------------------

_WAV_RATES = (8000, 16000, 22050, 44100, 48000)


def _wav_payload(channels: int, rate: int, bits: int, n_samples: int) -> bytes:
    """Minimal valid WAV header stream: RIFF/WAVE + fmt chunk + data chunk
    header (the declared data is not appended — header-only stream, same
    contract as the image payloads)."""
    data_size = n_samples * channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        channels,
        rate,
        rate * channels * (bits // 8),
        channels * (bits // 8),
        bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", data_size)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_header(b: bytes | None):
    """Decode (channels, sample_rate, bits, n_samples) from a WAV stream by
    a real RIFF chunk walk (chunks are word-aligned; fmt need not precede
    data immediately) — per the RIFF/WAVE spec, not a fixed-offset read."""
    if not b:
        return (None, None, None, None)
    b = bytes(b)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return (None, None, None, None)
    i, n = 12, len(b)
    channels = rate = bits = n_samples = None
    while i + 8 <= n:
        cid = b[i : i + 4]
        clen = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 8 + 16 <= n:
            _, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", b[i + 8 : i + 24]
            )
        elif cid == b"data" and channels and bits:
            n_samples = clen // (channels * (bits // 8))
        i += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
    return (channels, rate, bits, n_samples)


@_q(
    "multimodal_wav_meta",
    f"""
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(([8000, 16000, 22050, 44100, 48000])[CAST(doc_id % 5 AS INT) + 1]
                AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(1000 + (doc_id * 37) % 8000 AS INT) AS n_samples,
           CAST((1000 + (doc_id * 37) % 8000) * 1000
                // ([8000, 16000, 22050, 44100, 48000])[CAST(doc_id % 5 AS INT) + 1]
                AS BIGINT) AS duration_ms
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_wav_meta(spark, sf):
    """Audio-header decode over an opaque binary column — the audio sibling
    of ``multimodal_image_dims``: synthesize a real RIFF/WAVE header stream
    per document (deterministic params from doc_id), decode it back with a
    spec-correct chunk walk, and derive typed metadata (channels, rate,
    bits, sample count, duration).  Synthesis and decode are independent
    vectorized UDFs so the parser sees only opaque bytes; the oracle
    recomputes every field arithmetically, verifying the decoder.  The same
    plumbing (binary column -> Arrow batch -> vectorized parser -> typed
    struct) is where a real audio lib would slot in for waveform decode."""

    @F.pandas_udf("binary")
    def synth_wav(doc_id: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            return _wav_payload(
                1 + i % 2, _WAV_RATES[i % 5], 16, 1000 + (i * 37) % 8000
            )

        return doc_id.map(lambda i: mk(int(i)))

    @F.pandas_udf(
        "channels int, sample_rate int, bits int, n_samples int"
    )
    def decode_wav(payload: pd.Series) -> pd.DataFrame:
        rows = [parse_wav_header(b) for b in payload]
        return pd.DataFrame(
            rows, columns=["channels", "sample_rate", "bits", "n_samples"]
        )

    d = load(spark, sf, "documents").select("doc_id")
    return (
        d.withColumn("payload", synth_wav("doc_id"))
        .withColumn("wav", decode_wav("payload"))
        .select(
            "doc_id",
            F.col("wav.channels").alias("channels"),
            F.col("wav.sample_rate").alias("sample_rate"),
            F.col("wav.bits").alias("bits"),
            F.col("wav.n_samples").alias("n_samples"),
            # integral `div`, not `/`: float division + cast can land one
            # ulp under the exact quotient and truncate differently from
            # the oracle's integer `//`
            F.expr(
                "cast(wav.n_samples as bigint) * 1000 div wav.sample_rate"
            ).alias("duration_ms"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# =============================================================================
# Training-data pipeline, round-4 second wave: range join, corpus line dedup,
# benchmark-contamination check, PII scrubbing, length quantiles
# =============================================================================

_RANGE_W_US = 21_600_000_000  # 6 h window, microseconds


@_q(
    "events_range_join_6h",
    f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    s AS (SELECT user_id, ts FROM events
          WHERE event_type IN ('click', 'view'))
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           COUNT(s.ts) AS n_src
    FROM p LEFT JOIN s ON p.user_id = s.user_id
         AND date_diff('microsecond', s.ts, p.ts)
             BETWEEN 1 AND {_RANGE_W_US}
    GROUP BY p.event_id, p.user_id
    ORDER BY event_id
    """,
)
def events_range_join_6h(spark, sf):
    """Range join: for each ``purchase``, count the same user's
    ``click``/``view`` events in the strictly-preceding 6-hour window.

    A naive ``ON u = u AND s.ts BETWEEN p.ts - 6h AND p.ts`` inequality join
    plans as BroadcastNestedLoopJoin in Spark — O(|P|·|S|) compares, the
    classic 100-TB killer (OSS Spark has no range-join optimization; the
    plan-guard test pins BNLJ absence).  The scalable decomposition buckets
    both sides by ⌊ts / W⌋: a source inside the window lies in the
    purchase's bucket or the one before, so exploding each purchase to its
    2 candidate buckets turns the range join into an EQUI-join on
    (user_id, bucket) — one shuffle per side, candidate set ≤ 2·|S ∩ user|,
    then the exact window predicate filters residents.  Bucket width = the
    window keeps the candidate factor at exactly 2 regardless of data
    density; skewed users salt like politeness buckets (plans/crawl.py)."""
    ev = load(spark, sf, "events")
    w = F.lit(_RANGE_W_US).cast("long")
    # the parquet ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (session
    # tz is pinned to UTC, so the cast is value-preserving)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us("ts").alias("pts")
    )
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        us("ts").alias("sts"),
    ).withColumn("bkt", F.expr(f"sts div {_RANGE_W_US}"))
    cand = (
        p.withColumn("pb", F.expr(f"pts div {_RANGE_W_US}"))
        .withColumn("bkt", F.explode(F.array(F.col("pb"), F.col("pb") - 1)))
        .join(s, ["user_id", "bkt"], "inner")
        .filter(
            (F.col("pts") - F.col("sts") >= 1)
            & (F.col("pts") - F.col("sts") <= w)
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        p.join(cand, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_src"),
        )
        .repartition(1).sortWithinPartitions("event_id")
    )


# --- corpus-level duplicated-line removal (CCNet / RefinedWeb stage) --------

_LINE_TOKS = 10   # fixed line width, tokens (synthetic docs carry no \n)
_LINE_MIN_DOCS = 3  # a line present in >= this many docs is boilerplate


def doc_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ln, line_text): the document split into fixed 10-token
    lines.  Built entirely map-side (split → sequence → slice → array_join
    inside one projection) — no token-level explode, no shuffle; the only
    corpus-wide shuffle in the consumers below is the groupBy on the line
    key itself."""
    # posexplode_outer + isnotnull prefilter (r6): the inner generator
    # triggers InferFiltersFromGenerate, whose size()>0 clone re-evaluates
    # the whole line-building HOF per row; the line array is never empty
    # for non-null text (sequence over >= 1 element), so semantics match
    return df.filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) /"
                f" {_LINE_TOKS}.0) as int) - 1),"
                f" i -> array_join(slice(split({text_col}, ' '),"
                f" i * {_LINE_TOKS} + 1, {_LINE_TOKS}), ' '))"
            )
        ).alias("ln", "line_text"),
    )


_LINE_CTE = f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    idx AS (SELECT doc_id, ts,
                   unnest(range(CAST(ceil(len(ts) / {_LINE_TOKS}.0) AS BIGINT)))
                     AS ln
            FROM tok),
    lines AS (SELECT doc_id, ln,
                     array_to_string(
                       ts[ln * {_LINE_TOKS} + 1 : ln * {_LINE_TOKS} + {_LINE_TOKS}],
                       ' ') AS line_text
              FROM idx)
"""


@_q(
    "docs_line_dedup",
    f"""
    WITH {_LINE_CTE},
    dup AS (SELECT line_text FROM lines
            GROUP BY line_text HAVING COUNT(DISTINCT doc_id) >= {_LINE_MIN_DOCS})
    SELECT l.doc_id AS doc_id,
           COALESCE(string_agg(CASE WHEN d.line_text IS NULL THEN l.line_text END,
                               ' ' ORDER BY l.ln), '') AS clean_text,
           COUNT(CASE WHEN d.line_text IS NULL THEN 1 END) AS n_kept,
           COUNT(d.line_text) AS n_dropped
    FROM lines l LEFT JOIN dup d USING (line_text)
    GROUP BY l.doc_id
    ORDER BY doc_id
    """,
)
def docs_line_dedup(spark, sf):
    """Corpus-level duplicated-line removal (the CCNet / RefinedWeb
    boilerplate stage): a line occurring in >= 3 distinct documents is
    dropped from every document; survivors reassemble in order.

    Scale shape: line construction is map-side (doc_lines), the boilerplate
    census is ONE groupBy on the line text (partial aggregation after a
    per-doc distinct), and reassembly is ONE groupBy on doc_id.  The dup-line
    set is the small side by construction (boilerplate is the head of the
    line-frequency distribution) — Spark/AQE broadcasts it into the
    line-level join, so document text shuffles exactly once, keyed by
    doc_id, at 100 TB.  Order is restored from the carried line index, not
    partition luck (collect_list order is nondeterministic; sort_array on
    the (ln, line) struct is not)."""
    d = load(spark, sf, "documents")
    lines = doc_lines(d)
    dup = (
        lines.select("line_text", "doc_id")
        .distinct()
        .groupBy("line_text")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= _LINE_MIN_DOCS)
        .select("line_text", F.lit(True).alias("is_dup"))
    )
    kept = F.col("is_dup").isNull()
    return (
        lines.join(dup, "line_text", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(kept, F.struct("ln", "line_text"))
                        )
                    ),
                    lambda x: x["line_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.when(kept, F.lit(1))).alias("n_kept"),
            F.count("is_dup").alias("n_dropped"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- benchmark-contamination check (decontamination stage) ------------------

_BENCH_MOD = 97   # benchmark set: doc_id % 97 == 0 (deterministic, no RNG)
_BENCH_GRAM = 3   # token n-gram length (calibrated to the synthetic corpus's
                  # repetition length; real pipelines use 8-13)


@_q(
    "docs_contamination_check",
    f"""
    WITH bench AS (
      SELECT doc_id AS bench_id,
             array_to_string(string_split(text, ' ')[1:{_BENCH_GRAM}], ' ')
               AS gram
      FROM documents
      WHERE doc_id % {_BENCH_MOD} = 0
        AND len(string_split(text, ' ')) >= {_BENCH_GRAM}
    )
    SELECT d.doc_id AS doc_id, COUNT(DISTINCT b.bench_id) AS n_bench_hits
    FROM documents d JOIN bench b
      ON contains(' ' || d.text || ' ', ' ' || b.gram || ' ')
    GROUP BY d.doc_id
    ORDER BY doc_id
    """,
)
def docs_contamination_check(spark, sf):
    """Benchmark decontamination: flag corpus documents containing any
    benchmark document's leading token n-gram (the held-out-eval leakage
    check every training-data pipeline runs; n-gram membership per
    GPT-3/PaLM-style 8-13-gram decontamination, here 3 to match the
    synthetic corpus's repetition length).

    The oracle scans with substring-contains (token-aligned via the
    space padding) — an O(|corpus|·|bench|) cross join that is fine for
    DuckDB at sf0.01 and catastrophic at 100 TB.  The Spark side is the
    scalable shape instead: every document explodes to its distinct
    token-aligned n-grams map-side, the (tiny) benchmark gram set
    broadcasts, and the match is an EQUI-join on the gram string — corpus
    text is touched once, nothing but (doc_id, gram) ever shuffles, and
    the gram explosion prunes through the distinct before the join."""
    d = load(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    bench = (
        d.filter(
            (F.col("doc_id") % _BENCH_MOD == 0) & (F.size(toks) >= _BENCH_GRAM)
        )
        .select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(F.slice(toks, 1, _BENCH_GRAM), " ").alias("gram"),
        )
    )
    grams = (
        d.filter(F.size(toks) >= _BENCH_GRAM)
        .select(
            "doc_id",
            # explode_outer: the size filter above guarantees a non-null,
            # non-empty gram array, and the outer variant skips the
            # generator-cloning InferFiltersFromGenerate rule (r6)
            F.explode_outer(
                F.expr(
                    f"transform(sequence(0, size(split(text, ' ')) - {_BENCH_GRAM}),"
                    f" i -> array_join(slice(split(text, ' '), i + 1, {_BENCH_GRAM}), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    return (
        grams.join(F.broadcast(bench), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("bench_id")).alias("n_bench_hits"))
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- PII scrubbing (privacy stage) ------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9-]{7,}[0-9]"


@_q(
    "docs_pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail.example.com or call'
                  || ' +1-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' now' AS t
      FROM documents)
    SELECT doc_id,
      regexp_replace(
        regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
        '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
      len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
      len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones
    FROM aug
    ORDER BY doc_id
    """,
)
def docs_pii_scrub(spark, sf):
    """PII scrubbing: redact email addresses and phone numbers, reporting
    per-document match counts.  The synthetic corpus carries no PII, so the
    query injects a deterministic contact line per doc_id first (both
    engines run the identical concat) — the scrub itself is then real:
    email before phone (the email's local part contains digit runs a
    phone-first pass would mangle), global replacement, JVM-side
    ``regexp_replace``/``regexp_extract_all`` throughout (no Python in the
    hot path; the patterns avoid constructs where Java and RE2 semantics
    diverge — no backrefs, no lookaround)."""
    d = load(spark, sf, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" now"),
    )
    return (
        d.select("doc_id", t.alias("t"))
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("t", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ).alias("scrubbed"),
            F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0)))
            .cast("long")
            .alias("n_emails"),
            F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0)))
            .cast("long")
            .alias("n_phones"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- exact length quantiles (length-filter thresholding) ---------------------

# nearest-rank quantiles as (name, numerator, denominator): rank ⌈p·n⌉ is
# computed in INTEGER arithmetic — (num·n + den − 1) div den — because the
# float formulation diverges across engines (DuckDB parses 0.9 as an exact
# DECIMAL, so 0.9·70 = 63.0 → ceil 63; IEEE doubles give 63.000…007 → 64)
_QUANTILES = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@_q(
    "docs_length_quantiles",
    f"""
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY len(string_split(text, ' ')), doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT lang,
      {", ".join(
        f"MAX(CASE WHEN rn = ({num} * n + {den - 1}) // {den} THEN n_tok END)"
        f" AS {name}" for name, num, den in _QUANTILES)},
      MAX(n) AS n_docs
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def docs_length_quantiles(spark, sf):
    """Exact per-language token-count quantiles (the thresholds a length
    filter is calibrated from).  Nearest-rank definition (value at rank
    ⌈p·n⌉, ties broken by doc_id) rather than interpolated: the result is
    an integer actually present in the data, and — unlike linear
    interpolation, where two engines' float lerp orders can differ in the
    last ulp — bit-exact across engines by construction (the rank itself is
    integer arithmetic too; see the _QUANTILES note).  One shuffle
    (partition by lang), windowed rank, no driver collect; a skewed
    language partition at 100 TB takes the two-pass variant (per-partition
    histograms + treeReduce) — at 10^7 docs/lang the single window is the
    right plan."""
    d = load(spark, sf, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    t = d.select("lang", "doc_id", n_tok.alias("n_tok"))
    t = t.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("lang").orderBy("n_tok", "doc_id")),
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"({num} * n + {den - 1}) div {den}"),
                F.col("n_tok"),
            )
        ).alias(name)
        for name, num, den in _QUANTILES
    ]
    return (
        t.groupBy("lang").agg(*aggs, F.max("n").alias("n_docs")).repartition(1).sortWithinPartitions("lang")
    )


# =============================================================================
# Training-data pipeline, round-4 third wave: TF-IDF keywords, unigram-LM
# rarity, funnel conversion, top-bigram share
# =============================================================================

_TFIDF_K = 3  # keywords kept per document


@_q(
    "docs_tfidf_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE token <> '' GROUP BY doc_id, token),
    dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    ranked AS (SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
                      ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                         ORDER BY tf.tf DESC, dfc.df ASC,
                                                  tf.token ASC) AS rk
               FROM tf JOIN dfc USING (token))
    SELECT doc_id, token, tf, df, rk
    FROM ranked WHERE rk <= {_TFIDF_K} ORDER BY doc_id, rk
    """,
)
def docs_tfidf_topk(spark, sf):
    """TF-IDF-style keyword extraction: the top-3 terms per document ranked
    by (term frequency DESC, document frequency ASC, term ASC).

    The ordering key IS tf-idf's ordering for a per-doc ranking — idf is a
    monotone decreasing function of df, so (tf desc, df asc) ranks exactly
    like (tf·idf desc) within each tf stratum — but stays in INTEGER space:
    no engine-dependent float log in the compared output (the gate's
    exact-output rule; see _QUANTILES).

    Scale shape: token explode feeds a partially-aggregated groupBy on
    (doc_id, token) — the one corpus-sized shuffle; the df census is a
    second partial agg over the already-deduped (doc, term) pairs, bounded
    by vocabulary size, and joins back vocabulary-keyed (AQE broadcasts it
    when small, shuffled-hash otherwise).  The per-doc top-k window
    re-partitions by doc_id — rows at that point are (doc, term, tf, df),
    a small fraction of corpus bytes."""
    d = load(spark, sf, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfc, "token")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "token", "tf", "df", "rk")
        .repartition(1).sortWithinPartitions("doc_id", "rk")
    )


@_q(
    "docs_unigram_lm_rarity",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
              FROM t GROUP BY token)
    SELECT t.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(v.c) AS BIGINT) AS sum_tok_freq,
           CAST(MIN(v.c) AS BIGINT) AS min_tok_freq
    FROM t JOIN vocab v USING (token)
    GROUP BY t.doc_id ORDER BY doc_id
    """,
)
def docs_unigram_lm_rarity(spark, sf):
    """Unigram-LM document scoring, exact-arithmetic form (the CCNet /
    Gopher quality-filter core: score each document under a language model
    fit on the corpus itself).  Emits the integer sufficient statistics —
    token count, the SUM of each token occurrence's global corpus
    frequency, and the rarest token's frequency; the float per-token
    perplexity −Σ log(c/total)/n is a constant-total map over these and is
    deliberately NOT in the compared output (exact-output rule).

    Scale shape: the LM "training" is one partially-aggregated groupBy on
    token (vocabulary-bounded output); scoring joins the vocab back onto
    the exploded corpus on the token key — Zipf makes this join skewed (the
    head token appears in ~every partition), which is exactly what AQE
    skew-join splitting handles, and the vocab side broadcasts whenever it
    fits.  One corpus-sized shuffle (the per-doc re-aggregation)."""
    d = load(spark, sf, "documents")
    t = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    vocab = t.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    return (
        t.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("c").alias("sum_tok_freq"),
            F.min("c").alias("min_tok_freq"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


_FUNNEL_GAP_H = 24  # max hours between consecutive funnel steps


@_q(
    "events_funnel_conversion",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (SELECT user_id, MIN(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
            AND e.ts <= v.t_view + INTERVAL {_FUNNEL_GAP_H} HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_click + INTERVAL {_FUNNEL_GAP_H} HOUR
          GROUP BY e.user_id)
    SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_depth
    FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
         LEFT JOIN p USING (user_id)
    ORDER BY user_id
    """,
)
def events_funnel_conversion(spark, sf):
    """Ordered-funnel conversion (view → click → purchase): per user, the
    first view, the first click STRICTLY after that view within the 24-hour
    conversion window, and likewise the first purchase after that click,
    plus the funnel depth reached.  The sequential-pattern shape behind
    every conversion/retention report; the step window is what makes the
    depth discriminate (every user eventually does everything).

    Scale shape: the oracle's three dependent MIN-after-timestamp passes
    would cost three shuffles on user_id; the Spark plan does ONE — events
    group to their user (`collect_list` of slim (ts, type) structs,
    `sort_array`), then a higher-order `aggregate` fold walks each user's
    timeline once, advancing the 3-slot state machine entirely JVM-side
    (no Python, no window, no re-shuffle).  Per-user event counts are
    session-sized, so the collected arrays stay small; a pathological user
    would salt-and-merge like the politeness buckets."""
    ev = load(spark, sf, "events")
    folded = (
        ev.select("user_id", F.struct("ts", "event_type").alias("e"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("evs"))
        .select(
            "user_id",
            F.expr(
                """
                aggregate(
                  evs,
                  struct(CAST(NULL AS TIMESTAMP) AS t1,
                         CAST(NULL AS TIMESTAMP) AS t2,
                         CAST(NULL AS TIMESTAMP) AS t3),
                  (s, e) -> struct(
                    CASE WHEN s.t1 IS NULL AND e.event_type = 'view'
                         THEN e.ts ELSE s.t1 END AS t1,
                    CASE WHEN s.t2 IS NULL AND s.t1 IS NOT NULL
                              AND e.event_type = 'click' AND e.ts > s.t1
                              AND e.ts <= s.t1 + INTERVAL {gap} HOUR
                         THEN e.ts ELSE s.t2 END AS t2,
                    CASE WHEN s.t3 IS NULL AND s.t2 IS NOT NULL
                              AND e.event_type = 'purchase' AND e.ts > s.t2
                              AND e.ts <= s.t2 + INTERVAL {gap} HOUR
                         THEN e.ts ELSE s.t3 END AS t3)
                )
                """.format(gap=_FUNNEL_GAP_H)
            ).alias("s"),
        )
    )
    return folded.select(
        "user_id",
        F.col("s.t1").alias("t_view"),
        F.col("s.t2").alias("t_click"),
        F.col("s.t3").alias("t_purchase"),
        F.when(F.col("s.t3").isNotNull(), 3)
        .when(F.col("s.t2").isNotNull(), 2)
        .when(F.col("s.t1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_depth"),
    ).repartition(1).sortWithinPartitions("user_id")


@_q(
    "docs_top_bigram_share",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
      FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ts)),
                                        i -> ts[i] || ' ' || ts[i + 1]))
                    AS bigram,
                  len(ts) - 1 AS n_bigrams
           FROM t WHERE len(ts) >= 2),
    cnt AS (SELECT doc_id, n_bigrams, bigram, CAST(COUNT(*) AS BIGINT) AS n
            FROM bg GROUP BY doc_id, n_bigrams, bigram),
    best AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, bigram, n,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY n DESC, bigram ASC) AS rk
             FROM cnt)
    SELECT doc_id, n_bigrams, bigram AS top_bigram, n AS top_bigram_n
    FROM best WHERE rk = 1 ORDER BY doc_id
    """,
)
def docs_top_bigram_share(spark, sf):
    """Most-repeated token bigram per document (the Gopher "fraction of
    characters in the most common n-gram" repetition filter's raw signal;
    the share itself is top_bigram_n / n_bigrams downstream — kept as the
    two exact integers).  Ties break to the lexicographically smallest
    bigram so both engines pick the same witness.

    Scale shape (r6): one Arrow-vectorized map inside the scan stage — the
    retired nested-array expression compared distinct-bigrams × bigrams in
    interpreted HOF lambdas (O(L²) per doc, outside codegen); numpy's
    sorted-unique count is O(L log L) per doc and the arg-max tie-break
    (max count, then lexicographically smallest bigram) falls out of
    ``np.unique``'s ascending order.  Tokenization mirrors Java's
    ``split(..., -1)`` exactly: ASCII-space trim, ASCII \\s, leading AND
    trailing empty tokens kept (the SimHash parity discipline);
    all-ASCII text makes Python and JVM string orders agree."""
    import pyarrow as pa

    d = load_fanout(spark, sf, "documents").select("doc_id", "text")

    def gen(batches):
        import re

        import numpy as np

        ws = re.compile(r"\s+", re.ASCII)
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_n, out_bg, out_bn = [], [], [], []
            for did, txt in zip(ids, texts):
                if txt is None:
                    continue
                # re.split == Spark's split(, -1): leading AND trailing
                # empty tokens kept; trim strips ASCII spaces only
                toks = ws.split(txt.strip(" "))
                if len(toks) < 2:
                    continue
                bgs = np.array(
                    [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
                )
                uniq, cnt = np.unique(bgs, return_counts=True)
                k = int(np.argmax(cnt))  # first max = smallest bigram on ties
                out_id.append(did)
                out_n.append(len(toks) - 1)
                out_bg.append(str(uniq[k]))
                out_bn.append(int(cnt[k]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_n, pa.int64()),
                    pa.array(out_bg, pa.string()),
                    pa.array(out_bn, pa.int64()),
                ],
                ["doc_id", "n_bigrams", "top_bigram", "top_bigram_n"],
            )

    return d.mapInArrow(
        gen,
        "doc_id long, n_bigrams long, top_bigram string, top_bigram_n long",
    ).repartition(1).sortWithinPartitions("doc_id")


# =============================================================================
# Training-data pipeline, round-4 fourth wave: deterministic split assignment,
# sequence packing (distributed prefix sum), retention cohorts
# =============================================================================

_SPLIT_SALT = "split-v1"  # version the split: resalting reshuffles assignment


@_q(
    "docs_split_assign",
    f"""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CAST(instr('0123456789abcdef',
                          substring(md5('{_SPLIT_SALT}:' || doc_id), i + 1, 1))
                    - 1 AS BIGINT) << (4 * (7 - i)))) AS BIGINT) % 100
               AS bucket
      FROM documents)
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def docs_split_assign(spark, sf):
    """Deterministic train/val/test split (80/10/10) by salted content hash
    — the reproducible, RNG-free assignment a training pipeline needs so
    that re-runs, backfills, and incremental ingests land every document in
    the SAME split (a `rand()` split reshuffles on every execution plan
    change; a hash split never does).  The salt versions the assignment.

    Scale shape: pure map-side arithmetic inside the scan projection — one
    md5 per document, no shuffle (the gate's orderBy aside), trivially
    100-TB-safe.  Both engines fold the first 8 hex digits to the same
    integer (the md5-derived-arithmetic idiom the MinHash/SimHash ops
    established)."""
    d = load(spark, sf, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{_SPLIT_SALT}:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


_PACK_SEQ_TOKS = 512   # training sequence length (tokens)
_PACK_SHARD = 100      # docs per prefix-sum shard


@_q(
    "docs_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (SELECT doc_id, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING), 0) AS BIGINT)
                   AS off
          FROM t)
    SELECT doc_id, n_tok, off AS tok_offset,
           CAST(off // {_PACK_SEQ_TOKS} AS BIGINT) AS seq_id,
           CAST(off % {_PACK_SEQ_TOKS} AS BIGINT) AS seq_pos
    FROM c ORDER BY doc_id
    """,
)
def docs_pack_sequences(spark, sf):
    """Sequence packing for pretraining (GPT-style concat-then-chop): lay
    every document out on one global token tape in doc_id order and assign
    each its starting offset, 512-token training-sequence id, and position
    within that sequence.  The op is a GLOBAL prefix sum — the textbook
    "needs the whole corpus in order" shape that naively plans as a
    single-partition window (one task owns 100 TB).

    Scale shape — two-pass distributed prefix sum instead:

    1. docs group into contiguous shards (``doc_id div 100``); each shard's
       token total comes from one partial-aggregated groupBy (output rows =
       #shards, corpus-size-independent per shard);
    2. shard totals — the TINY table — take the single-partition cumulative
       window (thousands of rows at 10^10 docs after a second sharding
       level, never corpus-sized), producing each shard's starting offset;
    3. the per-doc offset is the shard offset plus an intra-shard running
       sum, windowed PARTITION BY shard — bounded partitions, full
       parallelism, one shuffle on the shard key.

    The DuckDB oracle runs the naive global window; equality proves the
    decomposition exact."""
    d = load(spark, sf, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        (F.col("doc_id") - (F.col("doc_id") % _PACK_SHARD)).alias("shard"),
    )
    shard_tot = t.groupBy("shard").agg(F.sum("n_tok").alias("tot"))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    shard_off = shard_tot.select(
        "shard", F.coalesce(F.sum("tot").over(w_sh), F.lit(0)).alias("shard_off")
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        F.coalesce(F.sum("n_tok").over(w_in), F.lit(0)) + F.col("shard_off")
    )
    return (
        t.join(F.broadcast(shard_off), "shard")
        .select("doc_id", "n_tok", off.alias("tok_offset"))
        .select(
            "doc_id",
            "n_tok",
            "tok_offset",
            F.expr(f"tok_offset div {_PACK_SEQ_TOKS}").alias("seq_id"),
            (F.col("tok_offset") % _PACK_SEQ_TOKS).alias("seq_pos"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


_DAY_US = 86_400 * 1_000_000


@_q(
    "events_retention_cohorts",
    f"""
    WITH w AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS wk FROM events),
    c AS (SELECT user_id, MIN(wk) AS cohort_day FROM w GROUP BY user_id),
    act AS (SELECT DISTINCT w.user_id, c.cohort_day, w.wk - c.cohort_day AS day_offset
            FROM w JOIN c USING (user_id))
    SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark, sf):
    """Daily retention cohorts: users grouped by the epoch-day of their
    first event; for each (cohort, days-since-cohort) cell, how many of
    the cohort's users were active.  The classic triangular retention
    matrix.

    Day index = epoch-microseconds div one day — pure integer arithmetic,
    identical in both engines (calendar week/day functions differ across
    engines in week-start, timezone and year-boundary rules; an epoch
    bucket cannot).

    Scale shape: one groupBy for the cohort census, the cohort map joins
    back user-keyed (AQE broadcasts when small), one distinct + groupBy for
    the matrix — the distinct's partial aggregation collapses each user's
    duplicate (week, offset) rows map-side before the shuffle."""
    ev = load(spark, sf, "events")
    w = ev.select(
        "user_id",
        F.expr(
            f"unix_micros(cast(ts as timestamp)) div {_DAY_US}"
        ).alias("wk"),
    )
    c = w.groupBy("user_id").agg(F.min("wk").alias("cohort_day"))
    return (
        w.join(c, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.col("wk") - F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .repartition(1).sortWithinPartitions("cohort_day", "day_offset")
    )


_TUMBLE_US = 6 * 3_600 * 1_000_000  # 6-hour tumbling window


@_q(
    "events_windowed_rates",
    f"""
    WITH w AS (
      SELECT (epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US} AS win_start_us,
             event_type, user_id
      FROM events)
    SELECT win_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM w GROUP BY win_start_us, event_type
    ORDER BY win_start_us, event_type
    """,
)
def events_windowed_rates(spark, sf):
    """Tumbling-window event rates: per 6-hour window and event type, the
    event count and distinct active users — the batch twin of the
    Structured Streaming windowed aggregation (`streaming/stream.py` runs
    the same shape with watermarks; here it is oracle-checkable).

    The window key is Spark's ``F.window`` (epoch-aligned tumbling
    windows), surfaced as the window-start epoch-microseconds so the
    compared output is pure integers; the DuckDB oracle reproduces the
    same alignment with integer bucket arithmetic.

    Scale shape: one partial-aggregated groupBy — counts combine map-side;
    the distinct-user count shuffles (win, type, user) tuples once (Spark
    plans count_distinct as a two-phase expand) — both standard and
    skew-safe because the window key fans out with time."""
    ev = load(spark, sf, "events")
    win = F.window(F.col("ts").cast("timestamp"), "6 hours")
    return (
        ev.select(win.alias("w"), "event_type", "user_id")
        .groupBy(F.unix_micros("w.start").alias("win_start_us"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .repartition(1).sortWithinPartitions("win_start_us", "event_type")
    )


_SLIDE_US = 3 * 3_600 * 1_000_000  # slide step; window = 2 slides (6 h)


@_q(
    "events_sliding_window_rates",
    f"""
    WITH b AS (
      SELECT (epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US} AS s0,
             event_type, user_id
      FROM events),
    w AS (
      SELECT s0 AS win_start_us, event_type, user_id FROM b
      UNION ALL
      SELECT s0 - {_SLIDE_US}, event_type, user_id FROM b)
    SELECT win_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM w GROUP BY win_start_us, event_type
    ORDER BY win_start_us, event_type
    """,
)
def events_sliding_window_rates(spark, sf):
    """Sliding-window event rates (6-hour windows every 3 hours): each event
    belongs to exactly window/slide = 2 overlapping windows — the smoothing
    twin of `events_windowed_rates`' tumbling buckets and the batch shape of
    Structured Streaming's slideDuration windows.

    Spark's ``F.window(ts, "6 hours", "3 hours")`` EXPANDS each row into its
    two member windows before the groupBy (a generator, not a shuffle); the
    DuckDB oracle reproduces the expansion as a two-branch UNION ALL of
    shifted epoch buckets, proving the window assignment exact.

    Scale shape: the expansion multiplies shuffle input by window/slide —
    the reason production slides are small multiples; counts still partial-
    aggregate map-side, and the window key fans out with time so no key is
    hot."""
    ev = load(spark, sf, "events")
    win = F.window(F.col("ts").cast("timestamp"), "6 hours", "3 hours")
    return (
        ev.select(win.alias("w"), "event_type", "user_id")
        .groupBy(F.unix_micros("w.start").alias("win_start_us"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .repartition(1).sortWithinPartitions("win_start_us", "event_type")
    )


# Raw-URL synthesis (shared shape, both engines build the identical string):
# six deterministic mess patterns over (doc_id, source) covering upper-case
# scheme/host, www. prefixes, default and explicit ports, trailing slashes,
# fragments, utm_ params, empty params, and unsorted query keys.
_URL_RAW_SQL = """
    CASE CAST(doc_id % 6 AS INTEGER)
      WHEN 0 THEN 'HTTP://WWW.Site-' || source || '.COM:80/Crawl/' || doc_id
                  || '/?b=2&utm_source=feed&a=1#frag'
      WHEN 1 THEN 'https://site-' || source || '.com:443/p/' || doc_id
      WHEN 2 THEN 'http://site-' || source || '.com/p/' || doc_id || '/'
      WHEN 3 THEN 'HTTPS://Site-' || source || '.COM/p/' || doc_id
                  || '?z=26&y=25&utm_campaign=x&'
      WHEN 4 THEN 'http://www.site-' || source || '.com:8080/p/' || doc_id
                  || '?q=' || doc_id
      ELSE 'https://site-' || source || '.com/#section'
    END
"""


# DuckDB CTE chain reproducing the canonicalization rule-for-rule; shared
# by the canonicalize oracle and the SURT-key oracle (operators/frontier.py),
# which builds its sort key on top of `canon_url`.
_URL_CANON_CTES = f"""
    raw AS (
      SELECT doc_id, {_URL_RAW_SQL} AS url_raw FROM documents),
    sp AS (
      SELECT doc_id, url_raw,
             lower(regexp_extract(url_raw, '^([A-Za-z]+)://', 1)) AS scheme,
             substr(url_raw, strpos(url_raw, '://') + 3) AS rest
      FROM raw),
    hp AS (
      SELECT *, regexp_extract(rest, '^[^/?#]*', 0) AS hostport FROM sp),
    parts AS (
      -- DuckDB regexp_extract yields NULL on no match where Spark yields
      -- ''; COALESCE pins the oracle to Spark's semantics.
      SELECT doc_id, url_raw, scheme,
             regexp_replace(lower(hostport), ':[0-9]+$', '') AS host0,
             COALESCE(regexp_extract(lower(hostport), ':([0-9]+)$', 1), '')
               AS port,
             COALESCE(regexp_extract(substr(rest, length(hostport) + 1),
                                     '^[^?#]*', 0), '') AS path0,
             COALESCE(regexp_extract(substr(rest, length(hostport) + 1),
                                     '[?]([^#]*)', 1), '') AS query0
      FROM hp),
    canon AS (
      SELECT doc_id, url_raw, scheme,
             CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5)
                  ELSE host0 END AS host,
             CASE WHEN port = '' THEN ''
                  WHEN scheme = 'http' AND port = '80' THEN ''
                  WHEN scheme = 'https' AND port = '443' THEN ''
                  ELSE ':' || port END AS portpart,
             CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(path0, '/+$', '') END AS path,
             -- array_to_string over an EMPTY list is NULL in DuckDB, '' in
             -- Spark's array_join — coalesce again.
             COALESCE(array_to_string(
               list_sort(list_filter(string_split(query0, '&'),
                                     x -> x <> '' AND substr(x, 1, 4) <> 'utm_')),
               '&'), '') AS qcanon
      FROM parts),
    canon_url AS (
      SELECT doc_id, url_raw,
             scheme || '://' || host || portpart || path
               || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END
               AS url_canon
      FROM canon)
"""


def _url_canonicalize_hof(d):
    """The retired JVM withColumn/regex formulation of the canonicalizer —
    kept as the value reference for the Arrow fast path (r6): once
    CollapseProject inlines the dependent withColumns, every downstream
    use re-embeds its upstream regexes, and the resulting expression tree
    made this the catalog's single heaviest Janino/JIT compile (≈3 s of
    first-execution wall for ~5 ms of actual regex work)."""
    return (
        d.select("doc_id", F.expr(_URL_RAW_SQL).alias("url_raw"))
        .withColumn(
            "scheme", F.expr("lower(regexp_extract(url_raw, '^([A-Za-z]+)://', 1))")
        )
        .withColumn("rest", F.expr("substr(url_raw, instr(url_raw, '://') + 3)"))
        .withColumn("hostport", F.expr("regexp_extract(rest, '^[^/?#]*', 0)"))
        .withColumn("pathqf", F.expr("substr(rest, length(hostport) + 1)"))
        .withColumn(
            "host0", F.expr("regexp_replace(lower(hostport), ':[0-9]+$', '')")
        )
        .withColumn(
            "port", F.expr("regexp_extract(lower(hostport), ':([0-9]+)$', 1)")
        )
        .withColumn("path0", F.expr("regexp_extract(pathqf, '^[^?#]*', 0)"))
        .withColumn("query0", F.expr("regexp_extract(pathqf, '[?]([^#]*)', 1)"))
        .withColumn(
            "host",
            F.expr(
                "CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5) ELSE host0 END"
            ),
        )
        .withColumn(
            "portpart",
            F.expr(
                "CASE WHEN port = '' THEN ''"
                " WHEN scheme = 'http' AND port = '80' THEN ''"
                " WHEN scheme = 'https' AND port = '443' THEN ''"
                " ELSE ':' || port END"
            ),
        )
        .withColumn(
            "path",
            F.expr(
                "CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'"
                " ELSE regexp_replace(path0, '/+$', '') END"
            ),
        )
        .withColumn(
            "qcanon",
            F.expr(
                "array_join(array_sort(filter(split(query0, '&'),"
                " x -> x != '' AND substr(x, 1, 4) != 'utm_')), '&')"
            ),
        )
        .select(
            "doc_id",
            "url_raw",
            F.expr(
                "scheme || '://' || host || portpart || path"
                " || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END"
            ).alias("url_canon"),
        )
    )


def _canon_and_surt(url_raw: str) -> tuple[str, str]:
    """Pure-Python canonicalization + SURT key, rule-for-rule identical to
    the JVM chains (``_url_canonicalize_hof`` / frontier_surt_key's
    formulation): Java and Python regexes agree on these ASCII-only
    character-class patterns, Spark's ``split`` keeps empty tokens like
    ``str.split``, and string sort orders agree on ASCII."""
    m = _RE_SCHEME.search(url_raw)
    scheme = m.group(1).lower() if m else ""
    i = url_raw.find("://")
    rest = url_raw[i + 3 :] if i >= 0 else url_raw[2:]  # instr()=0 -> substr(,3)
    hostport = _RE_HOSTPORT.match(rest).group(0)
    lhp = hostport.lower()
    host0 = _RE_PORT_TAIL.sub("", lhp)
    pm = _RE_PORT_TAIL.search(lhp)
    port = pm.group(1) if pm else ""
    pathqf = rest[len(hostport) :]
    path0 = _RE_PATH0.match(pathqf).group(0)
    qm = _RE_QUERY0.search(pathqf)
    query0 = qm.group(1) if qm else ""
    host = host0[4:] if host0.startswith("www.") else host0
    if port == "" or (scheme, port) in (("http", "80"), ("https", "443")):
        portpart = ""
    else:
        portpart = ":" + port
    stripped = _RE_TRAILSLASH.sub("", path0)
    path = "/" if stripped == "" else stripped
    q_items = sorted(
        x for x in query0.split("&") if x != "" and x[:4] != "utm_"
    )
    qcanon = "&".join(q_items)
    url_canon = (
        scheme + "://" + host + portpart + path
        + (("?" + qcanon) if qcanon else "")
    )
    # SURT from the canonical form (frontier_surt_key's rules)
    rest2 = url_canon[url_canon.find("://") + 3 :]
    hostport2 = _RE_HOST_NOSLASH.match(rest2).group(0)
    host2 = _RE_PORT_TAIL.sub("", hostport2)
    pm2 = _RE_PORT_TAIL.search(hostport2)
    port2 = pm2.group(1) if pm2 else ""
    surt = (
        ",".join(reversed(host2.split(".")))
        + ((":" + port2) if port2 != "" else "")
        + ")"
        + rest2[len(hostport2) :]
    )
    return url_canon, surt


_RE_SCHEME = _re.compile(r"^([A-Za-z]+)://")
_RE_HOSTPORT = _re.compile(r"^[^/?#]*")
_RE_HOST_NOSLASH = _re.compile(r"^[^/]*")
_RE_PORT_TAIL = _re.compile(r":([0-9]+)$")
_RE_PATH0 = _re.compile(r"^[^?#]*")
_RE_QUERY0 = _re.compile(r"[?]([^#]*)")
_RE_TRAILSLASH = _re.compile(r"/+$")


def frontier_url_canon_base(spark, sf) -> DataFrame:
    """(doc_id, url_raw, url_canon, surt_key), UNORDERED — the shared
    composition base for the canonicalize / SURT / robots / blocklist
    operators.  One Arrow-vectorized map replaces the collapsed-Project
    regex chain whose inlined expression tree dominated first-execution
    compile time (guide §4.2; parity pinned against the retained JVM
    formulation by tests/test_frontier_ops.py)."""

    @F.pandas_udf("struct<url_canon: string, surt_key: string>")
    def _canon(url_raw: pd.Series) -> pd.DataFrame:
        pairs = [_canon_and_surt(u) for u in url_raw]
        return pd.DataFrame(
            {
                "url_canon": [p[0] for p in pairs],
                "surt_key": [p[1] for p in pairs],
            }
        )

    d = load_fanout(spark, sf, "documents")
    return (
        d.select("doc_id", F.expr(_URL_RAW_SQL).alias("url_raw"))
        .withColumn("c", _canon("url_raw"))
        .select("doc_id", "url_raw", "c.url_canon", "c.surt_key")
    )


@_q(
    "frontier_url_canonicalize",
    f"""
    WITH {_URL_CANON_CTES}
    SELECT doc_id, url_raw, url_canon FROM canon_url ORDER BY doc_id
    """,
)
def frontier_url_canonicalize(spark, sf):
    """Canonical-URL normalization — the frontier's dedup key (north_star:
    "frontier ... keyed by canonical-URL hash"; ≙ the reference keying its
    seen-set on the exact job URL, deduper/hashmap.go, so equivalent URLs
    spelled differently crawl twice — canonicalization is the fix a
    10^10-URL frontier needs).

    Rules (RFC 3986 normalization + crawl conventions): lowercase scheme and
    host, strip ``www.``, drop the default port (80/http, 443/https) but
    keep explicit ones, drop fragments, strip trailing path slashes (root
    stays ``/``), drop ``utm_*`` tracking params and empty params, sort the
    surviving query params.  Path case is PRESERVED (paths are case-
    sensitive; hosts are not).

    r6: one Arrow-vectorized map (``frontier_url_canon_base``) — the JVM
    withColumn chain is retained as ``_url_canonicalize_hof`` and pinned
    value-equal by test; the DuckDB oracle re-derives the same
    normalization from the same six synthesized mess patterns, proving
    rule-for-rule parity."""
    return ordered(
        frontier_url_canon_base(spark, sf).select(
            "doc_id", "url_raw", "url_canon"
        ),
        "doc_id",
    )


_HLL_P = 8           # 2^8 = 256 registers
_HLL_BUCKETS = 1 << _HLL_P
_HLL_W = 52          # suffix bits scored for leading zeros (60-bit hash - 8)

# DuckDB-side fold of the first 15 md5 hex chars (60 bits, always positive)
# into a BIGINT — same instr() trick as the Bloom oracle in sampling.py.
_HLL_FOLD = (
    "CAST(list_sum(list_transform(range(0, 15), i -> "
    "CAST(instr('0123456789abcdef', "
    "substring(md5('hll-v1:' || user_id), i + 1, 1)) - 1 "
    "AS BIGINT) << (4 * (14 - i)))) AS BIGINT)"
)


@_q(
    "events_hll_registers",
    f"""
    WITH h AS (SELECT {_HLL_FOLD} AS h FROM events),
    parts AS (
      SELECT h % {_HLL_BUCKETS} AS bucket, h // {_HLL_BUCKETS} AS rest FROM h),
    ranked AS (
      SELECT bucket,
             CASE WHEN rest = 0 THEN {_HLL_W + 1}
                  ELSE {_HLL_W} - length(bin(rest)) + 1 END AS rank
      FROM parts)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MAX(rank) AS BIGINT) AS register,
           CAST(COUNT(*) AS BIGINT) AS n_hashes
    FROM ranked GROUP BY bucket ORDER BY bucket
    """,
)
def events_hll_registers(spark, sf):
    """HyperLogLog register build over the event-stream user ids — the
    approximate-distinct sketch a crawl/analytics engine keeps per host /
    per day when exact ``COUNT(DISTINCT)`` would shuffle billions of keys
    (the seen-set's cardinality monitor; ≙ the exact Bloom in
    ``seen_bloom_build``, traded for O(2^p) state).  Registers are exposed
    as rows so the oracle pins the exact sketch content, not an estimate:
    bucket = low p=8 bits of a 60-bit md5-derived hash, register = max
    over keys of (leading zeros of the remaining 52 bits + 1).  Both
    engines compute the identical integers — the rank comes from
    ``length(bin(rest))`` (minimal binary form in Spark AND DuckDB, '0'
    for zero handled by the CASE), no floats anywhere; the harmonic-mean
    estimate is a driver-side O(2^p) fold over this result when wanted.

    Scale shape: MAX is idempotent/associative/commutative, so the
    groupBy(bucket) partial-aggregates map-side and AT MOST 2^p = 256 rows
    per input partition ever cross the wire regardless of event count —
    the same bounded-shuffle contract as the Bloom word build, and why
    HLL union across hosts/days is a free second groupBy at 10^10 keys."""
    e = load(spark, sf, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll-v1:"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        e.select(
            (h % _HLL_BUCKETS).cast("long").alias("bucket"),
            h.alias("h"),
        )
        .select("bucket", F.expr(f"h div {_HLL_BUCKETS}").alias("rest"))
        .select(
            "bucket",
            F.when(F.col("rest") == 0, F.lit(_HLL_W + 1))
            .otherwise(F.lit(_HLL_W) - F.length(F.bin("rest")) + 1)
            .alias("rank"),
        )
        .groupBy("bucket")
        .agg(
            F.max("rank").cast("long").alias("register"),
            F.count(F.lit(1)).alias("n_hashes"),
        )
        .repartition(1).sortWithinPartitions("bucket")
    )


_DECAY_MAX_SHIFT = 62  # bit-shift cap (BIGINT-safe)


@_q(
    "events_decay_recency_score",
    f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS ref FROM events),
    d AS (
      SELECT user_id,
             CAST(round(value * 1000) AS BIGINT)
               >> CAST(LEAST((ref - epoch_us(ts)) // {_TUMBLE_US},
                             {_DECAY_MAX_SHIFT}) AS INT) AS decayed
      FROM events, mx)
    SELECT user_id,
           CAST(SUM(decayed) AS BIGINT) AS recency_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def events_decay_recency_score(spark, sf):
    """Exponential-decay recency scoring — the recrawl-priority signal a
    crawl scheduler keeps per host (and an engagement score per user):
    each event contributes ``value`` halved once per 6-hour age bucket
    (decay factor 2^-age, computed as an integer BIT SHIFT of the
    milli-scaled value — exact, associative, no float-order hazard; the
    shift caps at {_DECAY_MAX_SHIFT} where the contribution is provably
    0).  Half-life decay is the standard freshness model (Cho &
    Garcia-Molina recrawl scheduling); power-of-two buckets make it exact.

    The reference epoch is the corpus max timestamp, read driver-side in
    one metadata-cheap action (parquet max stats) and inlined as a plan
    literal — the same "train scalar on the driver, scan distributed"
    shape as the ANN codebooks.  Scale: scan-stage integer arithmetic
    feeding one map-side-combined SUM groupBy; score updates are
    incremental (new events just add in — old rows never rescan, because
    the shift is against a FIXED epoch and rebasing to a newer epoch is
    itself one global shift)."""
    e = load(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ref = int(e.agg(F.max(us)).head()[0])
    decayed = F.expr(
        f"shiftright(CAST(round(value * 1000) AS BIGINT), "
        f"CAST(least(({ref} - unix_micros(cast(ts as timestamp))) div "
        f"{_TUMBLE_US}, {_DECAY_MAX_SHIFT}) AS INT))"
    )
    return (
        e.select("user_id", decayed.alias("decayed"))
        .groupBy("user_id")
        .agg(
            F.sum("decayed").alias("recency_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .repartition(1).sortWithinPartitions("user_id")
    )


_SHARD_SALT = "shard-v1"  # versions the shard layout, like _SPLIT_SALT
_SHARD_COUNT = 16


@_q(
    "docs_shard_manifest",
    f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CAST(instr('0123456789abcdef',
                          substring(md5('{_SHARD_SALT}:' || doc_id), i + 1, 1))
                    - 1 AS BIGINT) << (4 * (7 - i)))) AS BIGINT)
               % {_SHARD_COUNT} AS shard,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_split_to_array(trim(text), '\\s+'))
             END AS n_tok
      FROM documents)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def docs_shard_manifest(spark, sf):
    """Training-shard manifest — the OUTPUT side of the pipeline: documents
    are assigned to shards by salted content hash (same md5-fold idiom as
    ``docs_split_assign``, different salt so shard layout and train/val
    split version independently) and each shard reports the totals a
    training loader reads before touching data: document count, byte/char
    budget, token budget (the ``docs_token_count`` formula), and the
    doc-id range.  Deterministic hashing means a re-run or an incremental
    backfill lands every document in the SAME shard — manifests stay
    append-consistent.

    Scale shape: the hash is map-side arithmetic in the scan projection;
    the only shuffle is the groupBy on {_SHARD_COUNT} keys with map-side
    partials (each task emits ≤{_SHARD_COUNT} rows regardless of input
    size).  At 100 TB the shard count rises with the corpus, not the
    plan: it is one literal.  The real writer is this aggregation plus a
    ``partitionBy("shard")`` parquet write — the manifest here is the
    part DuckDB can replay."""
    d = load(spark, sf, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{_SHARD_SALT}:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _SHARD_COUNT
    )
    n_tok = (
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
    )
    return (
        d.select(
            shard.alias("shard"),
            F.col("doc_id"),
            F.col("n_chars"),
            n_tok.alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .repartition(1).sortWithinPartitions("shard")
    )


# =============================================================================
# Round-4 closing wave p: MIME sniffing, Gopher-rule quality gate, fetch-rate
# anomaly detection, and video frame-sample planning
# =============================================================================

# Magic-byte table for the MIME sniffer: (prefix bytes, mime).  The synth
# side assigns kind = doc_id % 6; the oracle replays the assignment
# arithmetically, so the sniffer's byte-level decisions are what's verified.
_MIME_MAGIC: list[tuple[bytes, str]] = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x1f\x8b\x08", "application/gzip"),
    (b"%PDF-", "application/pdf"),
]
_MIME_SYNTH: list[tuple[bytes, str]] = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff\xe0\x00\x10JFIF", "image/jpeg"),
    (b"\x1f\x8b\x08\x00", "application/gzip"),
    (b"%PDF-1.7\n%", "application/pdf"),
    (b"<!DOCTYPE html><html><head>", "text/html"),
    (b"Lorem ipsum dolor sit ", "text/plain"),
]


def sniff_mime(b: bytes) -> str:
    """Magic-byte MIME classification (the WARC-processing staple: Common
    Crawl's `content_mime_detected` column is exactly this over response
    bodies).  Deterministic table walk; HTML is detected by a
    case-insensitive tag scan of the first 64 bytes; printable-ASCII bodies
    fall back to text/plain, anything else to application/octet-stream."""
    for prefix, mime in _MIME_MAGIC:
        if b.startswith(prefix):
            return mime
    head = b[:64].lower()
    if head.lstrip().startswith((b"<!doctype html", b"<html")):
        return "text/html"
    if all(32 <= c < 127 or c in (9, 10, 13) for c in b[:256]):
        return "text/plain"
    return "application/octet-stream"


def _mime_sniff_oracle() -> str:
    mime_case = " ".join(
        f"WHEN {k} THEN '{m}'" for k, (_, m) in enumerate(_MIME_SYNTH)
    )
    hex_case = " ".join(
        f"WHEN {k} THEN '{p[:4].hex().upper()}'"
        for k, (p, _) in enumerate(_MIME_SYNTH)
    )
    len_case = " ".join(
        f"WHEN {k} THEN {len(p)}" for k, (p, _) in enumerate(_MIME_SYNTH)
    )
    return f"""
    SELECT doc_id,
           CASE doc_id % 6 {mime_case} END AS mime,
           CASE doc_id % 6 {hex_case} END AS magic_hex,
           CAST((CASE doc_id % 6 {len_case} END)
                + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS byte_len
    FROM documents ORDER BY doc_id
    """


@_q("docs_mime_sniff", _mime_sniff_oracle())
def docs_mime_sniff(spark, sf):
    """Content-type sniffing over an opaque binary column — the first
    operator any WARC/Common-Crawl ingest runs (reference analog: the
    fetch path dispatches on response kind, gmaps/job.go SERP-vs-place
    branch; here the dispatch key is computed from payload bytes).  A
    deterministic payload (magic prefix chosen by doc_id % 6, plus the
    doc id rendered as ASCII) is synthesized per document; an INDEPENDENT
    vectorized sniffer classifies it back by magic-byte walk, HTML tag
    scan, and printable fallback.  The oracle recomputes mime, the leading
    4-byte hex, and the byte length arithmetically — so a sniffer that
    misclassifies any of the six families hash-mismatches.

    Scale shape: synth and sniff are one Arrow batch pass each inside the
    scan stage (no shuffle at all — the ORDER BY is the catalog's
    presentation sort); magic_hex/byte_len are JVM expressions over the
    binary column, proving binary columns flow through codegen untouched."""

    @F.pandas_udf("binary")
    def synth_payload(doc_id: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            return _MIME_SYNTH[i % 6][0] + str(i).encode("ascii")

        return doc_id.map(lambda i: mk(int(i)))

    @F.pandas_udf("string")
    def sniff(payload: pd.Series) -> pd.Series:
        return payload.map(sniff_mime)

    d = load(spark, sf, "documents").select("doc_id")
    return (
        d.withColumn("payload", synth_payload("doc_id"))
        .select(
            "doc_id",
            sniff("payload").alias("mime"),
            F.hex(F.expr("substring(payload, 1, 4)")).alias("magic_hex"),
            F.octet_length("payload").cast("long").alias("byte_len"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# Gopher-style quality-gate thresholds (Rae et al. 2021, §A1.1 "quality
# filtering"), recalibrated to the testdata corpus so both pass and every
# fail_reason occur: the paper's 50-word minimum becomes 40 (testdata docs
# run 10-99 words), mean-word-length [3,10] and the stop-word and
# alpha-fraction rules keep the published shape.
_GOPHER_MIN_WORDS = 40
_GOPHER_STOP_RE = r"\b(the|a|and|of|to|in)\b"


@_q(
    "docs_gopher_quality_gate",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
               AS sum_chars,
             CAST(len(regexp_extract_all(lower(text), '{_GOPHER_STOP_RE}'))
               AS BIGINT) AS stop_hits,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  w -> regexp_matches(w, '^[A-Za-z]+$')))
               AS BIGINT) AS alpha_words
      FROM documents)
    SELECT doc_id, n_words,
           CASE WHEN n_words < {_GOPHER_MIN_WORDS} THEN 'too_few_words'
                WHEN sum_chars < 3 * n_words OR sum_chars > 10 * n_words
                     THEN 'word_length'
                WHEN stop_hits < 2 THEN 'low_stopword'
                WHEN 5 * alpha_words < 4 * n_words THEN 'non_alpha'
                ELSE 'ok' END AS fail_reason,
           (n_words >= {_GOPHER_MIN_WORDS}
            AND sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words
            AND stop_hits >= 2
            AND 5 * alpha_words >= 4 * n_words) AS pass
    FROM s ORDER BY doc_id
    """,
)
def docs_gopher_quality_gate(spark, sf):
    """Rule-based document quality GATE (Gopher §A1.1 / Dolma's reimpl):
    where ``docs_quality_score`` emits raw signals, this applies named
    accept/reject RULES in a fixed order and reports the first failure —
    the operator a training-data pipeline actually filters with, and the
    reason column is what its curation dashboard aggregates.  Rules:
    word count ≥ {_GOPHER_MIN_WORDS}; mean word length in [3,10]; ≥2
    stop-word hits; ≥80% purely-alphabetic words.

    All four signals are integer-exact (mean word length and the 0.8
    fraction are compared as cross-multiplied integers, never divided) so
    the oracle compare is bit-stable.  Scale shape: split/filter/size are
    JVM array expressions per row inside one codegen'd scan stage — no
    explode, no shuffle, no Python; at 100 TB this is a pure map over the
    corpus exactly like the reference's validate() gate
    (gmaps/entry.go IsWebsiteValidForEmail analog on the text axis)."""
    d = load(spark, sf, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    n_words = F.size(toks).cast("long")
    sum_chars = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    stop_hits = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_GOPHER_STOP_RE), F.lit(0))
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("^[A-Za-z]+$"))
    ).cast("long")
    s = d.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_chars.alias("sum_chars"),
        stop_hits.alias("stop_hits"),
        alpha_words.alias("alpha_words"),
    )
    ok_len = (F.col("sum_chars") >= 3 * F.col("n_words")) & (
        F.col("sum_chars") <= 10 * F.col("n_words")
    )
    return (
        s.select(
            "doc_id",
            "n_words",
            F.when(F.col("n_words") < _GOPHER_MIN_WORDS, "too_few_words")
            .when(~ok_len, "word_length")
            .when(F.col("stop_hits") < 2, "low_stopword")
            .when(5 * F.col("alpha_words") < 4 * F.col("n_words"), "non_alpha")
            .otherwise("ok")
            .alias("fail_reason"),
            (
                (F.col("n_words") >= _GOPHER_MIN_WORDS)
                & ok_len
                & (F.col("stop_hits") >= 2)
                & (5 * F.col("alpha_words") >= 4 * F.col("n_words"))
            ).alias("pass"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


@_q(
    "events_rate_anomaly",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    t AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM h GROUP BY event_type)
    SELECT h.event_type AS event_type, h.hr AS hr, h.n AS n,
           t.total AS total, t.n_hours AS n_hours
    FROM h JOIN t USING (event_type)
    WHERE h.n * t.n_hours >= 2 * t.total
    ORDER BY event_type, hr
    """,
)
def events_rate_anomaly(spark, sf):
    """Hourly fetch-rate anomaly detection — the crawl-operations monitor:
    flag (event_type, hour) buckets whose count reaches 2× that type's
    per-hour mean (a host suddenly serving redirect storms, a link-farm
    burst).  The threshold compare is cross-multiplied
    (``n * n_hours >= 2 * total``) so it is integer-exact — no float mean
    crosses an engine boundary.

    Scale shape: the hourly rollup is one map-combined groupBy (output is
    |types|×|hours|, tiny); the per-type totals aggregate THAT result, not
    the raw events, and broadcast back onto it — at 10^10 events the raw
    table is touched exactly once."""
    ev = load(spark, sf, "events")
    h = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = h.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    return (
        h.join(F.broadcast(t), "event_type")
        .filter(F.col("n") * F.col("n_hours") >= 2 * F.col("total"))
        .select("event_type", "hr", "n", "total", "n_hours")
        .repartition(1).sortWithinPartitions("event_type", "hr")
    )


# Video frame-sampling parameters: fps is carried ×100 so NTSC 23.97 stays
# integral; 4 frames sampled evenly across the clip.
_VID_FPS_X100 = [2397, 2400, 2500, 3000, 6000]
_VID_SAMPLES = 4


@_q(
    "multimodal_video_frame_plan",
    f"""
    WITH v AS (
      SELECT doc_id,
             CAST(2000 + (doc_id * 53) % 20000 AS BIGINT) AS duration_ms,
             CAST(([{",".join(str(f) for f in _VID_FPS_X100)}])
                  [CAST(doc_id % 5 AS INT) + 1] AS BIGINT) AS fps_x100
      FROM documents),
    f AS (
      SELECT doc_id, duration_ms, fps_x100,
             duration_ms * fps_x100 // 100000 AS n_frames
      FROM v)
    SELECT doc_id, duration_ms, fps_x100, n_frames,
           CAST(j AS INT) AS sample_ord,
           j * n_frames // {_VID_SAMPLES} AS frame_idx,
           (j * n_frames // {_VID_SAMPLES}) * 100000 // fps_x100
             AS frame_ts_ms
    FROM (SELECT *, unnest(range(0, {_VID_SAMPLES})) AS j FROM f)
    ORDER BY doc_id, sample_ord
    """,
)
def multimodal_video_frame_plan(spark, sf):
    """Video frame-sampling PLAN — the third modality beside
    ``multimodal_image_dims`` (image) and ``multimodal_wav_meta`` (audio):
    given per-clip metadata (duration, fps — synthesized deterministically
    from doc_id; a real pipeline reads it from a container-header decode
    exactly like the WAV chunk walk), emit the {_VID_SAMPLES} evenly-spaced
    frame indices and their presentation timestamps that a frame-extract
    UDF would decode.  The actual pixel decode needs codec libs this
    container doesn't ship, so it stays a stub BY DESIGN; the Spark-side
    plumbing a 100-TB video pipeline needs — typed metadata, integral
    fps×100 arithmetic (NTSC 23.97 without floats), sequence+explode
    fan-out, per-(clip, sample) rows — is all real and oracle-verified.

    Scale shape: explode(sequence(0, {_VID_SAMPLES - 1})) is a Generate
    inside the scan stage (rows ×{_VID_SAMPLES}, no shuffle); every
    timestamp is integer ``div`` arithmetic, bit-identical across engines."""
    d = load(spark, sf, "documents").select("doc_id")
    fps_arr = F.array(*[F.lit(f) for f in _VID_FPS_X100])
    v = d.select(
        "doc_id",
        (2000 + (F.col("doc_id") * 53) % 20000).cast("long").alias("duration_ms"),
        F.element_at(fps_arr, (F.col("doc_id") % 5 + 1).cast("int"))
        .cast("long")
        .alias("fps_x100"),
    ).withColumn(
        "n_frames", F.expr("duration_ms * fps_x100 div 100000").cast("long")
    )
    return (
        v.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(_VID_SAMPLES - 1))).alias("j"),
        )
        .select(
            "doc_id",
            "duration_ms",
            "fps_x100",
            "n_frames",
            F.col("j").cast("int").alias("sample_ord"),
            F.expr(f"j * n_frames div {_VID_SAMPLES}").cast("long").alias("frame_idx"),
            F.expr(
                f"(j * n_frames div {_VID_SAMPLES}) * 100000 div fps_x100"
            )
            .cast("long")
            .alias("frame_ts_ms"),
        )
        .repartition(1).sortWithinPartitions("doc_id", "sample_ord")
    )


# Late-data parameters: arrival order is event time plus deterministic
# +/-1h jitter (Knuth multiplicative hash of event_id), allowed lateness
# 30 min — at sf0.01 ~27% of events arrive late, a non-degenerate mix.
_LATE_JITTER_US = 7_200_000_000
_LATE_ALLOWED_US = 1_800_000_000


@_q(
    "events_late_data_flag",
    f"""
    WITH a AS (
      SELECT event_id, event_type, ts,
             epoch_us(ts) + (event_id * 2654435761) % {_LATE_JITTER_US}
               - {_LATE_JITTER_US // 2} AS seq
      FROM events),
    b AS (
      SELECT *,
             max(ts) OVER (PARTITION BY event_type ORDER BY seq, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wm
      FROM a)
    SELECT event_id, event_type,
           (wm IS NOT NULL AND epoch_us(ts) < epoch_us(wm) - {_LATE_ALLOWED_US})
             AS late,
           CAST(CASE WHEN wm IS NOT NULL
                      AND epoch_us(ts) < epoch_us(wm) - {_LATE_ALLOWED_US}
                     THEN epoch_us(wm) - epoch_us(ts) ELSE 0 END AS BIGINT)
             AS lateness_us
    FROM b ORDER BY event_id
    """,
)
def events_late_data_flag(spark, sf):
    """Watermark late-data accounting — Structured Streaming's
    ``withWatermark`` semantics replayed as a batch kernel so the decision
    is oracle-checkable: events arrive in event-time order perturbed by a
    deterministic ±1 h jitter (arrival ``seq`` = epoch µs + a Knuth-hash
    offset of event_id — the out-of-orderness real pipelines see), the
    per-key watermark is the running max event time over ARRIVAL order,
    and an event is late when it arrives more than 30 min behind it.
    ``streaming/stream.py`` applies the same policy with a real watermark;
    this operator is the exact-arithmetic ground truth for it.

    Scale shape: one window over (event_type) in arrival order — a single
    hash shuffle + per-partition sort, the same cost as the sessionizer;
    the lateness column is integer µs so the compare is bit-stable."""
    ev = load(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = ev.select(
        "event_id",
        "event_type",
        "ts",
        (
            us
            + (F.col("event_id") * 2654435761) % _LATE_JITTER_US
            - _LATE_JITTER_US // 2
        ).alias("seq"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("seq", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm_us = F.unix_micros(F.max("ts").over(w).cast("timestamp"))
    late = wm_us.isNotNull() & (us < wm_us - _LATE_ALLOWED_US)
    return (
        a.select(
            "event_id",
            "event_type",
            late.alias("late"),
            F.when(late, wm_us - us).otherwise(F.lit(0)).cast("long")
            .alias("lateness_us"),
        )
        .repartition(1).sortWithinPartitions("event_id")
    )


# Burst detection: trailing 6 h RANGE frame, flag counts >= 4 (calibrated to
# the testdata event density so flags exist at sf0.001 and sf0.01 without
# flagging everything).
_BURST_W_US = 21_600_000_000
_BURST_K = 4


@_q(
    "events_burst_detect",
    f"""
    WITH a AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    b AS (
      SELECT *, CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {_BURST_W_US} PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_in_window
      FROM a)
    SELECT event_id, user_id, n_in_window
    FROM b WHERE n_in_window >= {_BURST_K} ORDER BY event_id
    """,
)
def events_burst_detect(spark, sf):
    """Burst/bot detection over a TRAILING RANGE frame — for every event,
    how many of the same user's events fall in the preceding 6 h of EVENT
    TIME (not row count: gaps matter), flagging events that close a burst
    of ≥{_BURST_K}.  This is the crawl-operations "aggressive client /
    runaway scheduler" detector, and deliberately a different kernel from
    ``events_range_join_6h`` (a range JOIN between two event sets) and
    ``events_sliding_window_rates`` (fixed tumbling panes): a value-RANGE
    window frame slides per row, which Spark evaluates in one pass over
    each sorted partition with a moving frame head — no self-join, no
    pane explosion.

    Scale shape: one hash shuffle on user_id + per-partition sort; the
    frame bound is integer µs so the flag decision is bit-exact.  Skewed
    hot users are bounded by the frame (the window only ever holds 6 h of
    one user's events), and AQE splits oversized partitions."""
    ev = load(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = ev.select("user_id", "event_id", us.alias("us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_BURST_W_US, 0)
    )
    return (
        a.withColumn("n_in_window", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("n_in_window") >= _BURST_K)
        .select("event_id", "user_id", "n_in_window")
        .repartition(1).sortWithinPartitions("event_id")
    )


_TRIGRAM_TOPK = 5


@_q(
    "docs_char_trigram_lang_profile",
    f"""
    WITH g AS (
      SELECT lang, substring(lower(text), CAST(j AS INT), 3) AS tri
      FROM (
        SELECT lang, lower(text) AS text,
               unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS j
        FROM documents)),
    c AS (
      SELECT lang, tri, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY lang, tri),
    r AS (
      SELECT lang, tri, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, tri ASC) AS rk
      FROM c)
    SELECT lang, tri, cnt, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {_TRIGRAM_TOPK} ORDER BY lang, rk
    """,
)
def docs_char_trigram_lang_profile(spark, sf):
    """Character-trigram language profiles — the actual langid kernel
    (Cavnar & Trenkle's n-gram-of-characters ranking, what fastText/CLD
    distill): per language, the top-{_TRIGRAM_TOPK} most frequent char
    trigrams with deterministic tie-breaks.  ``docs_lang_id`` consumes a
    fixed English profile; this operator is the TRAINING side that builds
    profiles from a labeled corpus.

    Scale shape: the position explode (one row per char offset) looks
    expensive but the (lang, trigram) groupBy partial-aggregates INSIDE
    the generate stage — what crosses the wire is the per-partition
    distinct profile (bounded by the trigram vocabulary, ~50k for web
    text), not the corpus; the rank window then runs on |langs|·|vocab|
    rows.  Same shape as ``docs_vocab_topk`` one level below words."""
    d = load(spark, sf, "documents")
    g = d.select(
        "lang",
        F.lower("text").alias("t"),
    ).select(
        "lang",
        F.expr("explode(sequence(1, greatest(length(t) - 2, 0)))").alias("j"),
        "t",
    ).select("lang", F.expr("substring(t, j, 3)").alias("tri"))
    c = g.groupBy("lang", "tri").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tri").asc())
    return (
        c.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _TRIGRAM_TOPK)
        .select("lang", "tri", "cnt", "rk")
        .repartition(1).sortWithinPartitions("lang", "rk")
    )


def _ahash_px_duck() -> str:
    m = "md5('ahash-v1:' || doc_id || ':' || (i // 16))"
    v1 = f"(instr('0123456789abcdef', substring({m}, (i % 16)*2 + 1, 1)) - 1)"
    v2 = f"(instr('0123456789abcdef', substring({m}, (i % 16)*2 + 2, 1)) - 1)"
    return f"list_transform(range(0, 64), i -> CAST({v1} * 16 + {v2} AS BIGINT))"


@_q(
    "multimodal_image_ahash",
    f"""
    WITH p AS (
      SELECT doc_id, {_ahash_px_duck()} AS px FROM documents),
    t AS (
      SELECT doc_id, px, CAST(list_sum(px) AS BIGINT) AS total FROM p)
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), i ->
             CASE WHEN px[i + 1] * 64 > total
                  THEN CAST(1 AS BIGINT) << CAST(31 - i AS INT)
                  ELSE 0 END)) AS BIGINT) AS ahash_hi,
           CAST(list_sum(list_transform(range(32, 64), i ->
             CASE WHEN px[i + 1] * 64 > total
                  THEN CAST(1 AS BIGINT) << CAST(63 - i AS INT)
                  ELSE 0 END)) AS BIGINT) AS ahash_lo,
           CAST(list_sum(list_transform(range(0, 64), i ->
             CASE WHEN px[i + 1] * 64 > total THEN 1 ELSE 0 END)) AS BIGINT)
             AS n_set
    FROM t ORDER BY doc_id
    """,
)
def multimodal_image_ahash(spark, sf):
    """Perceptual average-hash (aHash) over an 8×8 grayscale thumbnail —
    the classic image near-dup fingerprint (pHash's cheaper sibling): a
    bit per pixel, set when the pixel exceeds the image mean; two hashes
    at small Hamming distance are visual near-duplicates, and the
    LSH-banding machinery of ``emb_lsh_neardup_pairs`` applies to these
    64-bit codes unchanged.  The thumbnail is synthesized deterministically
    (md5 bytes of doc_id — a real pipeline's resize/grayscale UDF lands in
    exactly this integer column shape), and the mean threshold is
    cross-multiplied (``pixel·64 > total``) so no division crosses an
    engine boundary.  The hash is split hi/lo 32-bit halves so every value
    stays positive BIGINT (bit 63 of a packed int64 would need unsigned).

    Scale shape (r6): one Arrow-vectorized map inside the scan stage — the
    8×8 pixel block is by construction the 16 raw bytes of 4 md5 digests
    (hex pair (i%16)·2+1..2 of md5 block i//16 IS digest byte i%16), so
    the UDF hashes 4 strings per row with hashlib and the thresholding is
    pure exact-integer numpy; the interpreted transform/aggregate HOF
    chain this replaces evaluated ~256 lambdas per row outside codegen.
    At 10^10 images the decode UDF feeding the pixel array is the only
    Python, exactly like ``multimodal_image_dims``."""
    import pyarrow as pa

    d = load_fanout(spark, sf, "documents").select("doc_id")

    def gen(batches):
        import hashlib

        import numpy as np

        weights_hi = np.concatenate(
            [1 << np.arange(31, -1, -1, dtype=np.int64), np.zeros(32, np.int64)]
        )
        weights_lo = np.concatenate(
            [np.zeros(32, np.int64), 1 << np.arange(31, -1, -1, dtype=np.int64)]
        )
        md5 = hashlib.md5
        for batch in batches:
            ids = batch.column(0).to_pylist()
            hi = np.empty(len(ids), dtype=np.int64)
            lo = np.empty(len(ids), dtype=np.int64)
            ns = np.empty(len(ids), dtype=np.int64)
            for r, did in enumerate(ids):
                px = np.frombuffer(
                    b"".join(
                        md5(f"ahash-v1:{did}:{blk}".encode()).digest()
                        for blk in range(4)
                    ),
                    dtype=np.uint8,
                ).astype(np.int64)
                bits = px * 64 > px.sum()
                hi[r] = int((weights_hi * bits).sum())
                lo[r] = int((weights_lo * bits).sum())
                ns[r] = int(bits.sum())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(hi),
                    pa.array(lo),
                    pa.array(ns),
                ],
                ["doc_id", "ahash_hi", "ahash_lo", "n_set"],
            )

    return ordered(
        d.mapInArrow(
            gen, "doc_id long, ahash_hi long, ahash_lo long, n_set long"
        ),
        "doc_id",
    )


_HLLM_P = 8                    # 2^8 = 256 registers (shared with the builder)
_HLLM_M = 1 << _HLLM_P
_HLLM_W = 20                   # suffix bits (28-bit hash − 8 bucket bits)
# floor(1000 · α_256) with α_m = 0.7213 / (1 + 1.079/m) — the standard HLL
# bias constant (Flajolet et al. 2007, Fig. 3).
_HLLM_ALPHA_MILLI = 718
# α·m²·2^W as one exact BIGINT: 718 · 2^16 · 2^20 · … kept ÷1000 at use site.
_HLLM_NUMER = _HLLM_ALPHA_MILLI * _HLLM_M * _HLLM_M * (1 << _HLLM_W)

_HLLM_FOLD = (
    "CAST(list_sum(list_transform(range(0, 7), i -> "
    "CAST(instr('0123456789abcdef', "
    "substring(md5('hllm-v1:' || user_id), i + 1, 1)) - 1 "
    "AS BIGINT) << (4 * (6 - i)))) AS BIGINT)"
)


@_q(
    "events_hll_merge_estimate",
    f"""
    WITH h AS (SELECT event_type, {_HLLM_FOLD} AS h FROM events),
    p AS (
      SELECT event_type, h % {_HLLM_M} AS bucket, h // {_HLLM_M} AS rest
      FROM h),
    r AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN rest = 0 THEN {_HLLM_W + 1}
                      ELSE {_HLLM_W + 1} - length(bin(rest)) END) AS reg
      FROM p GROUP BY 1, 2),
    rall AS (
      SELECT 'ALL' AS event_type, bucket, MAX(reg) AS reg FROM r GROUP BY 2),
    u AS (SELECT * FROM r UNION ALL SELECT * FROM rall),
    s AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << CAST({_HLLM_W + 1} - reg AS INT))
                  + ({_HLLM_M} - COUNT(*)) * {1 << (_HLLM_W + 1)}
                  AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_buckets_set
      FROM u GROUP BY 1),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events),
    est AS (
      SELECT s.event_type,
             CAST({2 * _HLLM_NUMER} // (1000 * s.s2) AS BIGINT) AS est,
             ex.exact_users, s.n_buckets_set
      FROM s JOIN ex USING (event_type))
    SELECT event_type, est, exact_users,
           CAST(abs(est - exact_users) * 1000 // exact_users AS BIGINT)
             AS err_permille,
           n_buckets_set
    FROM est ORDER BY event_type
    """,
)
def events_hll_merge_estimate(spark, sf):
    f"""HLL register MERGE + integer cardinality estimate — the half of the
    sketch story ``events_hll_registers`` leaves on the table.  Per-type
    register vectors (p={_HLLM_P}, 28-bit hash) are united into an 'ALL'
    sketch by a bucket-wise MAX — the algebraic property that makes HLL the
    distinct-counter of choice at 10^10 keys: per-day/per-host sketches
    merge without rescanning, unlike COUNT(DISTINCT).  The raw estimator
    α·m²/Σ2^-M_j is evaluated in EXACT integer arithmetic: Σ2^-M is a
    dyadic rational, so its 2^(W+1)-scaled sum is a BIGINT (empty buckets
    contribute 2^(W+1)), α is milli-scaled, and one integer division yields
    the estimate both engines reproduce bit-for-bit — no float, no
    engine-rounding hazard.  ``exact_users`` and ``err_permille`` ride
    along so the oracle pins the sketch's real accuracy (at n/m ≈ 4 the
    raw estimator sits in its known biased-high regime below 2.5m, where
    production HLLs switch to linear counting — reported, not hidden).

    Scale shape: MAX partial-aggregates map-side, so per input partition at
    most m=256 rows per event_type cross the wire; the merge is a second
    256-row-bounded groupBy; only the audit columns' COUNT(DISTINCT) is
    O(keys), and they exist purely to measure the sketch they'd be deleted
    in favor of at 100 TB."""
    e = load(spark, sf, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hllm-v1:"), F.col("user_id").cast("string"))),
            1,
            7,
        ),
        16,
        10,
    ).cast("long")
    p = e.select(
        "event_type",
        (h % _HLLM_M).cast("long").alias("bucket"),
        F.expr(f"CAST(conv(substring(md5(concat('hllm-v1:', "
               f"CAST(user_id AS STRING))), 1, 7), 16, 10) AS BIGINT) "
               f"div {_HLLM_M}").alias("rest"),
    )
    r = (
        p.select(
            "event_type",
            "bucket",
            F.when(F.col("rest") == 0, F.lit(_HLLM_W + 1))
            .otherwise(F.lit(_HLLM_W + 1) - F.length(F.bin("rest")))
            .alias("rank"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").cast("long").alias("reg"))
    )
    rall = (
        r.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("ALL").alias("event_type"), "bucket", "reg")
    )
    u = r.unionByName(rall)
    s = u.groupBy("event_type").agg(
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({_HLLM_W + 1} - reg AS INT))"
                )
            )
            + (F.lit(_HLLM_M) - F.count(F.lit(1))) * F.lit(1 << (_HLLM_W + 1))
        ).cast("long").alias("s2"),
        F.count(F.lit(1)).alias("n_buckets_set"),
    )
    ex = (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .unionByName(
            e.agg(
                F.countDistinct("user_id").cast("long").alias("exact_users")
            ).select(F.lit("ALL").alias("event_type"), "exact_users")
        )
    )
    est = F.expr(f"CAST({2 * _HLLM_NUMER} div (1000 * s2) AS BIGINT)")
    return (
        s.join(ex, "event_type")
        .select(
            "event_type",
            est.alias("est"),
            "exact_users",
            F.expr(
                f"CAST(abs(CAST({2 * _HLLM_NUMER} div (1000 * s2) AS BIGINT)"
                f" - exact_users) * 1000 div exact_users AS BIGINT)"
            ).alias("err_permille"),
            "n_buckets_set",
        )
        .repartition(1).sortWithinPartitions("event_type")
    )


_POSTINGS_HEAD = 16


@_q(
    "docs_inverted_index_postings",
    f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents),
    tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
    g AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM tt GROUP BY 1, 2),
    a AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS cf,
             array_to_string(
               list_slice(list(doc_id ORDER BY doc_id), 1, {_POSTINGS_HEAD}),
               '|') AS postings_head
      FROM g GROUP BY 1)
    SELECT term, df, cf, postings_head FROM a ORDER BY term
    """,
)
def docs_inverted_index_postings(spark, sf):
    f"""Inverted-index build — the search-engine core an analytics stack
    bolts onto a crawl corpus (and the data structure behind BM25 serving):
    per term, document frequency, collection frequency, and the head of
    the doc-id-sorted posting list.  Exposing only the first
    {_POSTINGS_HEAD} postings keeps the OUTPUT row bounded; the full list
    is what a real index writer streams into per-term segment blocks.

    Scale shape: tokenize in the scan stage, then two groupBys — the first
    on (term, doc_id) collapses within-doc repeats map-side (its shuffle
    is the distinct postings volume, the index's own size, irreducible for
    this product), the second on term is bounded by vocabulary × df.  At
    10^10 docs the term key is Zipf-skewed; the (term, doc_id) pre-combine
    is exactly the salt that keeps 'the''s reducer from receiving one row
    per OCCURRENCE — it receives one per document, and a production writer
    range-shards each mega-term's postings by doc_id block, same as the
    banding trick in ``docs_minhash_pairs``."""
    d = load(spark, sf, "documents")
    tt = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    ).filter(F.col("term") != "")
    g = tt.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        g.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("c").cast("long").alias("cf"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(F.collect_list("doc_id")),
                        1,
                        _POSTINGS_HEAD,
                    ),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("postings_head"),
        )
        .select("term", "df", "cf", "postings_head")
        .repartition(1).sortWithinPartitions("term")
    )


_TAXONOMY = {
    "planner": ("query", "filter", "sort", "key"),
    "relational": ("join", "merge", "hash", "agg"),
    "storage": ("table", "scan", "column", "row"),
    "streaming": ("stream", "window", "batch", "watermark"),
}
_TOPIC_MIN_HITS = 3


def _topic_counts_duck() -> str:
    cols = []
    for topic, kws in _TAXONOMY.items():
        inlist = ", ".join(f"'{k}'" for k in kws)
        cols.append(
            f"CAST(len(list_filter(words, w -> w IN ({inlist}))) AS BIGINT)"
            f" AS c_{topic}"
        )
    return ", ".join(cols)


@_q(
    "docs_taxonomy_topic_assign",
    f"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents),
    c AS (SELECT doc_id, {_topic_counts_duck()} FROM w),
    t AS (
      SELECT doc_id,
             concat_ws('|',
               CASE WHEN c_planner >= {_TOPIC_MIN_HITS} THEN 'planner' END,
               CASE WHEN c_relational >= {_TOPIC_MIN_HITS} THEN 'relational' END,
               CASE WHEN c_storage >= {_TOPIC_MIN_HITS} THEN 'storage' END,
               CASE WHEN c_streaming >= {_TOPIC_MIN_HITS} THEN 'streaming' END
             ) AS topics,
             CAST((c_planner >= {_TOPIC_MIN_HITS})::INT
                  + (c_relational >= {_TOPIC_MIN_HITS})::INT
                  + (c_storage >= {_TOPIC_MIN_HITS})::INT
                  + (c_streaming >= {_TOPIC_MIN_HITS})::INT AS BIGINT)
               AS n_topics,
             greatest(c_planner, c_relational, c_storage, c_streaming)
               AS top_hits,
             c_planner, c_relational, c_storage, c_streaming
      FROM c)
    SELECT doc_id, topics, n_topics,
           CASE WHEN top_hits = 0 THEN 'none'
                WHEN c_planner = top_hits THEN 'planner'
                WHEN c_relational = top_hits THEN 'relational'
                WHEN c_storage = top_hits THEN 'storage'
                ELSE 'streaming' END AS top_topic,
           CAST(top_hits AS BIGINT) AS top_hits
    FROM t ORDER BY doc_id
    """,
)
def docs_taxonomy_topic_assign(spark, sf):
    f"""Keyword-taxonomy topic assignment — the cheap domain classifier a
    training pipeline runs before the expensive model-based one (FineWeb /
    DCLM route documents to domain mixes with exactly this
    keyword-hit-count baseline): per document, occurrence counts against
    {len(_TAXONOMY)} keyword lists; a topic is assigned at
    ≥{_TOPIC_MIN_HITS} hits, and the argmax (alphabetical tie-break,
    'none' when nothing hits) becomes the routing label.

    Scale shape: the taxonomy is a PLAN LITERAL — each topic count is a
    ``size(filter(tokens, IN-list))`` expression inside the one codegen'd
    scan stage, so there is no keyword-table join, no explode, no shuffle,
    and the argmax + tie-break is a CASE cascade in topic-name order.  At
    a realistic 10^4-keyword taxonomy the IN-lists become a broadcast map
    + explode-join; at this size inlining is strictly better (same reason
    ``broadcast_dim_rollup`` broadcasts instead of shuffling)."""
    d = load(spark, sf, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    sel = [F.col("doc_id"), toks.alias("words")]
    c = d.select(*sel)
    for topic, kws in _TAXONOMY.items():
        c = c.withColumn(
            f"c_{topic}",
            F.size(F.filter(F.col("words"), lambda w: w.isin(*kws))).cast(
                "long"
            ),
        )
    names = list(_TAXONOMY)
    top_hits = F.greatest(*[F.col(f"c_{t}") for t in names])
    assigned = [
        F.when(F.col(f"c_{t}") >= _TOPIC_MIN_HITS, F.lit(t)) for t in names
    ]
    top = F.when(top_hits == 0, F.lit("none"))
    for t in names:
        top = top.when(F.col(f"c_{t}") == top_hits, F.lit(t))
    return (
        c.select(
            "doc_id",
            F.concat_ws("|", *assigned).alias("topics"),
            sum(
                [
                    (F.col(f"c_{t}") >= _TOPIC_MIN_HITS).cast("int")
                    for t in names
                ],
                F.lit(0),
            )
            .cast("long")
            .alias("n_topics"),
            top.alias("top_topic"),
            top_hits.cast("long").alias("top_hits"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


_FUNNEL_LANGS = ("de", "en", "es", "fr")
_REP_MAX_SHARE = 8  # drop when one token exceeds 1/8 of the words


@_q(
    "docs_quality_funnel",
    f"""
    WITH f AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nw,
             length(regexp_replace(text, '\\s', '', 'g')) AS sc,
             len(regexp_extract_all(lower(text), '{_GOPHER_STOP_RE}')) AS st,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> regexp_matches(w, '^[A-Za-z]+$'))) AS aw,
             list_max(list_transform(
               list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')),
               w -> len(list_filter(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      x -> x = w)))) AS mr,
             MIN(doc_id) OVER (
               PARTITION BY md5(regexp_replace(lower(text), '\\s+', '', 'g'))
             ) AS fpmin
      FROM documents),
    g AS (
      SELECT lang IN {_FUNNEL_LANGS} AS f1,
             (nw >= {_GOPHER_MIN_WORDS} AND sc >= 3*nw AND sc <= 10*nw
              AND st >= 2 AND 5*aw >= 4*nw) AS f2,
             doc_id = fpmin AS f3,
             mr * {_REP_MAX_SHARE} <= nw AS f4
      FROM f),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (f1) AS BIGINT) AS k1,
             CAST(COUNT(*) FILTER (f1 AND f2) AS BIGINT) AS k2,
             CAST(COUNT(*) FILTER (f1 AND f2 AND f3) AS BIGINT) AS k3,
             CAST(COUNT(*) FILTER (f1 AND f2 AND f3 AND f4) AS BIGINT) AS k4
      FROM g),
    stages AS (
      SELECT CAST(1 AS INT) AS stage_idx, 'lang_allowlist' AS stage,
             n0 AS n_in, k1 AS n_kept FROM a
      UNION ALL SELECT 2, 'gopher_rules', k1, k2 FROM a
      UNION ALL SELECT 3, 'exact_dedup', k2, k3 FROM a
      UNION ALL SELECT 4, 'max_word_rep', k3, k4 FROM a)
    SELECT stage_idx, stage, n_in, n_kept, n_in - n_kept AS n_dropped
    FROM stages ORDER BY stage_idx
    """,
)
def docs_quality_funnel(spark, sf):
    f"""Quality-filter FUNNEL — the curation-report artifact every
    training-data pipeline publishes (the FineWeb/Dolma ablation table):
    gates applied in a fixed order, each row reporting survivors in,
    survivors out, and attrition.  Stages: language allowlist
    {_FUNNEL_LANGS} → the four Gopher rules (same constants as
    ``docs_gopher_quality_gate``) → exact dedup (fingerprint survivor =
    min doc_id, same normalization as ``docs_fingerprint``) → max-word
    repetition (drop when one token exceeds 1/{_REP_MAX_SHARE} of the
    document — Gopher §A1.1's repetition family).  A stage with zero
    attrition on this corpus (exact_dedup: the synthetic texts are
    unique) reports its zero honestly rather than being dropped from the
    funnel.

    Scale shape: every flag is computed in ONE scan pass (the repetition
    max is an O(distinct·n) array expression per row, no explode); the
    only shuffle is the fingerprint window for the dedup survivor, and
    the whole funnel reduces to ONE aggregate row (the four cumulative
    counts partial-aggregate map-side), exploded driver-free into the
    4-row report.  Counting all four cumulative gates in one aggregate
    instead of four chained filters is what makes the funnel O(1) actions
    regardless of stage count."""
    d = load(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ltoks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    nw = F.size(toks).cast("long")
    sc = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    st = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_GOPHER_STOP_RE), F.lit(0))
    ).cast("long")
    aw = F.size(F.filter(toks, lambda w: w.rlike("^[A-Za-z]+$"))).cast("long")
    mr = F.array_max(
        F.transform(
            F.array_distinct(ltoks),
            lambda w: F.size(F.filter(ltoks, lambda x: x == w)),
        )
    ).cast("long")
    fp = F.md5(F.regexp_replace(F.lower("text"), r"\s+", ""))
    wmin = Window.partitionBy(fp)
    flags = d.select(
        (F.col("lang").isin(*_FUNNEL_LANGS)).alias("f1"),
        (
            (nw >= _GOPHER_MIN_WORDS)
            & (sc >= 3 * nw)
            & (sc <= 10 * nw)
            & (st >= 2)
            & (5 * aw >= 4 * nw)
        ).alias("f2"),
        (F.col("doc_id") == F.min("doc_id").over(wmin)).alias("f3"),
        (mr * _REP_MAX_SHARE <= nw).alias("f4"),
    )
    a = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.count(F.when(F.col("f1"), 1)).cast("long").alias("k1"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).cast("long").alias("k2"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1))
        .cast("long")
        .alias("k3"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        )
        .cast("long")
        .alias("k4"),
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("stage_idx"),
            F.lit("lang_allowlist").alias("stage"),
            F.col("n0").alias("n_in"),
            F.col("k1").alias("n_kept"),
        ),
        F.struct(
            F.lit(2).alias("stage_idx"),
            F.lit("gopher_rules").alias("stage"),
            F.col("k1").alias("n_in"),
            F.col("k2").alias("n_kept"),
        ),
        F.struct(
            F.lit(3).alias("stage_idx"),
            F.lit("exact_dedup").alias("stage"),
            F.col("k2").alias("n_in"),
            F.col("k3").alias("n_kept"),
        ),
        F.struct(
            F.lit(4).alias("stage_idx"),
            F.lit("max_word_rep").alias("stage"),
            F.col("k3").alias("n_in"),
            F.col("k4").alias("n_kept"),
        ),
    )
    return (
        a.select(F.explode(stages).alias("s"))
        .select(
            F.col("s.stage_idx").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.n_in").alias("n_in"),
            F.col("s.n_kept").alias("n_kept"),
            (F.col("s.n_in") - F.col("s.n_kept")).alias("n_dropped"),
        )
        .repartition(1).sortWithinPartitions("stage_idx")
    )


@_q(
    "docs_lang_id_confusion",
    """
    WITH p AS (
      SELECT lang AS lang_true,
             CASE WHEN len(regexp_extract_all(lower(text),
                          '\\b(the|and|of|is)\\b')) >= 3
                  THEN 'en' ELSE lang END AS lang_pred
      FROM documents)
    SELECT lang_true, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           lang_true = lang_pred AS correct
    FROM p GROUP BY 1, 2 ORDER BY lang_true, lang_pred
    """,
)
def docs_lang_id_confusion(spark, sf):
    """Language-ID confusion matrix — the evaluation artifact for
    ``docs_lang_id``'s heuristic against the corpus's declared labels
    (exactly how fastText-style identifiers are audited before gating a
    corpus on their output; the off-diagonal (true≠'en', pred='en') rows
    are the English-function-word false-positive mass).

    Scale shape: the predictor is the same scan-stage regex as
    ``docs_lang_id``; the matrix is one groupBy bounded by |langs|² rows,
    partial-aggregated map-side — an O(1)-output audit you can afford to
    run on every snapshot."""
    d = load(spark, sf, "documents")
    en_hits = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(r"\b(the|and|of|is)\b"), F.lit(0)
        )
    )
    return (
        d.select(
            F.col("lang").alias("lang_true"),
            F.when(en_hits >= 3, "en").otherwise(F.col("lang")).alias(
                "lang_pred"
            ),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("correct", F.col("lang_true") == F.col("lang_pred"))
        .repartition(1).sortWithinPartitions("lang_true", "lang_pred")
    )


@_q(
    "events_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             COALESCE(LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 'END') AS next_type
      FROM events)
    SELECT event_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT)
             AS n_from,
           CAST(COUNT(*) * 1000 // SUM(COUNT(*)) OVER (PARTITION BY event_type)
                AS BIGINT) AS p_permille
    FROM s GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def events_markov_transitions(spark, sf):
    """First-order Markov transition matrix over per-user event sequences —
    the clickstream model behind next-action prediction and behavioral
    cohorting (and, on the crawl side, the page-type transition model a
    scheduler learns: SERP→place→reviews).  Per user, events order by
    (ts, event_id) — the same deterministic tie-break as sessionization —
    and each event contributes one (type → next-type) edge, with 'END' as
    the absorbing state so row-sums equal event counts exactly.
    Probabilities are integer permille (``div`` of two counts, no float).

    Scale shape: ONE shuffle keyed by user_id for the lag window (sequences
    are user-local, so partitions scale with users, no skew beyond the
    heaviest user), then a groupBy bounded by |types|² rows that
    partial-aggregates map-side; the normalizing row-sum rides a window
    over the already-tiny matrix, not the event stream."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.coalesce(F.lead("event_type").over(w), F.lit("END")).alias(
            "next_type"
        ),
    )
    g = s.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wf = Window.partitionBy("event_type")
    return (
        g.select(
            "event_type",
            "next_type",
            "n_transitions",
            F.sum("n_transitions").over(wf).cast("long").alias("n_from"),
            F.expr(
                "CAST(n_transitions * 1000 div "
                "SUM(n_transitions) OVER (PARTITION BY event_type) AS BIGINT)"
            ).alias("p_permille"),
        )
        .repartition(1).sortWithinPartitions("event_type", "next_type")
    )


_WIN_TOPK = 3


@_q(
    "events_windowed_topk_types",
    f"""
    WITH w AS (
      SELECT (epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US} AS win_start_us,
             event_type
      FROM events),
    c AS (
      SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM w GROUP BY 1, 2),
    r AS (
      SELECT win_start_us, event_type, n_events,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY win_start_us
               ORDER BY n_events DESC, event_type ASC) AS INT) AS rk
      FROM c)
    SELECT win_start_us, event_type, n_events, rk
    FROM r WHERE rk <= {_WIN_TOPK}
    ORDER BY win_start_us, rk
    """,
)
def events_windowed_topk_types(spark, sf):
    f"""Per-window top-{_WIN_TOPK} event types — the 'trending now' rollup
    every monitoring surface ships (and a crawl dashboard's
    hottest-host-per-hour view): 6-hour tumbling windows, types ranked by
    count with deterministic alphabetical ties.

    Scale shape: the count groupBy partial-aggregates map-side to
    |windows|·|types| rows, and the rank window partitions BY WINDOW — at
    10^10 events the ranking input is already thousands of rows, not the
    stream; the classic mistake (rank over the raw events) never
    materializes here."""
    e = load(spark, sf, "events")
    win = (
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TUMBLE_US}")
        * _TUMBLE_US
    ).alias("win_start_us")
    c = (
        e.select(win, "event_type")
        .groupBy("win_start_us", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = Window.partitionBy("win_start_us").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _WIN_TOPK)
        .repartition(1).sortWithinPartitions("win_start_us", "rk")
    )


@_q(
    "events_value_log2_histogram",
    """
    WITH m AS (
      SELECT CAST(round(CAST(value AS DOUBLE) * 1000) AS BIGINT) AS m
      FROM events),
    b AS (
      SELECT CASE WHEN m <= 0 THEN -1
                  ELSE CAST(length(bin(m)) AS BIGINT) END AS bucket, m
      FROM m)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(m) AS BIGINT) AS min_milli,
           CAST(MAX(m) AS BIGINT) AS max_milli
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def events_value_log2_histogram(spark, sf):
    """Power-of-two value histogram — the allocation-free distribution
    sketch monitoring systems keep per metric (HdrHistogram's bucket
    level; a crawl engine's response-size/latency profile): values
    milli-scale to integers (the ``emb_int8_quantize`` rounding contract)
    and bucket by BIT LENGTH, so bucket b holds [2^(b-1), 2^b) milli-units
    and the bucket id is exact integer arithmetic in both engines
    (``length(bin(m))`` — the HLL rank idiom), non-positives pooled at -1.

    Scale shape: one scan-stage map + one groupBy bounded by ~64 buckets
    that partial-aggregates map-side — mergeable across hosts/days like
    every sketch in this catalog (the union of two histograms is the sum
    of their buckets)."""
    e = load(spark, sf, "events")
    m = F.round(F.col("value").cast("double") * 1000).cast("long")
    return (
        e.select(m.alias("m"))
        .select(
            F.when(F.col("m") <= 0, F.lit(-1))
            .otherwise(F.length(F.bin("m")).cast("long"))
            .alias("bucket"),
            "m",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("m").alias("min_milli"),
            F.max("m").alias("max_milli"),
        )
        .repartition(1).sortWithinPartitions("bucket")
    )


_AB_SALT = "ab-v1:"


@_q(
    "events_ab_test_lift",
    f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(instr('0123456789abcdef',
                    substring(md5('{_AB_SALT}' || user_id), 1, 1)) - 1
                  AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             bool_or(event_type = 'purchase') AS converted
      FROM events GROUP BY user_id)
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (converted) AS BIGINT) AS n_converted,
           CAST(COUNT(*) FILTER (converted) * 1000 // COUNT(*) AS BIGINT)
             AS conv_permille
    FROM u GROUP BY variant ORDER BY variant
    """,
)
def events_ab_test_lift(spark, sf):
    """Deterministic A/B experiment readout — hash-based variant assignment
    (first md5 nibble parity of the salted user id: the standard sticky
    bucketing every experimentation platform uses, and the same
    literal-hash discipline as ``docs_split_assign``) with per-variant
    user-level conversion (≥1 purchase).  Rates are integer permille; the
    lift is one subtraction away for the reader, with both numerators and
    denominators exposed for the significance test a real platform runs.

    Scale shape: one groupBy(user) with a bool_or partial-aggregate (the
    conversion flag collapses map-side), then a 2-row groupBy — at 10^10
    events the experiment readout costs one shuffle keyed by user, same
    as sessionization, and variants need no randomness state anywhere."""
    e = load(spark, sf, "events")
    variant = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_AB_SALT), F.col("user_id").cast("string"))
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    u = (
        e.select(variant.alias("variant"), "user_id", "event_type")
        .groupBy("variant", "user_id")
        .agg(F.max(F.col("event_type") == "purchase").alias("converted"))
    )
    return (
        u.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count(F.when(F.col("converted"), 1))
            .cast("long")
            .alias("n_converted"),
        )
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr("CAST(n_converted * 1000 div n_users AS BIGINT)").alias(
                "conv_permille"
            ),
        )
        .repartition(1).sortWithinPartitions("variant")
    )


@_q(
    "events_session_duration_histogram",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g),
    d AS (
      SELECT (MAX(us) - MIN(us)) // 1000000 AS dur_s
      FROM s GROUP BY user_id, session_id),
    b AS (
      SELECT CASE WHEN dur_s <= 0 THEN 0
                  ELSE CAST(length(bin(dur_s)) AS BIGINT) END AS bucket, dur_s
      FROM d)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MIN(dur_s) AS BIGINT) AS min_s,
           CAST(MAX(dur_s) AS BIGINT) AS max_s
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def events_session_duration_histogram(spark, sf):
    """Session-duration distribution in power-of-two second buckets — the
    engagement profile composed from two catalog primitives: the
    ``events_sessionize`` gap logic (same strict 30-min comparator, same
    (ts, event_id) tie-break) feeding the ``events_value_log2_histogram``
    bucket idiom (bit length of whole seconds; single-event sessions pool
    at bucket 0).

    Scale shape: one user-keyed shuffle for the two stacked windows (lag
    + running sum share the same partitioning, ONE exchange), one
    map-side-combining groupBy per (user, session), then the ~40-bucket
    histogram groupBy — the same budget as sessionization itself."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    sess = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        e.select("user_id", us.alias("us"), sess.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(F.expr("(MAX(us) - MIN(us)) div 1000000").alias("dur_s"))
    )
    return (
        d.select(
            F.when(F.col("dur_s") <= 0, F.lit(0))
            .otherwise(F.length(F.bin("dur_s")).cast("long"))
            .alias("bucket"),
            "dur_s",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.min("dur_s").cast("long").alias("min_s"),
            F.max("dur_s").cast("long").alias("max_s"),
        )
        .repartition(1).sortWithinPartitions("bucket")
    )


@_q(
    "tpch_q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf):
    """TPC-H Q6 (forecast revenue change) — the canonical predicate-pushdown
    showcase: three scan-level filters and one aggregate, NO join, NO
    groupBy key.  The plan the 100-TB grade demands: every predicate
    reaches the parquet reader as a PushedFilter (shipdate range prunes
    row groups via min/max stats, discount/quantity filter inside the
    scan), the projection reads exactly three columns, and the single
    global aggregate partial-aggregates map-side so ONE row per partition
    crosses the wire — pinned by the plan-shape guard's forbidden-join
    sweep and visible in `.explain` as one WholeStageCodegen span."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


@_q(
    "tpch_q4_priority_exists",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark, sf):
    """TPC-H Q4 shape (order-priority checking, adapted to the testdata
    columns: EXISTS lineitem shipped after the order date): the catalog's
    one EXISTS-decorrelation showcase.  Expressed as a LEFT SEMI join with
    a mixed equi + non-equi condition — Catalyst keeps l_orderkey as the
    shuffle/broadcast key and evaluates the date comparison as a join
    residual, so the plan is a semi hash join, never a nested loop; the
    probe side short-circuits on first match (no lineitem-side aggregation
    materializes), which is exactly how Q4 should execute at 100 TB.  The
    date window is pushed to the orders scan before the join."""
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@_q(
    "tpch_q14_promo_share",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS economy_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1
    """,
)
def tpch_q14_promo_share(spark, sf):
    """TPC-H Q14 shape (promotion-revenue share, p_type='ECONOMY' standing
    in for LIKE 'PROMO%'): conditional aggregation over a fact⋈dim join.
    part is dimension-sized at every SF ratio the benchmark uses, so it is
    explicitly broadcast — the lineitem side never shuffles; the CASE
    folds into the same partial aggregate as the denominator so one pass
    computes both, and the month bucket keeps output bounded (12 rows)
    regardless of input scale."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("economy_pct"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


@_q(
    "docs_mixture_weights_isqrt",
    """
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
      FROM s)
    SELECT source, n_docs, n_tokens, w,
           CAST(w * 1000 // SUM(w) OVER () AS BIGINT) AS share_permille
    FROM w ORDER BY source
    """,
)
def docs_mixture_weights_isqrt(spark, sf):
    """Temperature-smoothed source-mixture weights (τ = 0.5) — the data-mix
    step every multilingual/multi-source training run applies (mT5 / CC-mix
    sampling: p_i ∝ c_i^τ flattens the head so low-resource sources are
    not drowned): per source, token counts and an integer-square-root
    weight with the resulting permille share of the mixture.

    √ on a BIGINT token count is engine-stable here: IEEE sqrt of an
    integer is correctly rounded, so floor(sqrt(n)) can only disagree with
    the true isqrt when n is within 1 ulp of a perfect square above 2^52
    (token counts are far below) — the one float allowed into an oracle,
    and why.  Scale shape: one groupBy(source) with map-side token-count
    partial sums, then the |sources|-row window for the normalizer — the
    same two-level profile as the HLL estimate."""
    d = load(spark, sf, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = s.withColumn(
        "w", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    return (
        w.select(
            "source",
            "n_docs",
            "n_tokens",
            "w",
            F.expr("CAST(w * 1000 div SUM(w) OVER () AS BIGINT)").alias(
                "share_permille"
            ),
        )
        .repartition(1).sortWithinPartitions("source")
    )


# --- DSIR-style hashed-feature importance weights ----------------------------

_DSIR_BUCKETS = 256  # hashed-unigram feature dimension (DSIR uses ~10^4;
#                      256 keeps the census human-auditable at test scale)
_DSIR_TARGET_LANG = "en"  # target domain: the English slice stands in for
#                           "high-quality target corpus" (DSIR's Wikipedia)
_DSIR_Q = 1 << 20  # Q20 fixed point: t_b*Q stays under 2^63 up to ~10^12
#                    corpus tokens (10^10 docs x 100 tokens), the design scale


@_q(
    "docs_dsir_hashed_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents),
    t2 AS (
      SELECT doc_id, lang,
             (instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16 +
             (instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS b
      FROM tok WHERE token <> ''),
    cen AS (
      SELECT b,
             CAST(COUNT(*) FILTER (lang = '{_DSIR_TARGET_LANG}') AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS r
      FROM t2 GROUP BY b),
    tot AS (SELECT CAST(SUM(t) * {_DSIR_Q} // SUM(r) AS BIGINT) AS base FROM cen),
    sc AS (
      SELECT t2.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(cen.t * {_DSIR_Q} // cen.r) AS BIGINT) AS score_q20
      FROM t2 JOIN cen USING (b) GROUP BY t2.doc_id)
    SELECT doc_id, n_tok, score_q20,
           CAST(score_q20 // n_tok AS BIGINT) AS mean_q20,
           score_q20 // n_tok > tot.base AS is_target_like
    FROM sc CROSS JOIN tot ORDER BY doc_id
    """,
)
def docs_dsir_hashed_importance(spark, sf):
    """DSIR-style data selection over hashed unigram features (Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling"):
    unigrams hash into 256 md5 buckets; a target feature distribution is
    fit on the target-domain slice (lang='en', standing in for DSIR's
    Wikipedia/quality corpus) and a raw distribution on the whole corpus;
    each document scores its tokens against the two.

    The catalog row uses the LINEAR (posterior-fraction) form in exact Q20
    fixed point — per token, the bucket's target share t_b/r_b scaled by
    2^20 with integer division — because the compare must be bit-stable
    and libm log() is not (Spark computes LOG2 as ln(x)/ln(2), which lands
    below 3.0 for x=8; sums of such logs cannot be hashed cross-engine).
    A doc whose mean per-token share beats the corpus-wide base share
    (is_target_like) is vocabulary-skewed toward the target domain;
    production resampling uses DSIR's float log-ratio over the same
    census rows — a deterministic map over this exact output.  Q20 keeps
    t_b * 2^20 under 2^63 to ~10^12 corpus tokens.

    Scale shape: the feature census is ONE partially-aggregated groupBy
    with 256 output rows, which then BROADCASTS onto the exploded token
    stream (no shuffle on the corpus side — contrast
    docs_unigram_lm_rarity, whose vocabulary-sized census forces a
    skew-join; hashing into a fixed feature space is exactly what makes
    DSIR O(corpus) at 10^10 docs); the only corpus-sized shuffle is the
    per-doc re-aggregation."""
    d = load(spark, sf, "documents")
    t = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .withColumn(
            "b",
            F.conv(F.substring(F.md5("token"), 1, 2), 16, 10).cast("int"),
        )
        .drop("token")
    )
    cen = t.groupBy("b").agg(
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("r"),
    )
    cen = cen.localCheckpoint(eager=True)  # census feeds base AND the probe
    tr = cen.agg(F.sum("t").alias("T"), F.sum("r").alias("R")).head()
    base = int(tr["T"]) * _DSIR_Q // int(tr["R"])  # global literal, exact
    return (
        t.join(F.broadcast(cen), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum(F.expr(f"t * {_DSIR_Q} div r")).cast("long").alias("score_q20"),
        )
        .select(
            "doc_id",
            "n_tok",
            "score_q20",
            F.expr("CAST(score_q20 div n_tok AS BIGINT)").alias("mean_q20"),
            (F.expr("score_q20 div n_tok") > F.lit(base)).alias(
                "is_target_like"
            ),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram-LM document scoring (CCNet-style corpus-fit conditional model)
# ---------------------------------------------------------------------------


@_q(
    "docs_bigram_lm_stats",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
      FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
             unnest(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM t WHERE len(ts) >= 2),
    bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY bigram),
    ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
            FROM bg GROUP BY w1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bgc.c12) AS BIGINT) AS sum_bg_freq,
           CAST(MIN(bgc.c12) AS BIGINT) AS min_bg_freq,
           CAST(SUM(ctx.c1) AS BIGINT) AS sum_ctx_freq
    FROM bg JOIN bgc USING (bigram) JOIN ctx USING (w1)
    GROUP BY bg.doc_id ORDER BY doc_id
    """,
)
def docs_bigram_lm_stats(spark, sf):
    """Bigram-LM document scoring, exact-arithmetic form — the conditional
    upgrade of ``docs_unigram_lm_rarity`` and the shape of CCNet's
    LM-perplexity quality filter (Wenzek et al. 2020 score documents under
    an n-gram LM; here the model is fit on the corpus itself, the
    self-supervised variant).  For each document: the bigram count, the
    SUM and MIN of each bigram occurrence's corpus-wide frequency c(w1,w2),
    and the SUM of its context frequency c(w1·) — the integer sufficient
    statistics of the add-k-smoothed conditional score
    −Σ log((c(w1,w2)+k)/(c(w1·)+kV)); the float map stays out of the
    compared output (exact-output rule).  Unlike
    ``docs_top_bigram_share`` (per-doc repetition, no cross-doc state),
    this op's model is CORPUS-level: the census joins reach across every
    document.

    Scale shape: two partially-aggregated censuses (groupBy bigram, groupBy
    context word — both vocabulary-bounded), joined back onto the exploded
    corpus on Zipf-skewed keys: the head bigram/context rows land in every
    partition, the textbook AQE-skew-join case, and both census sides
    broadcast whenever they fit (vocab ≪ corpus).  One corpus-sized shuffle
    (the per-doc re-aggregation) — identical discipline and plan shape to
    the unigram op, with the bigram key doubling the census width, not the
    shuffle count."""
    d = load(spark, sf, "documents")
    toks = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("ts"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), i -> struct("
                    "element_at(ts, i) AS w1, "
                    "concat(element_at(ts, i), ' ', element_at(ts, i + 1))"
                    " AS bigram))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.bigram").alias("bigram"))
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        bg.join(bgc, "bigram")
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("c12").cast("long").alias("sum_bg_freq"),
            F.min("c12").cast("long").alias("min_bg_freq"),
            F.sum("c1").cast("long").alias("sum_ctx_freq"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- multimodal: WebP (RIFF container, VP8X/VP8L) header decode -------------


def _webp_vp8x_payload(width: int, height: int) -> bytes:
    """Minimal WebP extended-format stream: RIFF/WEBP + VP8X chunk (canvas
    dims live there as 24-bit little-endian width-1/height-1)."""
    vp8x = (
        b"\x00"          # flags: no ICC/alpha/EXIF/XMP/animation
        + b"\x00\x00\x00"  # reserved
        + struct.pack("<I", width - 1)[:3]
        + struct.pack("<I", height - 1)[:3]
    )
    chunk = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _webp_vp8l_payload(width: int, height: int) -> bytes:
    """Minimal WebP lossless stream: RIFF/WEBP + VP8L chunk — dims are
    14-bit fields packed little-endian after the 0x2F signature byte; the
    odd-sized chunk takes the RIFF even-boundary pad byte."""
    bits = (width - 1) | ((height - 1) << 14)  # alpha=0, version=0 above
    vp8l = b"\x2f" + struct.pack("<I", bits)
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l + b"\x00"  # pad
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


_VP8X_LEN = len(_webp_vp8x_payload(1, 1))
_VP8L_LEN = len(_webp_vp8l_payload(1, 1))


def parse_webp_header(b: bytes | None) -> tuple[str | None, int | None, int | None]:
    """Decode (variant, width, height) from raw WebP bytes: RIFF container
    walk + VP8X canvas fields or the VP8L packed-bitstream dims."""
    if not b:
        return (None, None, None)
    b = bytes(b)
    if len(b) < 21 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return ("unknown", None, None)
    fourcc = b[12:16]
    if fourcc == b"VP8X" and len(b) >= 30:
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return ("vp8x", w, h)
    if fourcc == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
        word = struct.unpack("<I", b[21:25])[0]
        return ("vp8l", (word & 0x3FFF) + 1, ((word >> 14) & 0x3FFF) + 1)
    return ("webp", None, None)


@_q(
    "multimodal_webp_dims",
    f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'vp8x' ELSE 'vp8l' END AS variant,
           CAST(16 + (doc_id * 11) % 1024 AS INT) AS width,
           CAST(16 + (doc_id * 5) % 1024 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN {_VP8X_LEN} ELSE {_VP8L_LEN} END
                AS BIGINT) AS byte_len
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_webp_dims(spark, sf):
    """WebP header decode over a binary payload column — the third
    container family next to ``multimodal_image_dims`` (PNG/JPEG) and
    ``multimodal_wav_meta`` (WAV): a RIFF walk that dispatches on the
    first chunk's FourCC, reading VP8X extended-format canvas dims
    (24-bit LE width-1/height-1) or the VP8L lossless bitstream's packed
    14-bit dims — per the public WebP container spec.  Same contract as
    the other multimodal ops: synthesis and decode are two independent
    vectorized UDFs, the parser sees only opaque bytes, the oracle
    recomputes expected dims arithmetically, and the odd-sized VP8L chunk
    exercises the RIFF even-boundary pad rule real streams carry.

    Scale shape: both UDFs are Arrow-batched map work inside the scan's
    stage — zero shuffles; at 100 TB the payload column never moves
    (decode where the bytes live, emit the slim typed struct)."""

    @F.pandas_udf("binary")
    def synth_webp(doc_id: pd.Series) -> pd.Series:
        def mk(i: int) -> bytes:
            w, h = 16 + (i * 11) % 1024, 16 + (i * 5) % 1024
            return (
                _webp_vp8x_payload(w, h) if i % 2 == 0
                else _webp_vp8l_payload(w, h)
            )

        return doc_id.map(lambda i: mk(int(i)))

    @F.pandas_udf("variant string, width int, height int")
    def decode_webp(payload: pd.Series) -> pd.DataFrame:
        rows = [parse_webp_header(b) for b in payload]
        return pd.DataFrame(rows, columns=["variant", "width", "height"])

    d = load(spark, sf, "documents").select("doc_id")
    return (
        d.withColumn("payload", synth_webp("doc_id"))
        .withColumn("img", decode_webp("payload"))
        .select(
            "doc_id",
            F.col("img.variant").alias("variant"),
            F.col("img.width").alias("width"),
            F.col("img.height").alias("height"),
            F.octet_length("payload").cast("long").alias("byte_len"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- CDC changelog MERGE (last-writer-wins upsert/delete apply) -------------

_CDC_OPRANK_SQL = "CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END"


@_q(
    "events_cdc_upsert_merge",
    f"""
    WITH base AS (
      SELECT event_id, user_id FROM events
    ),
    changelog AS (
      SELECT event_id, CAST(1 + event_id % 4 AS BIGINT) AS seq, 'U' AS op,
             CAST(user_id + 1000000 AS BIGINT) AS new_user_id
      FROM events WHERE event_id % 3 = 0
      UNION ALL
      SELECT event_id, CAST(2 + event_id % 3 AS BIGINT) AS seq, 'D' AS op,
             CAST(NULL AS BIGINT) AS new_user_id
      FROM events WHERE event_id % 7 = 0
      UNION ALL
      SELECT event_id + 1000000000 AS event_id,
             CAST(1 AS BIGINT) AS seq, 'I' AS op,
             CAST(event_id AS BIGINT) AS new_user_id
      FROM events WHERE event_id % 11 = 0
    ),
    winner AS (
      SELECT event_id, seq, op, new_user_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_id
          ORDER BY seq DESC, {_CDC_OPRANK_SQL} DESC) AS rk
        FROM changelog) WHERE rk = 1
    )
    SELECT COALESCE(b.event_id, w.event_id) AS event_id,
           CASE WHEN w.event_id IS NULL THEN 'kept'
                WHEN w.op = 'D' THEN 'deleted'
                WHEN b.event_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS action,
           COALESCE(w.op, '') <> 'D' AS is_present,
           CASE WHEN w.event_id IS NULL THEN b.user_id
                WHEN w.op = 'D' THEN NULL
                ELSE w.new_user_id END AS user_id_final
    FROM base b FULL OUTER JOIN winner w ON b.event_id = w.event_id
    ORDER BY event_id
    """,
)
def events_cdc_upsert_merge(spark, sf):
    """CDC changelog apply — ``MERGE INTO`` semantics (Iceberg/Delta's
    upsert primitive, and the reference's ``ON CONFLICT`` push,
    postgres/provider.go:107-146) expressed in pure DataFrame algebra:
    a changelog of (key, seq, op∈{{I,U,D}}, payload) rows collapses to one
    winner per key (highest seq; ties break D > U > I so a same-seq
    delete wins deterministically), then a single full-outer join against
    the base snapshot produces the merged table — kept / updated /
    inserted rows and explicit ``deleted`` tombstones (is_present=false).
    The changelog is synthesized deterministically from event_id (updates
    on key%3=0, deletes on key%7=0 — both hit keys%21=0, exercising
    last-writer-wins; inserts arrive on fresh keys).

    This is the sandbox's answer to the one gap SURVEY §7 left open
    (no Iceberg jars ship here): MERGE = dedup-to-winner + one key-join,
    which is exactly what the engine's delta-log checkpoint protocol runs
    as its commit step.  Scale shape: the winner window and the merge join
    share the SAME key partitioning, so one shuffle covers both (and the
    changelog side — deltas are small by nature — broadcasts, leaving the
    10^10-row base unshuffled: merge-on-read, not copy-on-write)."""
    e = load(spark, sf, "events")
    base = e.select("event_id", "user_id")
    upd = e.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        (1 + F.col("event_id") % 4).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("user_id") + 1000000).cast("long").alias("new_user_id"),
    )
    dele = e.filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        (2 + F.col("event_id") % 3).cast("long").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("new_user_id"),
    )
    ins = e.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + 1000000000).alias("event_id"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("I").alias("op"),
        F.col("event_id").cast("long").alias("new_user_id"),
    )
    changelog = upd.unionByName(dele).unionByName(ins)
    wk = Window.partitionBy("event_id").orderBy(
        F.col("seq").desc(), F.expr(_CDC_OPRANK_SQL).desc()
    )
    winner = (
        changelog.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    b = base.select(
        F.col("event_id").alias("b_id"), F.col("user_id").alias("b_uid")
    )
    w = winner.select(
        F.col("event_id").alias("w_id"), "seq", "op", "new_user_id"
    )
    return (
        b.join(w, b.b_id == w.w_id, "full_outer")
        .select(
            F.coalesce("b_id", "w_id").alias("event_id"),
            F.when(F.col("w_id").isNull(), F.lit("kept"))
            .when(F.col("op") == "D", F.lit("deleted"))
            .when(F.col("b_id").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("action"),
            (F.coalesce(F.col("op"), F.lit("")) != "D").alias("is_present"),
            F.when(F.col("w_id").isNull(), F.col("b_uid"))
            .when(F.col("op") == "D", F.lit(None).cast("long"))
            .otherwise(F.col("new_user_id"))
            .alias("user_id_final"),
        )
        .repartition(1).sortWithinPartitions("event_id")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (per-term posting traversal, exact-rational scoring)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")  # fixed literal query
_BM25_K = 10

# BM25's tf saturation with k1=6/5, b=3/4, cleared of every division:
#   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))   with avgdl = A/N
# = 22·tf·A / (10·A·tf + 3·A + 9·dl·N)         (exact integers)
_BM25_NUM = "22 * tf * A"
_BM25_DEN = "10 * A * tf + 3 * A + 9 * dl * N"


@_q(
    "docs_bm25_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dls AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM t GROUP BY doc_id),
    corp AS (SELECT CAST(SUM(dl) AS BIGINT) AS A,
                    CAST(COUNT(*) AS BIGINT) AS N FROM dls),
    q(term) AS (VALUES {', '.join(f"('{t}')" for t in _BM25_TERMS)}),
    tfq AS (SELECT q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t JOIN q ON t.token = q.term GROUP BY q.term, t.doc_id),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tfq GROUP BY term),
    sc AS (SELECT tfq.term, tfq.doc_id, tfq.tf, dls.dl, dfq.df,
                  CAST({_BM25_NUM} AS DOUBLE)
                    / CAST({_BM25_DEN} AS DOUBLE) AS s
           FROM tfq JOIN dls USING (doc_id) JOIN dfq USING (term), corp),
    r AS (SELECT term, doc_id, tf, dl, df, s,
                 ROW_NUMBER() OVER (PARTITION BY term
                                    ORDER BY s DESC, doc_id ASC) AS rk
          FROM sc)
    SELECT term, doc_id, tf, dl, df, ROUND(s, 3) AS score_r3, rk
    FROM r WHERE rk <= {_BM25_K} ORDER BY term, rk
    """,
)
def docs_bm25_topk(spark, sf):
    """BM25 ranked retrieval, top-{_BM25_K} documents per query term
    (k1=1.2, b=0.75) — the posting-list traversal at the heart of sparse
    retrieval (and of BM25-filtered pretraining-corpus curation).

    Exactness discipline: per-term BM25 order does not depend on idf (a
    positive per-term constant), and the tf-saturation term is a RATIO OF
    EXACT INTEGERS once cleared of divisions — num=22·tf·A,
    den=10·A·tf+3·A+9·dl·N with A=Σdl, N=#docs — so the ranking key is one
    IEEE division of exact int64s (correctly rounded, bit-identical across
    engines; both stay far under 2^53 at catalog scales), never an
    engine-divergent ln().  The df column carries what a cross-term sum
    would need; the ln-based idf weighting itself is excluded from the
    compared output by the gate's exact-output rule (same reasoning as
    ``docs_unigram_lm_rarity``).

    Scale shape: one token explode into a (term-filtered!) partial-agg
    groupBy — the query terms prune BEFORE the shuffle, so the wide path
    carries only posting rows for the query's terms; doc lengths are a
    second partial agg joined back doc-keyed; the corpus aggregate (A, N)
    is a 1-row broadcast cross join; the top-k window partitions by term
    (|terms| partitions of posting-list size — at 10^10 docs the rank runs
    per term-shard exactly like the frontier's per-bucket claim windows)."""
    d = load(spark, sf, "documents")
    t = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    dls = t.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    # corpus scalars (A, N) are driver-collected bounded constants and
    # enter the plan as literals — one tiny agg job, no 1-row cross join
    # (which would plan as the BNLJ the catalog-wide plan guard forbids);
    # same discipline as emb_ivf_ann_topk's centroid collect
    arow = dls.agg(
        F.sum("dl").cast("long").alias("A"),
        F.count(F.lit(1)).cast("long").alias("N"),
    ).head()
    A, N = int(arow["A"]), int(arow["N"])
    tfq = (
        t.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy(F.col("token").alias("term"), "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    sc = (
        tfq.join(dls, "doc_id")
        .join(F.broadcast(dfq), "term")
        .withColumn("A", F.lit(A).cast("long"))
        .withColumn("N", F.lit(N).cast("long"))
        .withColumn(
            "s",
            F.expr(f"CAST({_BM25_NUM} AS DOUBLE) / CAST({_BM25_DEN} AS DOUBLE)"),
        )
        .drop("A", "N")
    )
    w = Window.partitionBy("term").orderBy(F.col("s").desc(), F.col("doc_id").asc())
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
        .select(
            "term", "doc_id", "tf", "dl", "df",
            F.round("s", 3).alias("score_r3"), "rk",
        )
        .repartition(1).sortWithinPartitions("term", "rk")
    )
