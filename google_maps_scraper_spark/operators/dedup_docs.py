"""Document deduplication for training-data pipelines.

Scale-first design notes:
  * shingling, per-seed min-hashing, and SimHash bit aggregation all run as
    JVM-side higher-order functions (``transform``/``aggregate`` over token
    arrays) — no Python UDFs, no shuffle until the band/bucket join;
  * LSH banding turns the O(N²) pair problem into a groupBy on
    (band_id, band_key) — the only shuffle, keyed to spread uniformly;
  * exact Jaccard verification happens only on banded candidate pairs;
  * SimHash hashes each token ONCE and folds all 64 bit-votes in a single
    pass (the round-1 formulation re-hashed every token 64×).

Hash choice: the registered catalog queries hash with md5 — the one strong
hash Spark and DuckDB share — so the driver's oracle can recompute
signatures bit-identically (round 1 used xxhash64 and had no oracle for
these).  xxhash64 remains available via ``hash_fn="xxhash64"`` as the
cheaper production default; the algorithms are hash-agnostic.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analytics import load

__all__ = ["QUERIES", "ORACLES", "minhash_signatures", "simhash", "shingle_tokens"]

QUERIES = {}
ORACLES = {}

NUM_PERM = 32
BANDS = 8
ROWS_PER_BAND = NUM_PERM // BANDS

_HEX = "0123456789abcdef"
_MERSENNE31 = 2147483647  # prime modulus for the (a·h+b) mod P permutations


def _perm_coeffs(num_perm: int = NUM_PERM, p: int = _MERSENNE31) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) coefficients from md5("minhash:k") — public
    recipe shared as literals by the Spark plan and the DuckDB oracle.
    The base hash is reduced mod P first, so a_k·h + b_k stays under 2^62
    (h, a_k < 2^31) — overflow-safe in both engines' signed 64-bit ints."""
    out = []
    for k in range(num_perm):
        d = hashlib.md5(f"minhash:{k}".encode()).hexdigest()
        out.append((int(d[:8], 16) % (p - 1) + 1, int(d[8:16], 16) % p))
    return out


def shingle_tokens(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add ``shingles``: distinct word n-grams of the lowercased text (all
    JVM-side: split → transform(sequence) → array_distinct)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return df.withColumn("_toks", toks).withColumn(
        "shingles",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(size(_toks) - {n}, 0)),"
                f" i -> concat_ws(' ', slice(_toks, i + 1, {n})))"
            )
        ),
    ).drop("_toks")


def minhash_signatures(
    df: DataFrame, num_perm: int = NUM_PERM, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Add ``sig``: per-seed minimum shingle hashes.  One pass, no explode:
    for each seed k, min over hash(shingle, k).

    hash_fn="xxhash64" → per-seed xxhash64 (cheapest, JVM-only);
    hash_fn="md5"      → classic permutation MinHash: ONE md5 per shingle
    parsed to a 32-bit base, then h_k = (a_k·base + b_k) mod P with literal
    (a_k, b_k) — integer arithmetic both engines reproduce bit-identically
    (and ~num_perm× fewer hash evaluations than hashing per seed)."""
    if hash_fn == "xxhash64":
        return df.withColumn(
            "sig",
            F.expr(
                f"transform(sequence(0, {num_perm - 1}),"
                " k -> array_min(transform(shingles, s -> xxhash64(s, k))))"
            ),
        )
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    coeffs = _perm_coeffs(num_perm)
    a_lit = "array(" + ", ".join(f"{a}L" for a, _ in coeffs) + ")"
    b_lit = "array(" + ", ".join(f"{b}L" for _, b in coeffs) + ")"
    # Shingle-major fold: acc holds the running minimum per permutation.
    # The singleton-array inner aggregate binds the shingle's base hash to a
    # lambda variable so it is computed ONCE, not once per permutation
    # (projection collapse would otherwise inline and re-evaluate the md5).
    return df.withColumn(
        "sig",
        F.expr(
            f"aggregate(shingles,"
            f"  array_repeat(cast({_MERSENNE31} as bigint), {num_perm}),"
            "  (acc, s) -> aggregate("
            "    array(cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
            f"          % {_MERSENNE31}),"
            "    acc,"
            "    (a, h) -> zip_with(a,"
            f"      transform(sequence(0, {num_perm - 1}), k ->"
            f"        (element_at({a_lit}, k + 1) * h"
            f"         + element_at({b_lit}, k + 1)) % {_MERSENNE31}),"
            "      (m, v) -> least(m, v))))"
        ),
    )


def simhash(df: DataFrame, text_col: str = "text", hash_fn: str = "xxhash64") -> DataFrame:
    """Add ``simhash``: 64-bit signature; bit b is the sign of the sum of
    ±1 votes from each distinct token's hash bit b.

    Single pass over tokens: each token is hashed ONCE and its 64 votes are
    folded into an array of counters (``aggregate`` + ``zip_with``), then the
    counters collapse to the final bigint — versus the naive per-bit
    formulation that recomputes the token hash 64× (cut docs_simhash from
    3.9 s to sub-second at sf0.1; values are identical, locked by
    tests/test_dedup_similarity.py::test_simhash_one_pass_equals_naive).

    hash_fn="md5" hashes each token once, parses the 64-bit digest prefix to
    a bigint (two conv() halves, bit-or'd), and takes vote bit b from hex
    nibble b>>2 / bit b&3 — the formulation the DuckDB oracle mirrors."""
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    if hash_fn == "xxhash64":
        hashes = "transform(_toks, t -> xxhash64(t))"
        vote = "if((shiftright(h, b) & 1) = 1, 1, -1)"
    elif hash_fn == "md5":
        # md5 once per token (nested transform), then pure bit arithmetic:
        # h64 = big-endian 64-bit prefix; oracle bit b = bit (b%4) of hex
        # nibble (b div 4) = bit (60 - 4*(b div 4) + b%4) of h64.
        hashes = (
            "transform(transform(_toks, t -> md5(t)), d ->"
            " shiftleft(cast(conv(substring(d, 1, 8), 16, 10) as bigint), 32)"
            " | cast(conv(substring(d, 9, 8), 16, 10) as bigint))"
        )
        vote = (
            "if((shiftright(h, 60 - 4 * (b div 4) + (b % 4)) & 1) = 1, 1, -1)"
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return df.withColumn("_toks", toks).withColumn(
        "simhash",
        F.expr(
            "aggregate("
            "  zip_with("
            f"    aggregate({hashes},"
            "      array_repeat(0, 64),"
            "      (acc, h) -> zip_with(acc,"
            f"        transform(sequence(0, 63), b -> {vote}),"
            "        (a, v) -> a + v)),"
            "    sequence(0, 63),"
            "    (c, b) -> if(c > 0, shiftleft(cast(1 as bigint), b),"
            "                 cast(0 as bigint))),"
            "  cast(0 as bigint), (acc, v) -> acc + v)"
        ),
    ).drop("_toks")


def simhash_vectorized(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-batched SimHash, value-identical to ``simhash(hash_fn="md5")``
    (locked by tests): hashlib.md5 once per distinct token, all 64 bit votes
    as one numpy broadcast.  ~8× the interpreted higher-order-function fold
    at sf0.1 — Spark's HOFs run outside whole-stage codegen, so for
    per-token× per-bit arithmetic the vectorized UDF IS the fast path."""

    @F.pandas_udf("long")
    def _simhash(text: pd.Series) -> pd.Series:
        import hashlib
        import re

        import numpy as np

        b = np.arange(64)
        shifts = (60 - 4 * (b // 4) + (b % 4)).astype(np.uint64)
        pow2 = (np.uint64(1) << b.astype(np.uint64))
        out: list[int | None] = [None] * len(text)
        # ASCII-only \s+, exactly Java's regex default (round-2 ADVICE: bare
        # str.split() splits on Unicode whitespace and drops leading/trailing
        # empty tokens, diverging from the SQL formulation on dirty text)
        ws = re.compile(r"\s+", re.ASCII)
        for i, t in enumerate(text):
            if t is None:
                continue  # SQL: trim(NULL) → NULL tokens → NULL simhash
            # ≙ array_distinct(split(lower(trim(text)), '\s+')): SQL trim
            # strips ASCII spaces ONLY (not \t/\n/NBSP), and Java split keeps
            # the leading/trailing empty tokens its \s+ boundaries produce
            toks = dict.fromkeys(ws.split(t.strip(" ").lower()))
            hs = np.frombuffer(
                b"".join(hashlib.md5(tok.encode()).digest()[:8] for tok in toks),
                dtype=">u8",
            ).astype(np.uint64)
            bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = int((pow2[votes > 0]).sum(dtype=np.uint64).astype(np.int64))
        # nullable Int64, NOT a bare list: pd.Series([..., None]) coerces to
        # float64 and silently rounds away the low ~10 bits of 63-bit hashes
        return pd.Series(out, dtype="Int64")

    return df.withColumn("simhash", _simhash(text_col))


def minhash_sig_vectorized(df: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """Arrow-batched permutation MinHash over a prepared ``shingles`` column,
    value-identical to ``minhash_signatures(hash_fn="md5")``: one md5 per
    shingle → base mod P, then the (a_k·h+b_k) mod P minima as one numpy
    broadcast per row."""
    import numpy as np

    coeffs = _perm_coeffs(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    p = _MERSENNE31

    @F.pandas_udf("array<long>")
    def _sig(shingles: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        out = []
        for sh in shingles:
            if len(sh) == 0:
                out.append(np.full(num_perm, p, dtype=np.int64))
                continue
            bases = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") % p
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            out.append(((A * bases[None, :] + B) % p).min(axis=1))
        return pd.Series(out)

    return df.withColumn("sig", _sig("shingles"))


def _register(name, sql=None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


_A_SQL = "[" + ", ".join(str(a) for a, _ in _perm_coeffs()) + "]"
_B_SQL = "[" + ", ".join(str(b) for _, b in _perm_coeffs()) + "]"

# Shared DuckDB CTEs: tokenization + shingling identical to shingle_tokens
# (parity proven by the long-green docs_ngram_jaccard_topk oracle).
_SHINGLES_CTE = """
    tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(words) - 2, 1))
             ]) AS shingles
      FROM tok
    )"""


@_register(
    "docs_minhash_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    bases AS MATERIALIZED (
      SELECT doc_id, shingles,
             list_transform(shingles, s ->
               CAST(list_sum(list_transform(range(0, 8), i ->
                 CAST(instr('{_HEX}', substring(md5(s), i + 1, 1)) - 1
                      AS BIGINT) << (4 * (7 - i)))) AS BIGINT)
               % {_MERSENNE31}) AS bs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, shingles,
             list_transform(range(0, {NUM_PERM}), k ->
               list_aggregate(
                 list_transform(bs, h ->
                   (({_A_SQL})[k + 1] * h + ({_B_SQL})[k + 1]) % {_MERSENNE31}),
                 'min')) AS sig
      FROM bases
    ),
    bands AS (
      SELECT doc_id, b AS band_id,
             array_to_string(
               list_transform(
                 sig[b*{ROWS_PER_BAND}+1 : b*{ROWS_PER_BAND}+{ROWS_PER_BAND}],
                 x -> CAST(x AS VARCHAR)), '|') AS band_key
      FROM sig, generate_series(0, {BANDS - 1}) AS g(b)
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, jaccard_pct FROM (
      SELECT p.doc_a, p.doc_b,
             ROUND(100.0 * len(list_intersect(a.shingles, b.shingles))
                   / len(list_distinct(list_concat(a.shingles, b.shingles))), 1)
               AS jaccard_pct
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b
    ) WHERE jaccard_pct >= 20.0
    ORDER BY doc_a, doc_b
    """,
)
def docs_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → minhash → band →
    bucket-join → exact-Jaccard verify.  Returns (doc_a, doc_b,
    jaccard_pct) for banded pairs with Jaccard ≥ 0.2, self-free.
    md5 signatures so the DuckDB oracle reproduces the banding exactly;
    computed Arrow-vectorized (equal to the JVM HOF variant by test)."""
    from .analytics import load_fanout

    # fan out the single-split scan: the shingling HOF and the Arrow
    # signature UDF otherwise run on one core (guide §4.1: the boundary
    # cost is per-batch — parallelism comes from partitioning)
    d = minhash_sig_vectorized(shingle_tokens(load_fanout(spark, sf, "documents")))
    d = d.select("doc_id", "shingles", "sig").localCheckpoint(eager=True)

    # posexplode_outer: sig is checkpoint-materialized non-null with a
    # fixed BANDS-length key array, so the outer variant is identical and
    # skips the generator-cloning InferFiltersFromGenerate rule (r6)
    bands = d.select(
        "doc_id",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, {BANDS - 1}),"
                f" b -> concat_ws('|', transform(slice(sig, b * {ROWS_PER_BAND} + 1,"
                f" {ROWS_PER_BAND}), x -> cast(x as string))))"
            )
        ).alias("band_id", "band_key"),
    )
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard_pct",
            F.round(
                F.lit(100.0)
                * F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                1,
            ),
        )
        .filter(F.col("jaccard_pct") >= 20.0)
        .select("doc_a", "doc_b", "jaccard_pct")
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )
    return verified


@_register(
    "docs_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ts
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN
                   (((instr('{_HEX}', substring(md5(t), 1 + (b // 4), 1)) - 1)
                     >> (b % 4)) & 1) = 1
                 THEN 1 ELSE -1 END) AS v
      FROM tok, generate_series(0, 63) AS g(b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN
                  CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                       ELSE (CAST(1 AS BIGINT) << b) END
                ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id ORDER BY doc_id
    """,
)
def docs_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 64-bit SimHash (near-dup fingerprint; bucketable by
    16-bit chunks for Hamming-distance banding at scale).  md5 bit votes so
    the DuckDB oracle recomputes the signature bit-identically; computed
    Arrow-vectorized (equal to the JVM HOF variant by test)."""
    from .analytics import load_fanout, ordered

    # fan-out: parallelize the Arrow UDF across the session's cores; the
    # single-partition ordered() replaces the rangepartitioning orderBy
    # whose bounds-sampling job re-ran the UDF over the whole input
    return ordered(
        simhash_vectorized(load_fanout(spark, sf, "documents")).select(
            "doc_id", "simhash"
        ),
        "doc_id",
    )


@_register(
    "docs_ngram_jaccard_topk",
    """
    WITH sh AS (
      SELECT doc_id, DISTINCT_SHINGLE AS shingle FROM (
        SELECT doc_id,
               unnest(list_distinct([
                 array_to_string(words[i:i+2], ' ')
                 FOR i IN generate_series(1, greatest(len(words) - 2, 1))
               ])) AS DISTINCT_SHINGLE
        FROM (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
          FROM documents WHERE doc_id < 100
        )
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_both
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(100.0 * n_both / (sa.n + sb.n - n_both), 1) AS jaccard_pct
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard_pct DESC, doc_a ASC, doc_b ASC
    LIMIT 15
    """,
)
def docs_ngram_jaccard_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard, top-15 most similar pairs among doc_id<100
    (bounded for the oracle's O(N²); the MinHash path is the scale route)."""
    d = shingle_tokens(load(spark, sf, "documents").filter(F.col("doc_id") < 100))
    sh = d.select("doc_id", F.explode("shingles").alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("both"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                100.0 * F.col("both") / (F.col("na") + F.col("nb") - F.col("both")), 1
            ).alias("jaccard_pct"),
        )
        .orderBy(F.col("jaccard_pct").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(15)
    )


# =============================================================================
# Winnowing fingerprints (rolling-hash document fingerprinting)
# =============================================================================

WINNOW_K = 5  # k-gram length (chars, over whitespace-stripped lowercased text)
WINNOW_W = 8  # winnowing window (consecutive k-gram hashes per window)
_POS_BITS = 20  # pos field width in the packed (hash, pos) key


def winnow_wmins(df: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """Per-document winnowing selections (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003):
    normalize (lowercase, strip whitespace), hash every k-gram (md5 prefix →
    32-bit int, the catalog's engine-portable hash), and for every window of
    w consecutive hashes select the minimum, breaking ties to the RIGHTMOST
    position (the paper's robust-winnowing rule).  Returns (doc_id, wmins)
    where wmins[j] is window j's packed selection.

    The rightmost-min rule is one ``array_min`` per window by packing
    (hash, pos) into a single bigint — ``hash·2^20 + (2^20-1-pos)`` — so the
    minimum picks the smallest hash and, among equal hashes, the largest
    position.  The whole selection runs INSIDE the row with higher-order
    functions (k-gram hash array → per-window-start slice/array_min), so
    the operator is shuffle-free: no explode of per-gram rows, no doc_id
    window sort — the scan stage emits one selections-array per doc and the
    caller's (doc_id, fp) partial agg is the only exchange.  The singleton
    ``array(...)`` binds the hash array to a lambda variable so projection
    collapse cannot inline it and re-hash every gram once per window (same
    guard as ``minhash_signatures``).  Per-row work is O(n·w) with w=8 —
    linear in doc length for the fixed window.  The 20-bit pos field bounds
    docs at 2^20-1 normalized chars — longer corpora chunk upstream
    (documented cap, not a silent one: the pack would overflow loudly in
    ANSI mode)."""
    lim = (1 << _POS_BITS) - 1
    norm = F.regexp_replace(F.lower("text"), r"\s+", "")
    base = df.select("doc_id", norm.alias("norm")).filter(F.length("norm") >= k)
    keys = (
        f"transform(sequence(1, length(norm) - {k} + 1), i -> "
        f"cast(conv(substring(md5(substring(norm, i, {k})), 1, 8), 16, 10)"
        f" as bigint) * {1 << _POS_BITS} + ({lim} - (i - 1)))"
    )
    wmins = (
        f"flatten(transform(array({keys}), ks -> "
        f"transform(sequence(0, greatest(size(ks) - {w}, 0)), "
        f"j -> array_min(slice(ks, j + 1, {w})))))"
    )
    return base.select("doc_id", F.expr(wmins).alias("wmins"))


_WINNOW_SQL = f"""
    WITH docs AS (
      SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS norm
      FROM documents
    ),
    gl AS (
      SELECT doc_id, norm, len(norm) - {WINNOW_K} + 1 AS n_grams
      FROM docs WHERE len(norm) >= {WINNOW_K}
    ),
    g AS (
      SELECT doc_id, n_grams, t.pos AS pos,
             substring(norm, t.pos + 1, {WINNOW_K}) AS gram
      FROM gl, unnest(range(0, n_grams)) AS t(pos)
    ),
    h AS (
      SELECT doc_id, n_grams, pos,
        CAST(list_sum(list_transform(range(0, 8), i ->
           CAST(instr('{_HEX}', substring(md5(gram), i + 1, 1)) - 1 AS BIGINT)
             << (4 * (7 - i)))) AS BIGINT) * {1 << _POS_BITS}
          + ({(1 << _POS_BITS) - 1} - pos) AS key
      FROM g
    ),
    wm AS (
      SELECT doc_id, n_grams, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
               AS wmin
      FROM h
    )
    SELECT doc_id, fp, MIN(sel_pos) AS first_pos FROM (
      SELECT doc_id, wmin >> {_POS_BITS} AS fp,
             {(1 << _POS_BITS) - 1} - (wmin & {(1 << _POS_BITS) - 1}) AS sel_pos
      FROM wm WHERE pos <= greatest(n_grams - {WINNOW_W}, 0)
    ) GROUP BY doc_id, fp
    ORDER BY doc_id, fp
    """


def winnow_fingerprints_vectorized(
    df: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Arrow-batched winnowing fingerprints, value-identical to the
    ``winnow_wmins`` HOF formulation + (doc_id, fp) min-pos aggregation
    (locked by tests/test_dedup_similarity.py): per document, hash every
    k-gram (md5 prefix), take the rightmost-min of every w-window via one
    numpy sliding-window min, and dedupe selections to (fp, first_pos)
    INSIDE the row.  Spark's higher-order functions run interpreted
    (outside whole-stage codegen), so the per-gram md5 + per-window
    slice/array_min chain was the catalog's single hottest expression;
    hashlib + numpy over Arrow batches is the fast path (guide §4.2), and
    moving the per-doc dedup into the UDF removes the (doc_id, fp)
    exchange entirely — doc_ids never span batches' rows, so the group is
    complete in-row.  Emits (doc_id, fp, first_pos), unordered."""
    import pyarrow as pa

    lim = (1 << _POS_BITS) - 1
    pos_bits = _POS_BITS

    def gen(batches):
        import re

        import numpy as np

        md5 = hashlib.md5
        ws = re.compile(r"\s+", re.ASCII)
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id: list[int] = []
            out_fp: list[int] = []
            out_pos: list[int] = []
            for did, txt in zip(ids, texts):
                if txt is None:
                    continue
                norm = ws.sub("", txt.lower())
                n = len(norm) - k + 1
                if n < 1:
                    continue
                keys = np.fromiter(
                    (
                        int.from_bytes(md5(norm[i : i + k].encode()).digest()[:4], "big")
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                keys = keys * (1 << pos_bits) + (lim - np.arange(n, dtype=np.int64))
                if n >= w:
                    wmins = np.lib.stride_tricks.sliding_window_view(keys, w).min(axis=1)
                else:
                    wmins = keys.min(keepdims=True)
                fps = wmins >> pos_bits
                pos = lim - (wmins & lim)
                order = np.lexsort((pos, fps))
                sfp, spos = fps[order], pos[order]
                first = np.ones(len(sfp), dtype=bool)
                first[1:] = sfp[1:] != sfp[:-1]
                ufp = sfp[first]
                out_id.extend([did] * len(ufp))
                out_fp.extend(ufp.tolist())
                out_pos.extend(spos[first].tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_fp, pa.int64()),
                    pa.array(out_pos, pa.int64()),
                ],
                ["doc_id", "fp", "first_pos"],
            )

    return df.select("doc_id", "text").mapInArrow(
        gen, "doc_id long, fp long, first_pos long"
    )


@_register("docs_winnow_fingerprint", _WINNOW_SQL)
def docs_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints: the distinct selected k-gram hashes
    per doc plus the first position each was selected at — the MOSS-style
    local fingerprint set whose guarantee is that any shared substring of
    length ≥ k + w - 1 between two docs yields at least one shared
    fingerprint.  Complements ``docs_fingerprint`` (whole-doc hash — exact
    dup only) and the MinHash/SimHash queries (set-similarity estimates):
    winnowing is the positional/rolling-hash family of the SURVEY's
    fingerprinting row, the standard building block for substring-level
    plagiarism/copy detection over a corpus.

    r6 shape: the selection AND the per-doc (fp, first_pos) dedup run
    vectorized inside the scan stage (``winnow_fingerprints_vectorized``
    — hashlib/numpy over Arrow batches; the interpreted HOF chain this
    replaces is kept as ``winnow_wmins`` and pinned value-equal by test),
    so the only exchange left is the single-partition gather of the final
    ≤25k-row result (``ordered``).  At corpus scale the gather becomes the
    natural-key (doc_id, fp) exchange again — the in-row dedup already
    guarantees one row per key, so it stays skew-free either way."""
    from .analytics import load_fanout, ordered

    out = winnow_fingerprints_vectorized(load_fanout(spark, sf, "documents"))
    return ordered(out, "doc_id", "fp")


# =============================================================================
# Duplicate-cluster connected components (round-4 second wave)
# =============================================================================

_CC_LINE_TOKS = 10      # fixed line width (matches analytics.doc_lines)
_CC_MAX_ITERS = 25      # propagation bound; loop exits on the sum fixpoint

_CC_SQL = f"""
    WITH RECURSIVE
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    idx AS (SELECT doc_id, ts,
                   unnest(range(CAST(ceil(len(ts) / {_CC_LINE_TOKS}.0) AS BIGINT)))
                     AS ln
            FROM tok),
    lines AS (SELECT DISTINCT doc_id,
                     array_to_string(
                       ts[ln * {_CC_LINE_TOKS} + 1 :
                          ln * {_CC_LINE_TOKS} + {_CC_LINE_TOKS}], ' ')
                       AS line_text
              FROM idx),
    lmin AS (SELECT line_text, MIN(doc_id) AS root FROM lines
             GROUP BY line_text),
    edges AS (SELECT DISTINCT l.doc_id AS a, m.root AS b
              FROM lines l JOIN lmin m USING (line_text)
              WHERE l.doc_id <> m.root),
    sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
    reach(doc_id, lbl) AS (
      SELECT doc_id, doc_id AS lbl FROM documents
      UNION
      SELECT s.a AS doc_id, r.lbl FROM sym s JOIN reach r ON s.b = r.doc_id
    )
    SELECT doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""


@_register("dedup_cluster_components", _CC_SQL)
def dedup_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster connected components: documents sharing any exact
    10-token line are edges; each document gets its component's minimum
    doc_id as ``cluster_id`` (the canonical survivor a dedup stage keeps —
    near-dup dedup is transitive ONLY through components; pairwise keep-min
    over-deletes chains).

    Scale shape, per the MapReduce-CC literature (Kiveris et al., "CC in
    MapReduce and Spark"-family min-label propagation):

    - **Star edges, not cliques**: a line shared by k documents contributes
      k-1 edges to the line's minimum doc (same components as the k²/2
      clique — connectivity through the shared root), so one boilerplate
      line in 10^6 docs costs 10^6 edges, not 10^12.  The edge build is the
      same single groupBy census the line-dedup stage already pays.
    - **Min-label propagation to fixpoint**: labels start as doc_id; each
      iteration takes the min over neighbors (one claim-sized join + groupBy
      per iteration, lineage cut by localCheckpoint).  Convergence is
      certified by the label SUM — monotonically decreasing, unchanged iff
      no label moved — observed on the iteration's own materialization job,
      not a second action.  Iterations are bounded by the component
      diameter, which star-edges keep near-constant for boilerplate
      clusters; 25 caps pathological chains.

    The DuckDB oracle replays the same star-edge graph through a recursive
    CTE (transitive closure), so the full clustering — not just the edge
    set — is value-checked."""
    from pyspark.sql import Observation

    from .analytics import doc_lines

    d = load(spark, sf, "documents")
    lines = doc_lines(d).select("doc_id", "line_text").distinct()
    lmin = lines.groupBy("line_text").agg(F.min("doc_id").alias("root"))
    edges = (
        lines.join(lmin, "line_text")
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("doc_id").alias("a"), F.col("root").alias("b"))
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)  # reused every iteration — evaluate once

    def step(lbls: DataFrame) -> DataFrame:
        nbr = (
            sym.join(lbls, sym.a == lbls.doc_id)
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        return lbls.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )

    labels = d.select("doc_id", F.col("doc_id").alias("lbl"))
    prev_sum = None
    # TWO propagation steps per materialization (r6): the checkpoint +
    # observation job is the per-iteration fixed cost, and extra min-label
    # steps are idempotent at the fixpoint, so batching halves the job
    # count without changing the result.  The label sum is strictly
    # decreasing until the fixpoint, so sum-unchanged across a DOUBLE step
    # still certifies convergence exactly.
    for _ in range(_CC_MAX_ITERS):
        obs = Observation()
        labels = (
            step(step(labels))
            .observe(obs, F.sum("lbl").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur = obs.get["s"]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels.select(
        "doc_id", F.col("lbl").alias("cluster_id")
    ).orderBy("doc_id")


@_register(
    "docs_dedup_keep_canonical",
    f"""
    WITH cc AS ({_CC_SQL})
    SELECT c.doc_id AS doc_id, c.cluster_id AS cluster_id,
           CAST(n.n AS BIGINT) AS n_cluster,
           c.doc_id = c.cluster_id AS is_canonical
    FROM cc c JOIN (SELECT cluster_id, COUNT(*) AS n FROM cc
                    GROUP BY cluster_id) n USING (cluster_id)
    ORDER BY doc_id
    """,
)
def docs_dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup stage's actual OUTPUT: each document labeled with its
    duplicate cluster, the cluster's size, and whether it is the canonical
    survivor (the component's minimum doc_id — what the corpus ships;
    everything else is dropped or downweighted).  Composes the
    connected-components labeling with the survivor rule, end to end —
    identify → cluster → select is the full RefinedWeb/CCNet dedup stage,
    not just its middle step.

    Scale shape: everything downstream of the (already O(edges)) labeling
    is one vocabulary-of-clusters-sized groupBy plus a key join; the
    canonical test is pure arithmetic (label == own id) because min-label
    propagation makes the canonical doc its own label — no second pass, no
    window."""
    labels = dedup_cluster_components(spark, sf).select(
        "doc_id", "cluster_id"
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_cluster")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_cluster",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- incremental (snapshot-over-snapshot) Bloom dedup -----------------------

_IBLOOM_BITS = 1024
_IBLOOM_K = 3
_IBLOOM_WORD = 32


def _ibloom_oracle() -> str:
    fold = (
        "CAST(list_sum(list_transform(range(0, 8), i -> "
        "CAST(instr('0123456789abcdef', "
        "substring(md5('ibloom-v1:' || j.j || ':' || text), i + 1, 1)) - 1 "
        "AS BIGINT) << (4 * (7 - i)))) AS BIGINT)"
    )
    ks = ", ".join(f"({j})" for j in range(_IBLOOM_K))
    return f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    old AS (SELECT doc_id, text FROM documents CROSS JOIN n
            WHERE doc_id * 2 < n.n),
    new AS (SELECT doc_id, text FROM documents CROSS JOIN n
            WHERE doc_id * 2 >= n.n),
    ob AS (
      SELECT h // {_IBLOOM_WORD} AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT)
                         << CAST(h % {_IBLOOM_WORD} AS INT)) AS BIGINT) AS bits
      FROM (SELECT {fold} % {_IBLOOM_BITS} AS h
            FROM old CROSS JOIN (VALUES {ks}) AS j(j))
      GROUP BY 1),
    probe AS (
      SELECT doc_id, {fold} % {_IBLOOM_BITS} AS h
      FROM new CROSS JOIN (VALUES {ks}) AS j(j)),
    hit AS (
      SELECT p.doc_id,
             bool_and(COALESCE(ob.bits
                        & (CAST(1 AS BIGINT)
                           << CAST(p.h % {_IBLOOM_WORD} AS INT)), 0) <> 0)
               AS bloom_hit
      FROM probe p LEFT JOIN ob ON ob.word_idx = p.h // {_IBLOOM_WORD}
      GROUP BY p.doc_id),
    ex AS (
      SELECT DISTINCT nw.doc_id
      FROM new nw JOIN old o ON o.text = nw.text)
    SELECT h.doc_id AS doc_id, h.bloom_hit AS bloom_hit,
           ex.doc_id IS NOT NULL AS exact_dup,
           (h.bloom_hit AND ex.doc_id IS NULL) AS false_positive
    FROM hit h LEFT JOIN ex ON ex.doc_id = h.doc_id
    ORDER BY doc_id
    """


@_register("docs_incremental_bloom_dedup", _ibloom_oracle())
def docs_incremental_bloom_dedup(spark, sf):
    """Incremental (daily-ingest) dedup via a prior-snapshot Bloom filter —
    the shape a 100-TB pipeline actually runs: yesterday's corpus is too
    big to join against raw, so its content fingerprints live in a Bloom
    sketch (built once, shipped to every executor) and only the PROBE-HIT
    slice of today's batch pays the exact verification join.  The corpus
    splits deterministically (doc_id·2 < N as the prior snapshot, N a
    scalar subquery); every new document reports its bloom verdict, its
    EXACT verdict, and the false-positive flag — surfacing the sketch's
    error rate instead of silently inheriting it (the same
    flagged-fallback discipline as ``emb_lsh_ann_topk``).

    Scale shape: the build is the ``seen_bloom_build`` bounded shuffle
    (≤ m/{_IBLOOM_WORD} rows per partition cross the wire); the probe
    explodes k={_IBLOOM_K} positions per new doc and joins the (tiny,
    broadcast) word table; the exact join — the expensive part — is what
    the Bloom EXISTS to bound, and here it runs over all new docs only so
    the oracle can certify both verdicts independently (production
    filters on bloom_hit first; the plan is identical minus the filter).
    ≙ deduper/hasher.go + plans/crawl.py's broadcast Bloom admission."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    d.createOrReplaceTempView("gms_ibloom_docs")
    spark.sql(
        "SELECT doc_id, text FROM gms_ibloom_docs "
        "WHERE doc_id * 2 < (SELECT COUNT(*) FROM gms_ibloom_docs)"
    ).createOrReplaceTempView("gms_ibloom_old")
    spark.sql(
        "SELECT doc_id, text FROM gms_ibloom_docs "
        "WHERE doc_id * 2 >= (SELECT COUNT(*) FROM gms_ibloom_docs)"
    ).createOrReplaceTempView("gms_ibloom_new")
    pos = lambda j: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"ibloom-v1:{j}:"), F.col("text"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _IBLOOM_BITS
    )
    old = spark.table("gms_ibloom_old")
    new = spark.table("gms_ibloom_new")
    ob = (
        old.select(F.explode(F.array(*[pos(j) for j in range(_IBLOOM_K)])).alias("h"))
        .select(
            F.expr(f"h div {_IBLOOM_WORD}").alias("word_idx"),
            F.expr(f"CAST(h % {_IBLOOM_WORD} AS INT)").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits"))
    )
    probe = new.select(
        "doc_id", F.explode(F.array(*[pos(j) for j in range(_IBLOOM_K)])).alias("h")
    )
    hit = (
        probe.join(
            F.broadcast(ob),
            F.expr(f"h div {_IBLOOM_WORD}") == ob.word_idx,
            "left",
        )
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(
                        f"bits & shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(h % {_IBLOOM_WORD} AS INT))"
                    ),
                    F.lit(0),
                )
                != 0
            ).alias("one_hit"),
        )
        .groupBy("doc_id")
        .agg(F.min("one_hit").alias("bloom_hit"))
    )
    ex = new.join(old.select("text"), "text", "left_semi").select(
        "doc_id", F.lit(True).alias("exact_dup_")
    )
    return (
        hit.join(ex, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("exact_dup_", F.lit(False)).alias("exact_dup"),
            (F.col("bloom_hit") & F.coalesce("exact_dup_", F.lit(False)).eqNullSafe(False)).alias(
                "false_positive"
            ),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- per-source template (boilerplate-shingle) detection ---------------------

_TPL_MIN_DOCS = 2


@_register(
    "docs_source_template_shingles",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(words) - 2, 1))
             ]) AS shingles
      FROM tok
    ),
    ex AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
    sdf AS (SELECT source, s, CAST(COUNT(*) AS BIGINT) AS sdf
            FROM ex GROUP BY 1, 2),
    tpl AS (SELECT source, s FROM sdf WHERE sdf >= {_TPL_MIN_DOCS}),
    pd AS (
      SELECT ex.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(tpl.s) AS BIGINT) AS n_template
      FROM ex LEFT JOIN tpl ON tpl.source = ex.source AND tpl.s = ex.s
      GROUP BY 1)
    SELECT doc_id, n_shingles, n_template,
           CAST(n_template * 1000 // n_shingles AS BIGINT) AS tpl_permille,
           n_template > 0 AS has_template
    FROM pd ORDER BY doc_id
    """,
)
def docs_source_template_shingles(spark: SparkSession, sf: str) -> DataFrame:
    f"""Per-source template-shingle detection — the boilerplate stage that
    runs BY HOST, not corpus-wide (trafilatura/CCNet drop nav bars and
    cookie banners by noticing the same fragment on many pages of one
    site; ``docs_line_dedup`` is the corpus-global cousin).  A 3-gram
    shingle occurring in ≥{_TPL_MIN_DOCS} distinct documents of the SAME
    source is template-suspect; each document reports its distinct-shingle
    count, how many are template, and an integer permille ratio (``div``,
    no float crosses an engine).

    Scale shape: shingling is scan-stage (reuses ``shingle_tokens``, one
    array op, shingles pre-distincted per doc so the census groupBy gets
    one row per (doc, shingle)); the census shuffles on (source, shingle)
    — host-bounded, so the Zipf-head shingle of a mega-host salts no
    worse than the host itself, and the politeness machinery's eTLD+1
    partitioning already handles host skew upstream.  The template set is
    the tiny head of the per-source df distribution; AQE broadcasts it
    back onto the shingle stream, so document text never shuffles at all
    — only (doc_id, shingle-hash) pairs do, and at 100 TB those carry
    xxhash64(shingle) instead of the text (same trick as
    ``docs_minhash_pairs``' banding; the string form here keeps the
    DuckDB oracle exact)."""
    from .analytics import load_fanout

    # fan the single-split scan out so shingling parallelizes; explode_outer
    # instead of explode because InferFiltersFromGenerate clones a plain
    # explode's generator into a size()>0 pre-filter that re-evaluates the
    # whole shingling HOF per row (measured 7x at sf0.1).  The isnotnull
    # pre-filter DROPS NULL-text documents on purpose: the oracle's inner
    # unnest yields no row for them, so they are absent from its output.
    # explode_outer alone would keep each one as a NULL-shingle row; for
    # non-NULL text, shingles is never empty (transform over a >=1-element
    # sequence), so the filter is the only place the two explodes differ.
    d = shingle_tokens(
        load_fanout(spark, sf, "documents").filter(F.col("text").isNotNull())
    )
    # the exploded shingle stream feeds BOTH the census and the per-doc
    # probe: checkpoint it once so shingling isn't recomputed per branch
    # (same pattern as docs_minhash_pairs' signature reuse)
    ex = d.select(
        "doc_id", "source", F.explode_outer("shingles").alias("s")
    ).localCheckpoint(eager=True)
    tpl = (
        ex.groupBy("source", "s")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .filter(F.col("sdf") >= _TPL_MIN_DOCS)
        .select("source", "s", F.lit(True).alias("is_tpl"))
    )
    return (
        ex.join(tpl, ["source", "s"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("is_tpl").cast("long").alias("n_template"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_template",
            F.expr("CAST(n_template * 1000 div n_shingles AS BIGINT)").alias(
                "tpl_permille"
            ),
            (F.col("n_template") > 0).alias("has_template"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- shingle-level novelty vs a prior snapshot -------------------------------


@_register(
    "docs_shingle_novelty",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tok AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(words) - 2, 1))
             ]) AS shingles
      FROM tok),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    old AS (
      SELECT DISTINCT s FROM ex CROSS JOIN n WHERE ex.doc_id * 2 < n.n),
    new AS (SELECT ex.* FROM ex CROSS JOIN n WHERE ex.doc_id * 2 >= n.n),
    pd AS (
      SELECT new.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(*) FILTER (old.s IS NULL) AS BIGINT) AS n_novel
      FROM new LEFT JOIN old ON old.s = new.s
      GROUP BY 1)
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 1000 // n_shingles AS BIGINT) AS novelty_permille
    FROM pd ORDER BY doc_id
    """,
)
def docs_shingle_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Shingle-level novelty of a new batch against a prior snapshot — the
    content-growth metric behind dedup-aware sampling (how much of today's
    crawl is NEW text, not how many docs are new: a re-crawled page with
    one changed paragraph scores its true marginal contribution).  Split
    is the same deterministic halves as ``docs_incremental_bloom_dedup``
    (old = doc_id·2 < n); each new document reports its distinct 3-gram
    shingles, how many never occur in the old half, and an integer
    permille novelty.

    Scale shape: the old half collapses to a DISTINCT shingle set before
    the join (the census is the small side after dedup — boilerplate-heavy
    web text shrinks orders of magnitude); the LEFT join keys on the
    shingle, so at 10^10 docs it is a shuffle of (doc, shingle-hash)
    pairs against the shingle dictionary — the exact shape the MinHash
    banding join already proved, and in production the string key becomes
    xxhash64 while this catalog form keeps the DuckDB oracle exact."""
    from .analytics import load_fanout

    d = load(spark, sf, "documents")
    n = d.count()  # driver scalar: snapshot split point (parquet-stats cheap)
    # fan-out + explode_outer + isnotnull: same rationale as
    # docs_source_template_shingles (7x generator-clone re-evaluation and a
    # one-core scan otherwise; semantics identical — shingles is NULL iff
    # text is NULL and never empty otherwise)
    sh = shingle_tokens(
        load_fanout(spark, sf, "documents").filter(F.col("text").isNotNull())
    )
    # old-dictionary build and new-batch probe both consume the explode:
    # checkpoint once (docs_minhash_pairs pattern)
    ex = sh.select("doc_id", F.explode_outer("shingles").alias("s")).localCheckpoint(
        eager=True
    )
    old = (
        ex.filter(F.col("doc_id") * 2 < n)
        .select("s")
        .distinct()
        .withColumn("seen_old", F.lit(True))
    )
    new = ex.filter(F.col("doc_id") * 2 >= n)
    return (
        new.join(old, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count(F.when(F.col("seen_old").isNull(), 1))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("CAST(n_novel * 1000 div n_shingles AS BIGINT)").alias(
                "novelty_permille"
            ),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# --- MinHash estimator accuracy eval -----------------------------------------

_MHE_MAX_DOC = 30  # bounded pair set for the O(N²) exact leg


@_register(
    "docs_minhash_jaccard_eval",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents WHERE doc_id < {_MHE_MAX_DOC}
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN generate_series(1, greatest(len(words) - 2, 1))
             ]) AS shingles
      FROM tok
    ),
    bases AS MATERIALIZED (
      SELECT doc_id, shingles,
             list_transform(shingles, s ->
               CAST(list_sum(list_transform(range(0, 8), i ->
                 CAST(instr('{_HEX}', substring(md5(s), i + 1, 1)) - 1
                      AS BIGINT) << (4 * (7 - i)))) AS BIGINT)
               % {_MERSENNE31}) AS bs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, shingles,
             list_transform(range(0, {NUM_PERM}), k ->
               list_aggregate(
                 list_transform(bs, h ->
                   (({_A_SQL})[k + 1] * h + ({_B_SQL})[k + 1]) % {_MERSENNE31}),
                 'min')) AS sig
      FROM bases
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(range(0, {NUM_PERM}),
                                  k -> a.sig[k + 1] = b.sig[k + 1]))
                  AS BIGINT) AS m,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS i,
             CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
                  AS BIGINT) AS u
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(m * 1000 // {NUM_PERM} AS BIGINT) AS est_permille,
           CAST(i * 1000 // u AS BIGINT) AS exact_permille,
           CAST(abs(m * 1000 // {NUM_PERM} - i * 1000 // u) AS BIGINT)
             AS abs_err_permille
    FROM p ORDER BY doc_a, doc_b
    """,
)
def docs_minhash_jaccard_eval(spark: SparkSession, sf: str) -> DataFrame:
    f"""MinHash Jaccard-ESTIMATE accuracy against exact Jaccard — the
    sketch-quality eval for the ``docs_minhash_pairs`` machinery (the
    per-permutation signature-agreement fraction IS the unbiased Jaccard
    estimator; its error here is the expected ~1/√{NUM_PERM} even with no
    near-duplicates in the corpus, which is exactly why it needs
    measuring before anyone trusts a banding threshold).  Bounded to
    doc_id < {_MHE_MAX_DOC} for the O(N²) exact leg — same protocol as
    ``docs_ngram_jaccard_topk``; at scale the eval runs on a sampled pair
    panel while the estimator itself stays linear.

    Scale shape: signatures are the same one-md5-per-shingle literal
    permutations the production path uses; the bounded self-join is the
    eval harness, not the operator (the production candidate generator is
    the banding groupBy).  Everything is integer permille end to end."""
    d = minhash_signatures(
        shingle_tokens(
            load(spark, sf, "documents").filter(F.col("doc_id") < _MHE_MAX_DOC)
        ),
        hash_fn="md5",
    ).select("doc_id", "shingles", "sig")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    # the pair grid is generated by EXPLODE + one equi-join (not a `<`
    # theta-join, which would plan as the BroadcastNestedLoopJoin the plan
    # guard forbids): each left doc fans out to every candidate id, the
    # filter keeps the upper triangle, and the partner attaches by key
    partners = a.select(
        "doc_a",
        "sh_a",
        "sig_a",
        F.explode(F.expr(f"sequence(0, {_MHE_MAX_DOC - 1})")).alias("doc_b"),
    ).filter(F.col("doc_b") > F.col("doc_a"))
    p = partners.join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
        .cast("long")
        .alias("m"),
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
        F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
        .cast("long")
        .alias("u"),
    )
    return (
        p.select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST(m * 1000 div {NUM_PERM} AS BIGINT)").alias(
                "est_permille"
            ),
            F.expr("CAST(i * 1000 div u AS BIGINT)").alias("exact_permille"),
            F.expr(
                f"CAST(abs(m * 1000 div {NUM_PERM} - i * 1000 div u) "
                "AS BIGINT)"
            ).alias("abs_err_permille"),
        )
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )


# --- span-level cross-document duplication ------------------------------------
#
# The suffix-array dedup result (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better") found that EXACT SUBSTRING overlap,
# not whole-document similarity, is where most training-data duplication
# lives.  A distributed suffix array is impractical; the Spark-native
# equivalent is positional k-gram matching: a shared token span of length
# L >= k appears as L-k+1 CONSECUTIVE matching k-grams, so maximal shared
# spans are maximal consecutive-position islands of duplicated k-grams.

_SPAN_K = 3       # token k-gram width (span resolution: spans >= k tokens)
_SPAN_OCC_CAP = 8  # drop k-grams with more global occurrences (boilerplate)
_SPAN_MIN_RUN = 2  # report pairs sharing >= this many consecutive k-grams

# positional k-grams, one per start position (NOT deduplicated - position
# matters); short docs emit one truncated gram at pos 1, same clamping
# convention as shingle_tokens/docs_shingle_novelty
_POS_KG_CTE = r"""
    tok AS (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS words
            FROM documents),
    kg AS (SELECT doc_id, i AS pos,
                  array_to_string(words[i:i+{km1}], ' ') AS g
           FROM tok, LATERAL unnest(
                 generate_series(1, greatest(len(words) - {km1}, 1))) AS u(i))
"""


def _pos_kgrams(d: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """(doc_id, pos, g): the k-gram starting at 1-based token position pos.
    All JVM-side (split -> transform(sequence) -> explode); one row per
    position, so downstream joins see positions, not documents.  A NULL
    text has one position whose gram is NULL, as in the DuckDB oracle, so
    it counts as a position but joins no other document."""
    # explode_outer dodges the generator-cloning InferFiltersFromGenerate
    # rule; the k-gram array is never empty (sequence over >= 1 element), so
    # it yields exactly explode's rows
    return (
        d.withColumn("_toks", F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"transform(sequence(1, greatest(size(_toks) - {k - 1}, 1)),"
                    f" i -> struct(i AS pos, IF(_toks IS NULL, NULL,"
                    f" concat_ws(' ', slice(_toks, i, {k}))) AS g))"
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )


@_register(
    "docs_dup_span_stats",
    """
    WITH
    """
    + _POS_KG_CTE.format(km1=_SPAN_K - 1)
    + """,
    dup AS (SELECT g FROM kg GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    fl AS (SELECT kg.doc_id, kg.pos, dup.g IS NOT NULL AS isd
           FROM kg LEFT JOIN dup USING (g)),
    runs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run
             FROM (SELECT doc_id, pos,
                          pos - ROW_NUMBER() OVER
                            (PARTITION BY doc_id ORDER BY pos) AS grp
                   FROM fl WHERE isd)
             GROUP BY doc_id, grp),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kgrams,
                  CAST(COUNT(*) FILTER (isd) AS BIGINT) AS n_dup_pos
           FROM fl GROUP BY doc_id),
    mr AS (SELECT doc_id, MAX(run) AS mx FROM runs GROUP BY doc_id)
    SELECT pd.doc_id, pd.n_kgrams, pd.n_dup_pos,
           CAST(COALESCE(mr.mx, 0) AS BIGINT) AS max_dup_run,
           CAST(pd.n_dup_pos * 1000 // pd.n_kgrams AS BIGINT) AS dup_permille
    FROM pd LEFT JOIN mr USING (doc_id) ORDER BY doc_id
    """,
)
def docs_dup_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level duplication mask per document: how many k-gram start
    positions are shared verbatim with ANOTHER document, and the longest
    consecutive run of such positions (= longest shared token span, in
    k-grams).  This is the per-document signal behind substring-level
    dedup (Lee et al. 2021): a doc with dup_permille ~1000 is a near-copy;
    a doc with a long max_dup_run but low dup_permille embeds one lifted
    passage (quote, boilerplate block, license header).

    Scale shape: the duplicate-gram census is a groupBy on the gram key
    with a partial-aggregated COUNT(DISTINCT doc) (dictionary-sized
    output, Zipf-truncated); the probe join keys on the gram; the run
    fold happens INSIDE the per-doc aggregate - dup positions are
    collected sorted and folded JVM-side with a single higher-order
    ``aggregate`` (the funnel-conversion pattern), so no second window
    shuffle.  In production the gram string becomes xxhash64(g); the
    catalog row keeps strings so the DuckDB oracle is exact."""
    kg = _pos_kgrams(load(spark, sf, "documents"))
    kg = kg.localCheckpoint(eager=True)  # census + probe share the explode
    dup = (
        kg.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(True).alias("isd"))
    )
    fold = """
        aggregate(
          dps,
          struct(CAST(0 AS BIGINT) AS best, CAST(0 AS BIGINT) AS cur,
                 CAST(-2 AS BIGINT) AS prev),
          (s, p) -> CASE WHEN p = s.prev + 1 THEN
              struct(greatest(s.best, s.cur + 1) AS best,
                     s.cur + CAST(1 AS BIGINT) AS cur,
                     CAST(p AS BIGINT) AS prev)
            ELSE
              struct(greatest(s.best, CAST(1 AS BIGINT)) AS best,
                     CAST(1 AS BIGINT) AS cur, CAST(p AS BIGINT) AS prev)
            END,
          s -> s.best)
    """
    return (
        kg.join(dup, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kgrams"),
            F.count("isd").cast("long").alias("n_dup_pos"),
            F.sort_array(
                F.collect_list(F.when(F.col("isd"), F.col("pos")))
            ).alias("dps"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            "n_dup_pos",
            F.expr(fold).alias("max_dup_run"),
            F.expr("CAST(n_dup_pos * 1000 div n_kgrams AS BIGINT)").alias(
                "dup_permille"
            ),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


@_register(
    "docs_dup_span_pairs",
    """
    WITH
    """
    + _POS_KG_CTE.format(km1=_SPAN_K - 1)
    + f""",
    rare AS (SELECT g FROM kg GROUP BY g
             HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= {_SPAN_OCC_CAP}),
    occ AS (SELECT kg.* FROM kg JOIN rare USING (g)),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos - b.pos AS diag, a.pos AS pa
          FROM occ a JOIN occ b ON a.g = b.g AND a.doc_id < b.doc_id),
    runs AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
             FROM (SELECT doc_a, doc_b, diag, pa,
                          pa - ROW_NUMBER() OVER
                            (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
                   FROM (SELECT DISTINCT doc_a, doc_b, diag, pa FROM m))
             GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b, MAX(run) AS max_run_kgrams,
           CAST(MAX(run) + {_SPAN_K - 1} AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY doc_a, doc_b
    HAVING MAX(run) >= {_SPAN_MIN_RUN}
    ORDER BY doc_a, doc_b
    """,
)
def docs_dup_span_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal shared verbatim spans between document PAIRS: two docs
    sharing L consecutive tokens share L-k+1 k-grams at consecutive
    positions on a constant anti-diagonal (pos_a - pos_b), so the longest
    shared span is the longest consecutive-pa island per (doc_a, doc_b,
    diag) - the distributed analog of the suffix-array cross-doc pass of
    Lee et al. 2021.  Emits pairs sharing a span of >= 4
    tokens (k + min_run - 1 = 4) with the span length and the number of
    distinct shared runs.

    Scale shape: the occurrence self-join is bounded BEFORE it happens -
    only k-grams with >= 2 docs and <= 8 global occurrences join
    (Zipf's head, the boilerplate that would explode the join, is exactly
    what span dedup must ignore anyway; the reference filters ubiquitous
    shingles the same way in its winnowing path).  Join fanout is
    therefore <= cap per gram occurrence.  The island detection runs in a
    window partitioned by (doc_a, doc_b, diag) - keys that fan out with
    pair count, not corpus size.  In production the gram string becomes
    xxhash64 and pairs above a span threshold feed the same
    keep-canonical resolution as docs_dedup_keep_canonical."""
    kg = _pos_kgrams(load(spark, sf, "documents"))
    kg = kg.localCheckpoint(eager=True)  # census + self-join share it
    rare = (
        kg.groupBy("g")
        .agg(
            F.countDistinct("doc_id").alias("nd"), F.count(F.lit(1)).alias("nocc")
        )
        .filter((F.col("nd") >= 2) & (F.col("nocc") <= _SPAN_OCC_CAP))
        .select("g")
    )
    occ = kg.join(rare, "g")
    a = occ.select(
        F.col("g"), F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = occ.select(
        F.col("g"), F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    m = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("diag"), "pa")
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run").alias("max_run_kgrams"),
            (F.max("run") + F.lit(_SPAN_K - 1)).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
        )
        .filter(F.col("max_run_kgrams") >= _SPAN_MIN_RUN)
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )
