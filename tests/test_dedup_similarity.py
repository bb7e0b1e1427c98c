"""Value-level checks for the dedup/similarity operators that have rows-only
driver oracles: numpy is the ground truth for cosine math, pure Python for
MinHash/SimHash semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return ids, mat


def _cosine_all(mat, q):
    dots = mat @ q
    return dots / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))


def test_cosine_topk_matches_numpy(spark, emb_np):
    from google_maps_scraper_spark.operators.similarity import emb_cosine_topk

    ids, mat = emb_np
    q = mat[ids == 0][0]
    cos = _cosine_all(mat, q)
    order = sorted(
        [(round(-c, 6), i) for c, i in zip(cos, ids) if i != 0]
    )[:10]
    want = [i for _, i in order]

    got = [r["vec_id"] for r in emb_cosine_topk(spark, SF).collect()]
    assert got == want


def test_lsh_ann_recall(spark, emb_np):
    """Bucket-pruned ANN must recover most of the brute-force top-10
    (Hamming-1 probing, 16 planes)."""
    from google_maps_scraper_spark.operators.similarity import emb_lsh_ann_topk

    ids, mat = emb_np
    q = mat[ids == 0][0]
    cos = _cosine_all(mat, q)
    brute = {i for _, i in sorted(
        [(-c, i) for c, i in zip(cos, ids) if i != 0])[:10]}
    ann = {r["vec_id"] for r in emb_lsh_ann_topk(spark, SF).collect()}
    assert len(ann & brute) >= 4  # ≥40% recall with 1-probe LSH at 64 dims


def test_neardup_pairs_match_numpy(spark, emb_np):
    from google_maps_scraper_spark.operators.similarity import emb_neardup_pairs

    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    want = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(cos[i, j], 3) >= 0.4
    }
    got = {(r["vec_a"], r["vec_b"]) for r in emb_neardup_pairs(spark, SF).collect()}
    assert got == want


def test_minhash_estimates_jaccard(spark):
    """MinHash signature agreement approximates exact shingle Jaccard."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        NUM_PERM,
        minhash_signatures,
        shingle_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different text about spark dataframes and shuffles"),
        ],
        "doc_id int, text string",
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(shingle_tokens(docs)).collect()
    }
    sh = {
        r["doc_id"]: set(r["shingles"])
        for r in shingle_tokens(docs).collect()
    }

    def est(a, b):
        return sum(x == y for x, y in zip(sigs[a], sigs[b])) / NUM_PERM

    def exact(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    assert abs(est(1, 2) - exact(1, 2)) < 0.3
    assert est(1, 2) > est(1, 3)
    assert est(1, 3) <= 0.2


def test_simhash_similarity_correlates(spark):
    from google_maps_scraper_spark.operators.dedup_docs import simhash

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id int, text string",
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}

    def ham(a, b):
        return bin((h[a] ^ h[b]) & ((1 << 64) - 1)).count("1")

    assert ham(1, 2) < ham(1, 3)
    assert ham(1, 2) <= 16  # near-dups stay close in Hamming space


def test_simhash_one_pass_equals_naive(spark):
    """The one-pass SimHash (token hashed once, 64 bit-votes folded in one
    aggregate) must produce exactly the naive per-bit formulation's values."""
    from pyspark.sql import functions as F

    from google_maps_scraper_spark.operators.dedup_docs import simhash

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(50)
        .select("doc_id", "text")
    )
    naive = docs.withColumn(
        "_toks", F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).withColumn(
        "naive_simhash",
        F.expr(
            "aggregate(sequence(0, 63), cast(0 as bigint), (acc, b) -> acc + "
            " if(aggregate(_toks, 0, (s, t) ->"
            "      s + if(((xxhash64(t) >> b) & 1) = 1, 1, -1)) > 0,"
            "    shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
        ),
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = {r["doc_id"]: r["naive_simhash"] for r in naive.collect()}
    assert got == want


def test_lsh_neardup_pairs_semantics(spark, emb_np):
    """emb_lsh_neardup_pairs = pairs with signature Hamming ≤ 3 AND exact
    cosine ≥ 0.4: the banded discovery must equal the brute-force evaluation
    of that set definition (pigeonhole guarantees 100% recall within the
    radius), and be a subset of the exact-threshold pair set."""
    import numpy as np

    from google_maps_scraper_spark.operators.similarity import (
        NEARDUP_HAMMING,
        NEARDUP_THRESHOLD,
        emb_lsh_neardup_pairs,
        plane_weights,
    )

    ids, mat = emb_np
    w = np.array(plane_weights(16, mat.shape[1]), dtype=np.float64)
    sigs = ((mat @ w.T) > 0).astype(np.int64) @ (1 << np.arange(16))
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ham = bin(int(sigs[i]) ^ int(sigs[j])).count("1")
            if ham <= NEARDUP_HAMMING and round(cos[i, j], 3) >= NEARDUP_THRESHOLD:
                want.add((int(ids[i]), int(ids[j])))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in emb_lsh_neardup_pairs(spark, SF).collect()
    }
    assert got == want
    # subset of the exact near-dup set (LSH never invents pairs)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(cos[i, j], 3) >= NEARDUP_THRESHOLD
    }
    assert got <= exact


def test_ann_fallback_flag_and_warning(spark, tmp_path, caplog):
    """A probe set under k candidates must degrade to brute force LOUDLY:
    warning logged + brute_force_fallback=true on every row (the catalog's
    'no silent caps' rule)."""
    import logging

    import numpy as np

    from google_maps_scraper_spark.operators.similarity import emb_lsh_ann_topk

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=64)], 0)
        for i in range(12)  # 12 vectors: Hamming-1 probes can't reach 10 cands
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    with caplog.at_level(logging.WARNING):
        out = emb_lsh_ann_topk(spark, str(tmp_path)).collect()
    assert out and all(r["brute_force_fallback"] for r in out)
    assert any("brute-force" in rec.message for rec in caplog.records)


def test_vectorized_variants_equal_hof(spark):
    """The Arrow-vectorized simhash/minhash must equal the JVM HOF md5
    variants value-for-value (same oracle formulation, two execution paths)."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        minhash_sig_vectorized,
        minhash_signatures,
        shingle_tokens,
        simhash,
        simhash_vectorized,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    a = {r["doc_id"]: r["simhash"] for r in simhash_vectorized(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs, hash_fn="md5").collect()}
    assert a == b
    sh = shingle_tokens(docs)
    va = {
        r["doc_id"]: list(r["sig"]) for r in minhash_sig_vectorized(sh).collect()
    }
    vb = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(sh, hash_fn="md5").collect()
    }
    assert va == vb


def _winnow_hof_reference(df):
    """The retired JVM HOF winnowing pipeline (winnow_wmins + explode +
    groupBy min) — kept as the value reference for the vectorized path."""
    from pyspark.sql import functions as F

    from google_maps_scraper_spark.operators.dedup_docs import (
        _POS_BITS,
        winnow_wmins,
    )

    lim = (1 << _POS_BITS) - 1
    sel = winnow_wmins(df).select(
        "doc_id", F.explode_outer("wmins").alias("wmin")
    )
    return (
        sel.select(
            "doc_id",
            F.shiftright("wmin", _POS_BITS).alias("fp"),
            (F.lit(lim) - F.col("wmin").bitwiseAND(F.lit(lim))).alias("sel_pos"),
        )
        .groupBy("doc_id", "fp")
        .agg(F.min("sel_pos").alias("first_pos"))
    )


def _lsh_signature_hof_reference(df):
    """The retired JVM higher-order-function formulation of
    ``lsh_signature`` (one interpreted ``aggregate`` fold per plane) — kept
    as the value reference for the vectorized path."""
    from google_maps_scraper_spark.operators.similarity import _dot, plane_weights

    bucket = F.lit(0).cast("long")
    for p, w in enumerate(plane_weights()):
        dot = _dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in w]))
        bucket = bucket + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn("lsh_bucket", bucket)


def _ivf_cells_hof_reference(emb, centroids):
    """The retired JVM higher-order-function formulation of ``ivf_cells``:
    1-based argmax over centroids of dot(e, c)/|c|, first max wins."""
    import math

    from google_maps_scraper_spark.operators.similarity import _dot, _py_dot

    sc = F.array(*[
        _dot(F.col("embedding"), F.array(*[F.lit(float(v)) for v in c]))
        / F.lit(math.sqrt(_py_dot(c, c)))
        for c in centroids
    ])
    return emb.withColumn("cell", F.array_position(sc, F.array_max(sc)))


def test_lsh_signature_vectorized_equals_hof(spark):
    """The Arrow-vectorized LSH signature (r6 fast path) must equal the JVM
    HOF fold bit-for-bit — the cumsum sequential prefix sum reproduces the
    left fold's IEEE addition order, so no near-zero dot sign can flip."""
    from google_maps_scraper_spark.operators.similarity import lsh_signature

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = {r["vec_id"]: r["lsh_bucket"] for r in lsh_signature(emb).collect()}
    b = {
        r["vec_id"]: r["lsh_bucket"]
        for r in _lsh_signature_hof_reference(emb).collect()
    }
    assert a == b


def test_ivf_cells_vectorized_equals_hof(spark):
    """Same contract for the IVF assignment: sequential-sum scores, same
    norm divisor, first-max tie-break."""
    from google_maps_scraper_spark.operators.similarity import N_CELLS, ivf_cells

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").between(1, N_CELLS))
        .orderBy("vec_id")
        .collect()
    ]
    sel = emb.select("vec_id", "embedding")
    a = {r["vec_id"]: r["cell"] for r in ivf_cells(sel, cents).collect()}
    b = {
        r["vec_id"]: r["cell"]
        for r in _ivf_cells_hof_reference(sel, cents).collect()
    }
    assert a == b


def test_winnow_vectorized_equals_hof(spark):
    """The Arrow-vectorized winnowing (r6 fast path) must equal the JVM HOF
    formulation row-for-row — same md5 k-gram keys, same rightmost-min
    packing, same per-doc (fp, first_pos) dedup."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        winnow_fingerprints_vectorized,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    a = {
        (r["doc_id"], r["fp"]): r["first_pos"]
        for r in winnow_fingerprints_vectorized(docs).collect()
    }
    b = {
        (r["doc_id"], r["fp"]): r["first_pos"]
        for r in _winnow_hof_reference(docs).collect()
    }
    assert a == b


def test_winnow_vectorized_dirty_text_parity(spark):
    """Same Java-vs-Python tokenization traps as the SimHash parity test:
    ASCII-only \\s+ stripping, Unicode-ish whitespace left alone, short and
    empty docs filtered identically (norm length < k drops the doc)."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        winnow_fingerprints_vectorized,
    )

    docs = spark.createDataFrame(
        [
            (1, "\tABCDEFGH ijk\n"),
            (2, "nbsp kept here"),  # NBSP/em-space: not \s in Java
            (3, "abcd"),                  # norm shorter than k -> dropped
            (4, ""),
            (5, None),
            (6, " \t exactly-five \n "),
            (7, "Mixed CASE Lowered OK"),
        ],
        "doc_id int, text string",
    )
    a = {
        (r["doc_id"], r["fp"]): r["first_pos"]
        for r in winnow_fingerprints_vectorized(docs).collect()
    }
    b = {
        (r["doc_id"], r["fp"]): r["first_pos"]
        for r in _winnow_hof_reference(docs).collect()
    }
    assert a == b


def test_simhash_vectorized_dirty_whitespace_parity(spark):
    """Regression (round-3 ADVICE, medium): the vectorized SimHash must
    tokenize exactly like the SQL formulation on DIRTY text — SQL trim()
    strips ASCII spaces only, and Java's \\s+ is ASCII-only and emits
    leading/trailing empty tokens; bare Python .strip().split() does
    neither (Unicode whitespace, no empty tokens)."""
    from google_maps_scraper_spark.operators.dedup_docs import (
        simhash,
        simhash_vectorized,
    )

    docs = spark.createDataFrame(
        [
            (1, "\tleading tab"),
            (2, "\ntrailing newline\n"),
            (3, "nbsp joined tokens"),          # NBSP: not \s in Java
            (4, "  only-ascii-spaces-trimmed  "),
            (5, " em-space separated"),    # not \s in Java either
            (6, ""),
            (7, None),
            (8, " \t mixed   ws \n "),
        ],
        "doc_id int, text string",
    )
    a = {r["doc_id"]: r["simhash"] for r in simhash_vectorized(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs, hash_fn="md5").collect()}
    assert a == b


def test_neardup_blocked_gemm_multiblock_equals_single(spark):
    """Regression (round-3 VERDICT #2): the exact near-dup path must not
    materialize the table in any single process.  Forcing many small blocks
    (B > 1 block-pair GEMM tiles) must reproduce the single-tile result
    exactly — same pairs, same 3-dp cosines."""
    from google_maps_scraper_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    single = [tuple(r) for r in neardup_pairs_blocked(emb, block_rows=10**9).collect()]
    multi = [tuple(r) for r in neardup_pairs_blocked(emb, block_rows=40).collect()]
    assert len(single) > 0
    assert multi == single


def test_gemm_plan_bounds_tile_rows():
    """Round-3 VERDICT #4: the old min(64, ...) block cap silently grew GEMM
    tiles ∝ N past ~65k rows.  Tile rows must now be HARD-bounded at every
    N (the block-pair grid, not the tile, absorbs growth), and an explicit
    block_rows override must still be honored."""
    from google_maps_scraper_spark.operators.similarity import (
        _GEMM_MAX_TILE_ROWS,
        _gemm_plan,
    )

    for n in (10, 10**4, 10**5, 10**6, 10**7, 10**8, 10**10):
        b, eff = _gemm_plan(n)
        assert eff <= _GEMM_MAX_TILE_ROWS, (n, eff)
        assert b * eff >= n
    b, _ = _gemm_plan(10**8)
    assert b > 64  # the old cap would have stopped here
    # explicit override (single-tile parity test relies on it)
    b, eff = _gemm_plan(500, block_rows=10**9)
    assert b == 1 and eff == 10**9


def test_gemm_empty_blocks_guarded(spark):
    """A (bi, bj) pair where one hash block is empty must yield zero pairs,
    not an np.stack crash (round-3 ADVICE): block_rows=1 over a handful of
    rows makes empty blocks near-certain."""
    from google_maps_scraper_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(7)
    ref = [tuple(r) for r in neardup_pairs_blocked(emb, block_rows=10**9).collect()]
    tiny = [tuple(r) for r in neardup_pairs_blocked(emb, block_rows=1).collect()]
    assert tiny == ref


def test_neardup_auto_degrades_to_lsh_flagged(spark):
    """Past the exact-GEMM row budget the query must degrade to the banded
    LSH path LOUDLY: lsh_fallback=true on every row, and the (lower-recall,
    same-threshold) pair set a subset of the exact one."""
    from google_maps_scraper_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"]) for r in neardup_pairs_blocked(emb).collect()
    }
    degraded = neardup_pairs_blocked(emb, max_exact_rows=10).collect()
    assert degraded
    assert all(r["lsh_fallback"] for r in degraded)
    assert {(r["vec_a"], r["vec_b"]) for r in degraded} <= exact
