"""Edge-case inputs and session reuse: human-readable size confs and
non-local paths in ``load_fanout``, NULL-text documents against the DuckDB
oracle, and the once-per-session warm-up."""

import shutil
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from google_maps_scraper_spark import session as session_mod
from google_maps_scraper_spark.operators import analytics
from google_maps_scraper_spark.operators.dedup_docs import ORACLES, QUERIES
from tools.check_oracles import table_hash

SF = Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.001"
MAX_SPLIT = "spark.sql.files.maxPartitionBytes"


def test_load_fanout_reads_human_readable_max_partition_bytes(spark):
    old = spark.conf.get(MAX_SPLIT)
    spark.conf.set(MAX_SPLIT, "128m")
    try:
        df = analytics.load_fanout(spark, str(SF), "documents")
    finally:
        spark.conf.set(MAX_SPLIT, old)
    # one small file is far under 128 MiB: the scan is fanned out
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_load_fanout_leaves_non_local_path_alone(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(analytics, "load", lambda *_: df)
    assert analytics.load_fanout(spark, "s3a://bucket/sf", "documents") is df


@pytest.fixture(scope="module")
def null_text_sf(tmp_path_factory):
    """The sf0.001 tables plus one document whose text is NULL."""
    sf = tmp_path_factory.mktemp("null-text") / "sf"
    shutil.copytree(SF, sf)
    docs = pq.read_table(sf / "documents.parquet")
    null_id = max(docs.column("doc_id").to_pylist()) + 1
    row = pa.table(
        {"doc_id": [null_id], "text": [None], "lang": ["en"],
         "source": [docs.column("source")[0].as_py()], "n_chars": [0]},
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, row]), sf / "documents.parquet")
    return sf, null_id


# What the oracle does with a NULL-text document: the shingle queries'
# inner unnest yields no row for it, so it is dropped; the k-gram CTE gives
# it one position whose gram is NULL, so docs_dup_span_stats reports it, but
# that gram joins no other document, so it is in no pair (None: the output
# has no doc_id column).
NULL_TEXT_KEPT = {
    "docs_source_template_shingles": False,
    "docs_shingle_novelty": False,
    "docs_dup_span_stats": True,
    "docs_dup_span_pairs": None,
}


@pytest.mark.parametrize("query", list(NULL_TEXT_KEPT))
def test_null_text_document_matches_oracle(spark, null_text_sf, query):
    """Both engines treat a NULL-text document alike, so the outputs still
    hash equal."""
    sf, null_id = null_text_sf
    sdf = QUERIES[query](spark, str(sf))
    srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf / 'documents.parquet'}'"
    )
    res = con.execute(ORACLES[query])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    kept = NULL_TEXT_KEPT[query]
    if kept is not None:
        assert (null_id in {r[scols.index("doc_id")] for r in srows}) == kept
        assert (null_id in {r[dcols.index("doc_id")] for r in drows}) == kept
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert table_hash(srows, scols) == table_hash(drows, dcols)


def test_warm_up_runs_once_per_session(spark, monkeypatch):
    calls = []
    monkeypatch.setenv("GMS_SESSION_WARMUP", "1")
    monkeypatch.setattr(session_mod, "_warm_session_infra", calls.append)
    kw = dict(app_name="gms-tests", master="local[4]", shuffle_partitions=8)
    first = session_mod.get_spark(**kw)
    n = len(calls)
    second = session_mod.get_spark(**kw)
    assert second is first
    assert len(calls) == n  # the reused session is not warmed again
