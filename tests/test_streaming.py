"""Structured Streaming variants: exactly-once incremental extraction and
watermarked windowed aggregation."""

import glob
import time

import pytest

from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus
from google_maps_scraper_spark.streaming import (
    stream_extract_places,
    stream_windowed_events,
)


def _await(q, timeout=120):
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()


def test_stream_extract_places_incremental(spark, tmp_path):
    """Pages landing in two batches extract exactly once across restarts."""
    c1 = generate_corpus(n_seeds=1, places_per_serp=5, seed=1)
    c2 = generate_corpus(n_seeds=2, places_per_serp=5, seed=2)
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus_to_spark(spark, c1).write.mode("append").parquet(pages_dir)
    q = stream_extract_places(spark, pages_dir, out, ckpt)
    _await(q)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # second landing: only the NEW pages are processed on restart
    corpus_to_spark(spark, c2).write.mode("append").parquet(pages_dir)
    q = stream_extract_places(spark, pages_dir, out, ckpt)
    _await(q)
    got = spark.read.parquet(out)
    n2 = got.count()
    assert n2 > n1
    # exactly-once: every url appears exactly once
    assert got.select("url").distinct().count() == n2

    # values: a batch dispatch pass over the same pages yields the same rows
    import pyspark.sql.functions as F

    from google_maps_scraper_spark.operators.extractors import dispatch_udf

    e = dispatch_udf(
        F.lit("place"), "html", F.lit(None).cast("string"), F.lit(""), "url",
        F.lit(1786838400000000).cast("long"), F.lit(False),
        F.lit(None).cast("array<string>"),
    ).getField("entry")
    batch = (
        spark.read.parquet(pages_dir)
        .filter(F.col("url").contains("/maps/place/"))
        .select(e.alias("e"))
        .filter(F.col("e.error").isNull() & F.col("e.valid"))
    )
    want = {r[0] for r in batch.select("e.canonical_json").collect()}
    assert want
    assert {r[0] for r in got.select("canonical_json").collect()} == want


def test_stream_windowed_events(spark, tmp_path):
    """Windowed counts over the events table as a simulated stream match the
    same aggregation computed in batch."""
    import pyspark.sql.functions as F

    ev_batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "ev")
    ev_batch.write.mode("overwrite").parquet(src_dir)
    ev_stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "agg-ckpt")
    q = stream_windowed_events(spark, ev_stream, out, ckpt, window="1 hour")
    _await(q)

    got = spark.read.parquet(out)
    want = (
        ev_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )
    # append-mode emits only windows the watermark has closed; every emitted
    # row must match the batch computation exactly
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows, "stream produced no closed windows"
    assert got_rows <= want_rows
