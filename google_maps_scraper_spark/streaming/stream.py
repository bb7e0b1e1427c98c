"""Structured Streaming variants.

The reference is a continuous pull loop (postgres/provider.go:174-243 polls
forever with backoff; results stream through channel-fed writers).  The BFS
crawl itself is a driver-coordinated fixpoint — batch rounds are the right
Spark shape for it (SURVEY.md §7) — but the *ingestion* side maps cleanly to
Structured Streaming: newly landed page snapshots are extracted exactly-once
with checkpointed source offsets, the streaming analog of the reference's
resumable DB frontier.

  * ``stream_extract_places`` — ``readStream`` over a growing parquet pages
    directory → place extraction (same dispatch parse core) → ``writeStream``
    parquet sink with checkpoint.  ``Trigger.AvailableNow`` drains what is
    present and stops (test/batch-catchup mode); omit for continuous.
  * ``stream_windowed_events`` — watermarked sliding-window aggregation over
    an event stream (late-data handling the reference lacks entirely; the
    engine-side analog of per-host fetch-rate accounting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGES_SCHEMA

__all__ = [
    "stream_extract_places",
    "stream_windowed_events",
    "stream_sessionize_stateful",
]


def stream_extract_places(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    now_micros: int = 1786838400000000,
):
    """Continuously extract place entries from pages landing in
    ``pages_dir``.  Exactly-once per file via the streaming checkpoint —
    kill and restart resumes at the recorded offsets (the streaming
    equivalent of the batch engine's round manifests)."""
    from ..operators.extractors import dispatch_udf

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(pages_dir)
    )
    # the batch engine's dispatch UDF, place branch (no review chain)
    entries = (
        pages.filter(F.col("url").contains("/maps/place/"))
        .withColumn(
            "e",
            dispatch_udf(
                F.lit("place"), "html", F.lit(None).cast("string"), F.lit(""),
                "url", F.lit(now_micros).cast("long"), F.lit(False),
                F.lit(None).cast("array<string>"),
            ).getField("entry"),
        )
        .filter(F.col("e.error").isNull() & F.col("e.valid"))
        .select(
            "url",
            F.col("e.title").alias("title"),
            F.col("e.category").alias("category"),
            F.col("e.latitude").alias("latitude"),
            F.col("e.longitude").alias("longitude"),
            F.col("e.review_count").alias("review_count"),
            F.col("e.canonical_json").alias("canonical_json"),
        )
    )
    writer = (
        entries.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_events(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
):
    """Watermarked windowed counts/sums per event_type over a stream.

    ``events`` must be a streaming DataFrame with ``ts/event_type/value``.
    Late rows beyond the watermark are dropped (state is bounded — the
    requirement for unbounded 100 TB streams)."""
    # watermarks need TIMESTAMP (tz-aware); parquet NTZ columns are cast
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window, slide or window).alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


_SESSION_GAP_US = 1800 * 1_000_000  # 30-min inactivity gap (= events_sessionize)

_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_idx bigint, session_start_us bigint, "
    "session_end_us bigint, n_events bigint"
)
_SESSION_STATE_SCHEMA = (
    "session_idx bigint, session_start_us bigint, last_ts_us bigint, "
    "n_events bigint"
)


def stream_sessionize_stateful(
    events: DataFrame, gap_us: int = _SESSION_GAP_US
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState`` —
    the extension point for semantics Structured Streaming's built-in
    windows cannot express (a session has no fixed width): per-user
    sessionization with a {gap}-µs inactivity gap, state carried across
    micro-batches, session summaries re-emitted (outputMode=update)
    whenever a batch extends them.

    Semantics match the batch ``events_sessionize`` operator exactly —
    events order by (ts, event_id), a STRICT ``gap > {gap}`` starts a new
    session — so a drained stream reconciles 1:1 against the batch window
    dataflow (pinned by tests/test_streaming_stateful.py).  Assumes
    per-user event-time-ordered arrival across micro-batches (the Kafka
    key-partition contract; an out-of-order buffer would layer a watermark
    on top, as ``stream_windowed_events`` does for fixed windows).

    Scale shape: state is ONE 4-field tuple per user (bounded, no event
    retention); each micro-batch's per-user work is vectorized numpy/pandas
    (diff → cumsum → groupby — no per-row Python), and the shuffle is the
    same user-keyed exchange the batch sessionizer pays.  ``events`` must
    be a streaming DataFrame with ``event_id/ts/user_id`` columns."""
    import numpy as np
    import pandas as pd

    def fn(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["ts_us", "event_id"])
        ts = rows["ts_us"].to_numpy(dtype=np.int64)
        if state.exists:
            idx0, start0, last0, n0 = state.get
            prev = np.concatenate(([last0], ts[:-1]))
            is_new = (ts - prev) > gap_us
        else:
            idx0, start0, n0 = -1, 0, 0
            prev = np.concatenate(([ts[0]], ts[:-1]))
            is_new = (ts - prev) > gap_us
            is_new[0] = True
        sidx = idx0 + np.cumsum(is_new)
        df = pd.DataFrame({"sidx": sidx, "ts": ts})
        g = df.groupby("sidx")["ts"].agg(["min", "max", "count"]).reset_index()
        # merge the continuation of the carried-over session, if any
        out = []
        for _, r in g.iterrows():
            si, mn, mx, cnt = (
                int(r["sidx"]), int(r["min"]), int(r["max"]), int(r["count"])
            )
            if state.exists and si == idx0:
                mn, cnt = start0, cnt + n0
            out.append((int(key[0]), si, mn, mx, cnt))
        last = out[-1]
        state.update((last[1], last[2], int(ts[-1]), last[4]))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_idx", "session_start_us",
                "session_end_us", "n_events",
            ],
        )

    slim = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return slim.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
