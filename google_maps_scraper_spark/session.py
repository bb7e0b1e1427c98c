"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we'd pass to
``spark-submit`` on a real cluster (the reference's analog is worker-pool
sizing, runner/runner.go:109).  AQE stays on so skew joins split at runtime.
"""

from __future__ import annotations

import os
import weakref

import pandas as pd

from pyspark.sql import SparkSession

__all__ = ["get_spark", "release_cached", "stop_spark"]

# HotSpot's four tier-4 (C2) thresholds, each 5x the JDK 17 default
# (5000 / 600 / 15000 / 40000).  A crawl round or a catalog query is a burst
# of short Spark jobs, and at the defaults C2 spends most of its time on code
# a short run never gets back: one catalog run made 3 286 C2 compiles, 1 713
# of them JDK methods (java.lang.invoke, j.u.concurrent, String, HashMap,
# zip, object streams), most of the rest Spark's planning and codegen
# machinery (scala, janino, catalyst, ANTLR, ASM) and only 68 methods of
# Spark-generated classes.  C1 (tiers 0-3) keeps its timing, so start-up and
# warm-up behave as before; only methods that stay hot five times longer
# reach C2, and at sf0.1 the data path still does.
# Interleaved two-checkout A/B, 4-core host, JDK 17 (medians, default -> 5x;
# perfbench --seconds 10, 10 pairs per workload; bench.py at sf0.1 with
# local[4], 3 pairs):
#   perfbench catalog pass_cpu_s               34.0 -> 24.5 s
#   perfbench crawl_polite_resume pass_cpu_s   60.0 -> 53.2 s
#   bench.py sf0.1 catalog+crawl_total         156.2 -> 152.7 s
#   bench.py sf0.1 crawl_e2e                   17.5 -> 17.0 s
# Rejected: 10x thresholds (catalog pass_cpu_s -31%, but sf0.1 total
# 159.1 -> 171.5 s, +7.8%), 30x (sf0.1 +10%) and C1 only
# (-XX:TieredStopAtLevel=1, sf0.1 +44%) cut short-run CPU further but give
# the long run's C2 code back; -XX:CompileThresholdScaling=10 also scales C1
# and slowed a crawl set-up; -XX:CICompilerCount=2 only defers C2 work past
# the window; -XX:Tier4LoadFeedback=1 changed nothing.
_JIT_OPTS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000"
    " -XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)

# sessions already warmed: get_spark() returning an existing session must
# not pay the warm-up jobs again
_WARMED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def get_spark(
    app_name: str = "google-maps-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8) if "local" in master else 200
        except ValueError:
            shuffle_partitions = 32

    java_opts = f"{os.environ.get('SPARK_GC_OPTS', '-XX:+UseG1GC')} {_JIT_OPTS}"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Collector choice, re-measured round 6: G1 now wins decisively.
        # The round-4 measurement (G1 concurrent cycles collapsing at
        # 32-core parallelism over multi-KB strings) predates the round-5
        # crawl rework — html no longer crosses exchanges and row work
        # moved into Arrow UDFs — and the r6 full-bench A/B on the same
        # box reads: ParallelGC 198.8/196.7 s vs G1 156.8/143.7 s catalog+
        # crawl total, with crawl_e2e itself at 14.2 s under G1 (best
        # recorded).  GC pause totals were 8.8 s (Parallel) vs 1.8 s (G1);
        # the rest of the gap is mutator throughput during the interpreted/
        # Arrow map stages.  SPARK_GC_OPTS replaces the collector string
        # only (_JIT_OPTS is always appended); perfbench/run.py clears it,
        # so a collector A/B changes this default in two checkouts.
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Shuffle/spill scratch location (spark.local.dir).  On a real cluster
    # every executor brings its own local SSDs, so shuffle bandwidth scales
    # with node count; a single-box sandbox serializes all levels onto one
    # disk unless scratch is pointed at node-local-equivalent storage
    # (tools/bench_scaling.py sets this to a tmpfs).
    local_dir = os.environ.get("GMS_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Off-heap block storage (set SPARK_OFFHEAP_SIZE, e.g. "64g"): keeps the
    # per-round materialized state out of the GC's way — at 32-way
    # parallelism over multi-KB rows this halved end-to-end crawl wall time.
    offheap = os.environ.get("SPARK_OFFHEAP_SIZE")
    if offheap:
        builder = builder.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", offheap
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Env-driven conf overrides ("k=v;k2=v2") — the measurement hook the
    # r6 optimization round's A/Bs use, and the general parameterization
    # point for scale-dependent settings (guide §9: configs are the last
    # 10-30%, so they stay env-tunable rather than hard-coded).
    for kv in os.environ.get("GMS_SPARK_CONF", "").split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    if os.environ.get("GMS_SESSION_WARMUP", "1") != "0" and spark not in _WARMED:
        _warm_session_infra(spark)
        _WARMED.add(spark)
    return spark


def _warm_session_infra(spark: SparkSession) -> None:
    """One-time generic infra warm-up at session construction, over
    SYNTHETIC data only (no input table is touched, nothing is cached):
    first use of the parquet write+read path (footer/codec classes), the
    Arrow struct-returning pandas-UDF serde, a repartition exchange and an
    in-partition sort each cost 1-2 s of classloading/codegen/JIT that
    otherwise lands on whichever real query runs first (measured: the
    catalog's first query paid ~3.5 s over its steady-state time).  Real
    deployments warm long-lived sessions the same way; disable with
    GMS_SESSION_WARMUP=0."""
    import tempfile

    from pyspark.sql import functions as F

    try:
        @F.pandas_udf("struct<a: string, b: bigint>")
        def _w(s: pd.Series) -> pd.DataFrame:
            return pd.DataFrame({"a": s.astype(str), "b": range(len(s))})

        with tempfile.TemporaryDirectory(prefix="gms-warm-") as td:
            spark.range(0, 256).selectExpr(
                "id", "cast(id as string) AS t"
            ).write.mode("overwrite").parquet(f"{td}/t")
            base = spark.read.parquet(f"{td}/t")
            (
                base.repartition(8)
                .withColumn("w", _w("t"))
                .select("id", "w.a", "w.b")
                .repartition(1)
                .sortWithinPartitions("id")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            # join (broadcast + shuffle), aggregate, window, generator and
            # scalar-subquery machinery — each is 0.5-1.5 s of first-use
            # classload/codegen otherwise charged to an early real query
            base.createOrReplaceTempView("gms_warm_t")
            dim = spark.range(0, 32).selectExpr("id AS k", "id % 4 AS grp")
            joined = (
                base.join(F.broadcast(dim), base.id == dim.k)
                .join(dim.withColumnRenamed("k", "k2"), "grp")
                .groupBy("grp")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            from pyspark.sql import Window

            win = (
                base.select(
                    "id",
                    F.explode_outer(F.expr("sequence(0, 1)")).alias("j"),
                )
                .withColumn(
                    "rk",
                    F.row_number().over(
                        Window.partitionBy("j").orderBy("id")
                    ),
                )
                .where("rk <= 2")
            )
            joined.write.format("noop").mode("overwrite").save()
            win.write.format("noop").mode("overwrite").save()
            spark.catalog.dropTempView("gms_warm_t")
    except Exception:
        pass  # warm-up is best-effort; a failure only costs speed


def release_cached(spark: SparkSession) -> None:
    """Unpersist every cached RDD in the session (between independent jobs).

    Several operators ``localCheckpoint`` a shared intermediate (shingle
    explodes, MinHash signatures, IVF assignments) so it is computed once
    within the query.  The returned DataFrame still references those blocks,
    so the operator itself cannot release them — but once a caller has fully
    consumed a result, the blocks are dead weight.  Across a long session of
    independent queries they accumulate until the storage pool forces
    evict/spill churn (a ~4 s catalog query was measured at 31 s behind a
    full pool).  Call this between independent queries; never while a
    DataFrame you still need is mid-consumption (unpersisting a
    ``localCheckpoint`` is unrecoverable — its lineage is truncated)."""
    import gc

    gc.collect()  # drop Python-side refs so nothing is resurrected
    try:
        # py4j auto-converts the java.util.Map to a Python mapping view
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(False)
    except Exception:
        pass  # JVM-API drift: stale blocks only cost speed, never correctness


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
