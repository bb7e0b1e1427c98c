"""Session defaults reach the JVM, and release_cached drops leaked
localCheckpoint blocks between queries.

Catalog operators localCheckpoint shared intermediates; the returned
DataFrame references those blocks so the operator cannot unpersist them
itself.  ``session.release_cached`` is the between-queries cleanup used by
bench.py and tools/check_oracles.py — these tests pin that it (a) empties
the persistent-RDD map and (b) leaves already-consumed results usable.
"""

from py4j.java_gateway import get_java_class
from pyspark.sql import functions as F

from google_maps_scraper_spark.session import _JIT_OPTS, release_cached


def test_jit_defaults_reach_the_driver_jvm(spark):
    # Spark adds -XX:+IgnoreUnrecognizedVMOptions to the driver's options,
    # so a mistyped flag would be dropped silently: read back what HotSpot
    # actually runs with.
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        get_java_class(jvm.com.sun.management.HotSpotDiagnosticMXBean)
    )
    flags = [opt.removeprefix("-XX:").split("=") for opt in _JIT_OPTS.split()]
    assert len(flags) == 4
    for name, value in flags:
        assert bean.getVMOption(name).getValue() == value, name
    assert bean.getVMOption("UseG1GC").getValue() == "true"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_cached_empties_storage(spark):
    dfs = [
        spark.range(1000 * (i + 1)).withColumn("x", F.col("id") * 2)
        .localCheckpoint(eager=True)
        for i in range(3)
    ]
    for df in dfs:
        assert df.count() > 0
    assert _n_persistent(spark) >= 3
    release_cached(spark)
    assert _n_persistent(spark) == 0


def test_release_cached_between_operator_queries(spark, tmp_path):
    # A real catalog operator that localCheckpoints a shared intermediate:
    # force it, release, and re-run — results must be identical (the second
    # run recomputes its own checkpoint; nothing depends on the dropped one).
    import pandas as pd

    from google_maps_scraper_spark.operators.dedup_docs import (
        minhash_signatures,
        shingle_tokens,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": list(range(20)),
            "text": [
                ("alpha beta gamma delta epsilon zeta eta theta " * 3)
                + (f"tail{i % 4} " * 2)
                for i in range(20)
            ],
        })
    )
    shingled = shingle_tokens(docs).localCheckpoint(eager=True)
    first = sorted(map(tuple, minhash_signatures(shingled).collect()))
    release_cached(spark)
    assert _n_persistent(spark) == 0
    shingled2 = shingle_tokens(docs).localCheckpoint(eager=True)
    second = sorted(map(tuple, minhash_signatures(shingled2).collect()))
    release_cached(spark)
    assert first == second and len(first) > 0
