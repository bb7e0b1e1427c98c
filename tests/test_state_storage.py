"""State-checkpoint storage policy: every in-memory state materialization
funnels through CrawlEngine._ckpt, which stores blocks SERIALIZED —
off-heap when the session sets ``spark.memory.offHeap.enabled``, on-heap
otherwise — instead of localCheckpoint's deserialized default.

Why pinned: deserialized state turns superlinear once it outgrows the
heap's storage pool — a 2x bench corpus (4.2M pages, local[16], 32g heap)
measured 4-14x phase walls (claim 14x, persist 10.6x) from old-gen churn;
serialized blocks cut that run 12% end-to-end and the claim phase 60%,
with no regression when state fits (same-minutes A/B at the 2.1M corpus).
Byte parity of the crawl's output under this policy is pinned by
tests/test_crawl_e2e.py."""

from pyspark import StorageLevel

from google_maps_scraper_spark.plans.crawl import _state_storage_level


def test_level_selection(spark, monkeypatch):
    # the test session runs without spark.memory.offHeap.enabled, so the
    # rule picks serialized ON-HEAP (OFF_HEAP blocks need the off-heap pool)
    assert _state_storage_level(spark) == StorageLevel.MEMORY_AND_DISK

    real_get = spark.conf.get

    def get(key, *default):
        if key == "spark.memory.offHeap.enabled":
            return "TRUE"
        return real_get(key, *default)

    monkeypatch.setattr(spark.conf, "get", get)
    assert _state_storage_level(spark) == StorageLevel.OFF_HEAP
