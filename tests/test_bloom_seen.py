"""The Bloom filter behind the catalog's ``seen_bloom_build`` query: no false
negatives and a bounded false-positive rate, the distributed build equal bit
for bit to a local one, and merged per-delta builds covering every key."""

from google_maps_scraper_spark.operators.bloom import BloomFilter, build_bloom


def test_bloom_unit_no_false_negatives():
    bf = BloomFilter.sized(1000, 0.01)
    keys = [f"https://x.test/{i}" for i in range(1000)]
    for k in keys:
        bf.add(k)
    assert all(bf.might_contain(k) for k in keys)
    fp = sum(bf.might_contain(f"https://y.test/{i}") for i in range(10_000))
    assert fp < 10_000 * 0.05  # ~1% nominal, generous bound


def test_bloom_distributed_build_matches_local(spark):
    urls = [(f"https://b.test/{i}",) for i in range(500)]
    df = spark.createDataFrame(urls, "url string").repartition(7)
    bf = build_bloom(df, "url", expected_items=500)
    local = BloomFilter(bf.m_bits, bf.k)
    for (u,) in urls:
        local.add(u)
    assert bf.to_bytes() == local.to_bytes()


def test_bloom_merge_delta(spark):
    proto = BloomFilter.sized(1000, 0.01)
    a = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
    b = spark.createDataFrame([(f"v{i}",) for i in range(100)], "url string")
    running = BloomFilter(proto.m_bits, proto.k)
    running.merge(build_bloom(a, "url", proto=proto))
    running.merge(build_bloom(b, "url", proto=proto))
    assert all(running.might_contain(f"u{i}") for i in range(100))
    assert all(running.might_contain(f"v{i}") for i in range(100))
