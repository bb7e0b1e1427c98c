"""Distributed Bloom filter for a URL-seen set.

The reference's seen-set is an in-process ``map[uint64]struct{}``
(deduper/hashmap.go:11-42).  At 10^10-URL scale the crawl engine keeps the
exact set in the ``seen`` table and probes it with an exact anti-join every
round, with no filter in front: that probe scans the seen table either way,
so a pre-filter only shrank its broadcast side and measured slower on every
corpus tried (ROADMAP.md, direction 5).  This module keeps the distributed
build (BASELINE.json north_star: "distributed Bloom/cuckoo URL-seen set,
broadcast + per-partition shards, merged via treeAggregate"), whose OR-fold
the catalog's ``seen_bloom_build`` query mirrors:

  * build: per-partition byte shards via ``mapPartitions``, OR-merged with
    ``treeReduce`` (log-depth merge, never a driver-side concat of all
    shards);
  * maintain: a delta filter built over only the new keys, with the running
    filter's geometry (``proto``), ORs into it driver-side — the full set
    is never rescanned.

``BloomFilter.might_contain`` never gives a false negative; a positive must
fall through to an exact check.

Hashing: k indexes from two independent 64-bit halves of ``blake2b(url)``
(double hashing, Kirsch–Mitzenmacher) — deterministic across processes, no
Python ``hash()`` salt dependence.
"""

from __future__ import annotations

import hashlib
import math

__all__ = ["BloomFilter", "build_bloom"]


class BloomFilter:
    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, m_bits: int, k: int, bits: bytes | None = None):
        self.m_bits = m_bits
        self.k = k
        self.bits = bytearray(bits) if bits is not None else bytearray((m_bits + 7) // 8)

    @classmethod
    def sized(cls, expected_items: int, fpp: float = 0.01) -> "BloomFilter":
        n = max(expected_items, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(m, k)

    def _indexes(self, key: str):
        d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        m = self.m_bits
        for i in range(self.k):
            yield (h1 + i * h2) % m

    def add(self, key: str) -> None:
        for ix in self._indexes(key):
            self.bits[ix >> 3] |= 1 << (ix & 7)

    def might_contain(self, key: str) -> bool:
        return all(self.bits[ix >> 3] & (1 << (ix & 7)) for ix in self._indexes(key))

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m_bits, self.k) == (other.m_bits, other.k)
        a, b = self.bits, other.bits
        for i in range(len(a)):
            a[i] |= b[i]
        return self

    def to_bytes(self) -> bytes:
        return bytes(self.bits)


def build_bloom(
    df,
    col: str,
    expected_items: int = 0,
    fpp: float = 0.01,
    proto: BloomFilter | None = None,
) -> BloomFilter:
    """Per-partition shards OR-merged with ``treeReduce`` (log-depth).
    Pass ``proto`` to build a delta filter with the same (m, k) geometry as a
    running filter so the result is merge-compatible."""
    if proto is None:
        proto = BloomFilter.sized(expected_items, fpp)
    m, k = proto.m_bits, proto.k

    def shard(rows):
        bf = BloomFilter(m, k)
        for r in rows:
            v = r[0]
            if v is not None:
                bf.add(str(v))
        yield bf.to_bytes()

    def orr(a: bytes, b: bytes) -> bytes:
        return (int.from_bytes(a, "little") | int.from_bytes(b, "little")).to_bytes(
            len(a), "little"
        )

    rdd = df.select(col).rdd.mapPartitions(shard)
    if rdd.isEmpty():
        return BloomFilter(m, k)  # fresh empty filter, never alias proto
    merged = rdd.treeReduce(orr)
    return BloomFilter(m, k, merged)

