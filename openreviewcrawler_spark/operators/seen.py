"""URL-seen membership — the distributed replacement for the reference's
driver-resident ``already_done`` Python set (/root/reference/crawler.py:25-60).

Two tiers (north rule):

* **Exact tier** — a ``seen`` table of canonical URLs; candidates are removed
  with a ``LEFT ANTI`` join. This is the correctness tier: seen-set equality
  with the oracle is exact, never probabilistic.
* **Fast tier** — a partition-local Bloom filter over Murmur3 URL hashes,
  built inside Arrow batches (``mapInPandas``), merged across partitions with
  ``rdd.treeAggregate`` (the one sanctioned RDD call), broadcast back and
  probed in a vectorized pandas UDF. Candidates the Bloom proves *unseen*
  (no false negatives possible) bypass the anti-join shuffle entirely; only
  the "maybe seen" minority is confirmed exactly. At 10^10-URL scale the
  Bloom removes the dominant shuffle; false positives cost a redundant exact
  check, never a wrongly dropped URL.

When the fast tier runs: the crawl (``plans.crawl.run_crawl``) builds a
filter only once ``seen`` has keys — round 1 of a fresh crawl neither builds
nor probes one. It is sized ``BloomFilter.sized_for(max(n_seen, 1024),
bloom_fpp)``, where ``n_seen`` is the driver's running count of URLs the
crawl has processed (kept in the snapshot manifest, so a resume needs no
count job). Each round's bitset broadcast is destroyed with the round's
cached frames.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPLITMIX_1 = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_2 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_3 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _SPLITMIX_1).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _SPLITMIX_2
    x ^= x >> np.uint64(27)
    x *= _SPLITMIX_3
    x ^= x >> np.uint64(31)
    return x


class BloomFilter:
    """Fixed-size Bloom filter over int64 keys, numpy-vectorized.

    k index positions per key via double hashing (h1 + j*h2 mod m) on two
    splitmix64 streams derived from the Murmur3 url hash.
    """

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        if n_bits % 64:
            n_bits += 64 - n_bits % 64
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 64, dtype=np.uint64)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 1)
        m = int(-n_items * math.log(fpp) / (math.log(2) ** 2)) + 64
        k = max(1, round(m / n_items * math.log(2)))
        return cls(m, k)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions."""
        x = keys.astype(np.int64).view(np.uint64)
        h1 = _splitmix64(x)
        h2 = _splitmix64(h1) | np.uint64(1)
        j = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(self.n_bits)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        np.bitwise_or.at(self.bits, word, bit)

    def might_contain_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        return ((self.bits[word] & bit) != 0).all(axis=1)

    def union_bytes(self, other: bytes) -> None:
        self.bits |= np.frombuffer(other, dtype=np.uint64)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, k: int) -> "BloomFilter":
        bits = np.frombuffer(blob, dtype=np.uint64).copy()
        return cls(len(bits) * 64, k, bits)


def build_bloom(
    df: DataFrame, hash_col: str, n_bits: int, k: int, tree_depth: int | None = None
) -> BloomFilter:
    """Partition-local Bloom build + ``treeAggregate`` bitset merge.

    Each partition folds its Arrow batches into one local filter and emits a
    single binary blob; blobs are OR-merged in a tree of depth
    ``ceil(log4(partitions))`` so the driver never receives more than a few
    filters at once.
    """

    def _per_partition(batches):
        local = BloomFilter(n_bits, k)
        for pdf in batches:
            local.add_many(pdf[hash_col].to_numpy())
        yield pd.DataFrame({"bloom": [local.to_bytes()]})

    blobs = df.select(hash_col).mapInPandas(_per_partition, "bloom binary")
    rdd = blobs.rdd.map(lambda r: bytes(r["bloom"]))
    n_parts = max(rdd.getNumPartitions(), 1)
    if tree_depth is None:
        tree_depth = max(1, math.ceil(math.log(n_parts, 4))) if n_parts > 1 else 1

    zero = BloomFilter(n_bits, k).to_bytes()

    def _or(a: bytes, b: bytes) -> bytes:
        return (
            np.frombuffer(a, dtype=np.uint64) | np.frombuffer(b, dtype=np.uint64)
        ).tobytes()

    merged = rdd.treeAggregate(zero, _or, _or, depth=tree_depth)
    return BloomFilter.from_bytes(merged, k)


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    hash_col: str = "url_hash",
    bloom: BloomFilter | None = None,
    broadcasts: list[Broadcast] | None = None,
) -> DataFrame:
    """Remove already-seen URLs; exact semantics, optional Bloom fast path.

    The Bloom path broadcasts the bitset. Pass ``broadcasts`` to receive
    that broadcast and ``destroy()`` it once the result has been consumed;
    without it the broadcast lives as long as the SparkContext.
    """
    seen_urls = seen.select(url_col)
    if bloom is None:
        return candidates.join(seen_urls, url_col, "left_anti")

    spark = candidates.sparkSession
    b_blob = spark.sparkContext.broadcast(bloom.to_bytes())
    if broadcasts is not None:
        broadcasts.append(b_blob)
    k = bloom.k

    @F.pandas_udf("boolean")
    def _maybe_seen(hashes: pd.Series) -> pd.Series:
        # a read-only view of the worker's broadcast value: probing never
        # writes, so no per-batch copy of the bitset
        bits = np.frombuffer(b_blob.value, dtype=np.uint64)
        flt = BloomFilter(len(bits) * 64, k, bits)
        return pd.Series(flt.might_contain_many(hashes.to_numpy()))

    flagged = candidates.withColumn("__maybe_seen", _maybe_seen(F.col(hash_col)))
    definitely_new = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    needs_confirm = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_new = needs_confirm.join(seen_urls, url_col, "left_anti")
    return definitely_new.unionByName(confirmed_new)
