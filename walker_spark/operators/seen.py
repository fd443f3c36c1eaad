"""Partitioned Bloom URL-seen filter + exact anti-join (J2).

Walker dedups with two in-memory hash maps (``scrapeloop.go:361-367``:
enqueue iff ∉ results ∧ ∉ jobs). At 10^10 URLs an exact driver-side set
is impossible, so the north rule prescribes: a Bloom filter sharded by
``host_hash`` partition, merged via ``treeAggregate``, as a *prefilter*,
with an exact ``left_anti`` join as the authority. Bloom semantics make
this exactly correct:

* bloom says NO  → URL definitely unseen → keep, skip the join;
* bloom says YES → maybe seen → route through the exact anti-join.

False positives only cost join traffic, never a dropped URL; false
negatives don't exist. The anti-join input shrinks to (new ∩ maybe-seen),
which after a few rounds is a small fraction of the candidate set.

Shards are numpy bit arrays (P shards × m bits, k hashes), built and
incrementally extended with ``RDD.treeAggregate`` (depth 2) so merge
traffic is executor→executor tree-shaped, not all-to-driver.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.hashing import stable_hash64

__all__ = ["BloomShards", "split_by_bloom", "seen_anti_join"]


class BloomShards:
    """P Bloom shards; shard = stable_hash64(url) % P (the engine's
    host-hash partitioning uses the same url-hash family, so a shard maps
    onto a frontier partition)."""

    def __init__(self, n_shards: int = 32, bits_per_shard: int = 1 << 20, n_hashes: int = 5):
        self.n_shards = n_shards
        self.bits = bits_per_shard
        self.k = n_hashes
        self.arrays = np.zeros((n_shards, bits_per_shard // 8), dtype=np.uint8)
        self.count = 0

    @classmethod
    def sized_for(cls, expected: int, n_shards: int = 32, fpp: float = 0.01) -> "BloomShards":
        expected = max(expected, 1024)
        m_total = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        per_shard = max(1 << 14, 1 << math.ceil(math.log2(max(1, m_total // n_shards))))
        k = max(1, round(m_total / expected * math.log(2)))
        return cls(n_shards, per_shard, min(k, 8))

    # -- pure bit math (runs on executors inside treeAggregate/UDFs) --
    # Probing is batch-vectorized: the only per-url Python work is the
    # two blake2b hashes; index/gather/compare run as a handful of numpy
    # ops per *batch*. At 10^10 URLs the probe sits on the per-round hot
    # path, so per-row numpy-call overhead would dominate it.
    _CHUNK = 1 << 17  # bounds the (N, k) index matrices to a few MB

    def _positions_batch(self, urls: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(shard[N], idx[N, k]) — identical bit positions to the
        historical scalar path (uint64 wraparound arithmetic)."""
        n = len(urls)
        h = np.fromiter((stable_hash64(u) for u in urls), dtype=np.uint64, count=n)
        h2 = np.fromiter(
            (stable_hash64("b2:" + u) for u in urls), dtype=np.uint64, count=n
        ) | np.uint64(1)
        shard = (h % np.uint64(self.n_shards)).astype(np.int64)
        h1 = h >> np.uint64(6)
        ks = np.arange(self.k, dtype=np.uint64)[None, :]
        idx = (h1[:, None] + ks * (h2[:, None] & np.uint64(0xFFFFFFFF))) % np.uint64(self.bits)
        return shard, idx.astype(np.int64)

    def add_batch(self, urls: list[str]) -> None:
        for lo in range(0, len(urls), self._CHUNK):
            chunk = urls[lo : lo + self._CHUNK]
            shard, idx = self._positions_batch(chunk)
            flat = self.arrays.reshape(-1)
            pos = (shard[:, None] * (self.bits // 8) + (idx >> 3)).reshape(-1)
            masks = (np.uint8(1) << (idx & 7).astype(np.uint8)).reshape(-1)
            np.bitwise_or.at(flat, pos, masks)
        self.count += len(urls)

    def contains_batch(self, urls: list[str]) -> np.ndarray:
        out = np.empty(len(urls), dtype=bool)
        for lo in range(0, len(urls), self._CHUNK):
            chunk = urls[lo : lo + self._CHUNK]
            shard, idx = self._positions_batch(chunk)
            masks = (np.uint8(1) << (idx & 7).astype(np.uint8))
            got = self.arrays[shard[:, None], idx >> 3] & masks
            out[lo : lo + len(chunk)] = (got == masks).all(axis=1)
        return out

    def add(self, url: str) -> None:
        self.add_batch([url])

    def contains(self, url: str) -> bool:
        return bool(self.contains_batch([url])[0])

    def merge(self, other: "BloomShards") -> "BloomShards":
        np.bitwise_or(self.arrays, other.arrays, out=self.arrays)
        self.count += other.count
        return self

    # -- distributed build --
    def add_urls_distributed(self, urls_df: DataFrame, depth: int = 2) -> "BloomShards":
        """OR-in every url of ``urls_df`` (column ``url``): one local
        bloom per partition built with batch bit math, tree-merged
        executor→executor (never all-to-driver)."""
        params = (self.n_shards, self.bits, self.k)
        chunk = self._CHUNK

        def build(rows):
            acc = None
            batch: list[str] = []
            for row in rows:
                batch.append(row[0])
                if len(batch) >= chunk:
                    if acc is None:
                        acc = BloomShards(*params)
                    acc.add_batch(batch)
                    batch = []
            if batch:
                if acc is None:
                    acc = BloomShards(*params)
                acc.add_batch(batch)
            if acc is not None:
                yield acc

        def comb_op(a: BloomShards | None, b: BloomShards | None):
            if a is None:
                return b
            if b is None:
                return a
            return a.merge(b)

        delta = urls_df.select("url").rdd.mapPartitions(build).treeAggregate(
            None, comb_op, comb_op, depth=depth
        )
        if delta is not None:
            self.merge(delta)
        return self


def split_by_bloom(cands: DataFrame, bloom: BloomShards, key: str = "url") -> DataFrame:
    """Adds ``maybe_seen`` (bool) from the broadcast bloom shards,
    probing on the ``key`` column."""
    spark = cands.sparkSession
    bc = spark.sparkContext.broadcast((bloom.n_shards, bloom.bits, bloom.k, bloom.arrays))

    @pandas_udf("boolean")
    def maybe_seen(urls: pd.Series) -> pd.Series:
        n_shards, bits, k, arrays = bc.value
        probe = BloomShards(n_shards, bits, k)
        probe.arrays = arrays
        return pd.Series(probe.contains_batch(urls.tolist()))

    return cands.withColumn("maybe_seen", maybe_seen(F.col(key)))


# seen tables at or below this row count broadcast into the anti-join
# (urls are ~50-100 B, so the cap bounds the built relation to tens of
# MB). The crawl loop tracks the exact seen row count from parquet
# footers, so the decision costs zero jobs and is scale-adaptive: early
# rounds (and sandbox-sized crawls) skip the candidate-side shuffle
# entirely, while a production-sized seen table keeps the shuffle
# anti-join (billions of rows can never broadcast).
SEEN_BROADCAST_MAX = 1_000_000


def seen_anti_join(
    cands: DataFrame,
    seen: DataFrame,
    bloom: BloomShards | None,
    key: str = "url",
    seen_rows: int | None = None,
) -> DataFrame:
    """The correctness-critical J2: candidates that are genuinely new.

    ``cands``: one row per distinct candidate, keyed by ``key`` (the raw
    normalized url, or the canonical form in north-rule canonical mode).
    ``seen``: the exact seen table (column ``url`` holding the same key
    kind). With a bloom, only the maybe-seen slice pays the shuffle; the
    bloom-negative slice unions in for free. ``seen_rows`` (exact count,
    when the caller knows it) lets a small seen side broadcast — same
    ``left_anti`` semantics, no exchange of the candidate side.
    """
    s = seen.select(F.col("url").alias("_seen_key"))
    small = seen_rows is not None and 0 <= seen_rows <= SEEN_BROADCAST_MAX
    if bloom is None:
        if small:
            s = F.broadcast(s)
        return cands.join(s, cands[key] == s["_seen_key"], "left_anti")
    tagged = split_by_bloom(cands, bloom, key)
    fresh = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    if small:
        s = F.broadcast(s)
    verified = maybe.join(s, maybe[key] == s["_seen_key"], "left_anti")
    return fresh.unionByName(verified)
