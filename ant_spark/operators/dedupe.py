"""URL-seen dedupe: exact anti-join + partitioned bloom / cuckoo sidecars.

Reference semantics (``/root/reference/dedupe.go``):
- ``DedupeMap`` (``dedupe.go:41-56``): exact insert-if-absent on the
  normalized URL string; returns only unseen, preserving input order.
- ``DedupeBF`` (``dedupe.go:70-89``): bloom Test-then-Add; false positives
  drop URLs forever — accepted by design.

Spark-native re-expression (SURVEY.md §2.3 J1 / §2.4 A1-A2):
- **exact**: ``candidates LEFT ANTI JOIN seen ON (url_hash, url)`` — the
  hash key drives partitioning (bucket both sides by ``url_hash`` in storage
  for a shuffle-free storage-partitioned join at 10^10 scale); the string
  equality guards against xxhash64 collisions, so exact mode never drops.
  Spark's runtime bloom filter (enabled in session.py) additionally
  pre-filters the probe side inside the join itself.
- **bloom / cuckoo sidecar**: a persistent, partitioned membership structure
  — table ``(bucket, bits)`` with ``bucket = pmod(url_hash, n_buckets)`` —
  maintained distributively via cogrouped ``applyInPandas`` (numpy bit ops,
  no per-row Python). Two uses:
    * ``prefilter`` mode: bloom-negative candidates are *definitely new* and
      skip the exact anti-join entirely (correctness preserved; at scale this
      keeps the anti-join probe side tiny);
    * ``drop`` mode: reference-DedupeBF parity — bloom-positive candidates
      are dropped without consulting the exact set (false-positive losses,
      exactly like the reference accepts).
  The cuckoo variant stores 16-bit fingerprints in 4-slot buckets and
  supports the same test/add contract with ~2 bytes/URL instead of ~1.2
  bytes/URL at 1% fp, plus O(1) membership instead of k probes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# exact dedupe (DedupeMap parity)


def exact_new(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``candidates`` whose (url_hash, url) is absent from ``seen``.

    Both keys: url_hash for cheap shuffle/bucketing, url string equality for
    collision safety — exact mode must never drop (dedupe.go:41-56).
    """
    return candidates.join(
        seen.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
    )


def first_occurrence(
    df: DataFrame, key: str | list[str], order_cols: list[str]
) -> DataFrame:
    """Keep the first row per key in (order_cols) order — reproduces the
    reference's in-batch LoadOrStore ordering (first link wins).

    Callers deduping URLs must pass BOTH (url_hash, url): partitioning on
    the 64-bit hash alone would silently collapse two distinct same-round
    URLs on an xxhash64 collision — statistically expected at 10^10 URLs."""
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# bloom sidecar — partitioned, persistent, maintained with applyInPandas

_MIX_SEEDS = np.array(
    [0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB,
     0xD6E8FEB86659FD93, 0xA5A5A5A5A5A5A5A5, 0xC2B2AE3D27D4EB4F,
     0x165667B19E3779F9, 0x27D4EB2F165667C5],
    dtype=np.uint64,
)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.copy()
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(k, n) bit positions for each hash."""
    hs = hashes.astype(np.uint64)
    return np.stack(
        [_mix64(hs ^ _MIX_SEEDS[i % len(_MIX_SEEDS)] + np.uint64(i)) % np.uint64(m_bits)
         for i in range(k)]
    )


def bloom_test(bits: np.ndarray, hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """boolean array: maybe-present for each hash (vectorized)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = _positions(hashes, k, m_bits)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit_msk = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    present = np.ones(len(hashes), dtype=bool)
    for i in range(k):
        present &= (bits[byte_idx[i]] & bit_msk[i]) != 0
    return present


def bloom_add(bits: np.ndarray, hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    if len(hashes) == 0:
        return bits
    pos = _positions(hashes, k, m_bits)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    bit_msk = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel()
    np.bitwise_or.at(bits, byte_idx, bit_msk)
    return bits


BLOOM_STATE = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
        StructField("n_items", LongType(), False),
    ]
)


def _zero_state(spark, n_buckets: int, n_bytes: int) -> DataFrame:
    """A filter state of ``n_buckets`` all-zero ``n_bytes`` rows, built by
    the executors: a createDataFrame of the zeros would ship them inside
    the tasks. The length reads ``id`` (``id & 0``; the optimizer rewrites
    ``id * 0`` to 0) so that it cannot fold the zeros into a plan literal."""
    zeros = F.repeat(F.lit("00"), (F.col("id").bitwiseAND(0) + n_bytes).cast("int"))
    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        F.unhex(zeros).alias("bits"),
        F.lit(0).cast("long").alias("n_items"),
    )


_TEST_OUT = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("maybe_seen", BooleanType(), False),
    ]
)


class BloomSidecar:
    """Partitioned bloom membership over int64 url_hash values.

    State lives in a DataFrame ``(bucket, bits, n_items)``; test and add are
    cogrouped applyInPandas jobs shuffling only on ``bucket`` — at cluster
    scale, both sides are bucketed by the same key so the shuffle is a local
    zip. Sized for ~``expected_per_bucket`` items at ~1% fp with k=7.
    """

    def __init__(self, n_buckets: int = 64, m_bits: int = 1 << 22, k: int = 7):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k

    def empty_state(self, spark) -> DataFrame:
        return _zero_state(spark, self.n_buckets, self.m_bits // 8)

    def _bucket(self, df: DataFrame, col: str = "url_hash") -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.col(col), F.lit(self.n_buckets)).cast("int")
        )

    def test(self, hashes_df: DataFrame, state: DataFrame) -> DataFrame:
        """hashes_df(url_hash) → (url_hash, maybe_seen)."""
        k, m = self.k, self.m_bits

        def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=["url_hash", "maybe_seen"])
            hs = left["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            if right.empty:
                maybe = np.zeros(len(hs), dtype=bool)
            else:
                bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
                maybe = bloom_test(bits, hs, k, m)
            return pd.DataFrame(
                {"url_hash": left["url_hash"].to_numpy(), "maybe_seen": maybe}
            )

        left = self._bucket(hashes_df.select("url_hash"))
        return (
            left.groupBy("bucket")
            .cogroup(state.groupBy("bucket"))
            .applyInPandas(fn, _TEST_OUT)
        )

    def add(self, hashes_df: DataFrame, state: DataFrame) -> DataFrame:
        """→ new state with hashes added (buckets without additions pass
        through unchanged)."""
        k, m, mb = self.k, self.m_bits, self.m_bits // 8

        def fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            bucket = int(key[0])
            if right.empty:
                bits = np.zeros(mb, dtype=np.uint8)
                n = 0
            else:
                bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8).copy()
                n = int(right["n_items"].iloc[0])
            if not left.empty:
                hs = left["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
                bloom_add(bits, hs, k, m)
                n += len(hs)
            return pd.DataFrame(
                {"bucket": [bucket], "bits": [bits.tobytes()], "n_items": [n]}
            )

        left = self._bucket(hashes_df.select("url_hash"))
        return (
            left.groupBy("bucket")
            .cogroup(state.groupBy("bucket"))
            .applyInPandas(fn, BLOOM_STATE)
        )


# --------------------------------------------------------------------------
# cuckoo sidecar — same contract, fingerprint-based (north_star structure)

_CUCKOO_SLOTS = 4
_MAX_KICKS = 200


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    fp = (_mix64(hashes.astype(np.uint64)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


class CuckooSidecar:
    """Partitioned cuckoo filter (16-bit fingerprints, 4-way buckets).

    Same (bucket, bits) state layout as the bloom sidecar; ``bits`` is the
    uint16 slot table of ``n_slots`` entries. Membership: fp present in
    either of its two candidate buckets. Supports delete-free test/add like
    reference DedupeBF (Test-then-Add, dedupe.go:77-89).
    """

    def __init__(self, n_buckets: int = 64, n_slots: int = 1 << 20):
        assert n_slots % _CUCKOO_SLOTS == 0
        self.n_buckets = n_buckets
        # the alternate-bucket relation i2 = i1 ^ (mix(fp) % n_cbuckets) is
        # only self-inverse when n_cbuckets is a power of two (xor of two
        # values below 2^k stays below 2^k); round UP so evicted fingerprints
        # stay findable for any user-supplied bloom_bits-derived size.
        n_cb = max(1, n_slots // _CUCKOO_SLOTS)
        if n_cb & (n_cb - 1):
            n_cb = 1 << n_cb.bit_length()
        self.n_cbuckets = n_cb
        self.n_slots = n_cb * _CUCKOO_SLOTS

    def empty_state(self, spark) -> DataFrame:
        return _zero_state(spark, self.n_buckets, self.n_slots * 2)

    def _index_pair(self, hashes: np.ndarray, fps: np.ndarray):
        i1 = (_mix64(hashes ^ np.uint64(0xDEADBEEF)) % np.uint64(self.n_cbuckets)).astype(np.int64)
        i2 = (i1 ^ (_mix64(fps.astype(np.uint64)) % np.uint64(self.n_cbuckets)).astype(np.int64)) % self.n_cbuckets
        return i1, i2

    def _test_np(self, table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        fps = _fingerprints(hashes)
        i1, i2 = self._index_pair(hashes, fps)
        t = table.reshape(self.n_cbuckets, _CUCKOO_SLOTS)
        present = np.zeros(len(hashes), dtype=bool)
        for s in range(_CUCKOO_SLOTS):
            present |= t[i1, s] == fps
            present |= t[i2, s] == fps
        return present

    def _add_np(self, table: np.ndarray, hashes: np.ndarray) -> None:
        t = table.reshape(self.n_cbuckets, _CUCKOO_SLOTS)
        fps = _fingerprints(hashes)
        i1s, i2s = self._index_pair(hashes, fps)
        rng = np.random.default_rng(12345)  # deterministic eviction choices
        for fp, i1, i2 in zip(fps, i1s, i2s):
            placed = False
            for idx in (i1, i2):
                row = t[idx]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            idx = int(i1)
            cur = fp
            for _ in range(_MAX_KICKS):
                s = int(rng.integers(_CUCKOO_SLOTS))
                cur, t[idx, s] = t[idx, s], cur
                alt = (idx ^ int(_mix64(np.array([cur], dtype=np.uint64))[0] % self.n_cbuckets)) % self.n_cbuckets
                idx = alt
                row = t[idx]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = cur
                    cur = 0
                    break
            # if still not placed after MAX_KICKS: drop (filter over capacity
            # — matches bloom's lossy acceptance; size generously instead)

    def test(self, hashes_df: DataFrame, state: DataFrame) -> DataFrame:
        self_ = self

        def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=["url_hash", "maybe_seen"])
            hs = left["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            if right.empty:
                maybe = np.zeros(len(hs), dtype=bool)
            else:
                table = np.frombuffer(right["bits"].iloc[0], dtype=np.uint16)
                maybe = self_._test_np(table, hs)
            return pd.DataFrame(
                {"url_hash": left["url_hash"].to_numpy(), "maybe_seen": maybe}
            )

        left = hashes_df.select("url_hash").withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
        )
        return (
            left.groupBy("bucket").cogroup(state.groupBy("bucket")).applyInPandas(fn, _TEST_OUT)
        )

    def add(self, hashes_df: DataFrame, state: DataFrame) -> DataFrame:
        self_ = self
        n_slots = self.n_slots

        def fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            bucket = int(key[0])
            if right.empty:
                table = np.zeros(n_slots, dtype=np.uint16)
                n = 0
            else:
                table = np.frombuffer(right["bits"].iloc[0], dtype=np.uint16).copy()
                n = int(right["n_items"].iloc[0])
            if not left.empty:
                hs = left["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
                self_._add_np(table, hs)
                n += len(hs)
            return pd.DataFrame(
                {"bucket": [bucket], "bits": [table.tobytes()], "n_items": [n]}
            )

        left = hashes_df.select("url_hash").withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
        )
        return (
            left.groupBy("bucket").cogroup(state.groupBy("bucket")).applyInPandas(fn, BLOOM_STATE)
        )
