"""Cuckoo kernel of the partitioned URL-seen filter — the deletion-capable
fallback named by the north rule (bloom filters cannot delete; a crawl that
re-queues URLs after content expiry, or retracts poisoned seeds, needs
removal).

Standard cuckoo filter (Fan et al., CoNEXT'14 'Cuckoo Filter: Practically
Better Than Bloom'): buckets of ``SLOTS`` 16-bit fingerprints; key x lives in
bucket ``i1 = h(x) % m`` or ``i2 = i1 XOR h(fp(x)) % m`` (partial-key cuckoo
hashing, so i1 is recoverable from (i2, fp) — required for eviction chains
and deletes).  Partitioning, the ``n_partitions`` check, the co-partitioned
probe and the exact-rescue anti-join are ``bloom.py``'s: each partition's
table is built in one ``applyInPandas`` pass, and ``cuckoo_anti_join`` runs
``bloom.seen_filter_anti_join`` with ``cuckoo_contains`` as its kernel (a
filter positive can NEVER silently drop a URL; a filter negative is
definitely-unseen).

Deletes: ``remove`` drops one copy of the fingerprint from either candidate
bucket — after a delete, membership for that key reports false (no
tombstones, constant space), which a counting Bloom needs 8x space to match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import bloom

SLOTS = 4  # fingerprints per bucket
MAX_KICKS = 500
_FP_BITS = 16
_EMPTY = np.uint16(0)


def _fingerprint(hashes: np.ndarray) -> np.ndarray:
    """Non-zero 16-bit fingerprint from the high hash bits (0 marks empty)."""
    fp = ((hashes >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _bucket1(hashes: np.ndarray, m: int) -> np.ndarray:
    # Mix before reducing mod m: the raw low bits are ALREADY consumed by the
    # pmod(url_hash, n_partitions) partition key, so within one partition
    # every key shares them — `h % m` (m a power of two divisible by P)
    # would confine all primary buckets to m/P slots, and measured insert
    # failure then hits at ~55% load instead of the designed 84%
    # (code-review finding, verified by simulation).  The SplitMix64-style
    # multiply+xorshift decorrelates bucket choice from the partition bits.
    h = hashes * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(29)
    return (h % np.uint64(m)).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    # partial-key hashing: i2 = i1 XOR (h(fp) mod m).  m MUST be a power of
    # two so XOR keeps the bucket in range AND alt(alt(b)) == b — the
    # involution eviction chains and deletes depend on (a '% m' here would
    # silently break that symmetry and corrupt lookups after evictions).
    assert m & (m - 1) == 0, "cuckoo bucket count must be a power of two"
    h = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(m)
    return (bucket.astype(np.uint64) ^ h).astype(np.int64)


class CuckooTable:
    """One partition's table: (m buckets x SLOTS) uint16 fingerprints."""

    def __init__(self, m: int, table: np.ndarray | None = None):
        self.m = m
        self.table = table if table is not None else np.zeros((m, SLOTS), dtype=np.uint16)

    # -- single-key ops (used by the per-partition build/remove loops) ------
    def _try_put(self, bucket: int, fp: np.uint16) -> bool:
        row = self.table[bucket]
        empty = np.nonzero(row == _EMPTY)[0]
        if empty.size:
            row[empty[0]] = fp
            return True
        return False

    def insert(self, h: np.uint64, rng_state: int) -> bool:
        fp = _fingerprint(np.array([h], dtype=np.uint64))[0]
        b1 = int(_bucket1(np.array([h], dtype=np.uint64), self.m)[0])
        b2 = int(_alt_bucket(np.array([b1]), np.array([fp]), self.m)[0])
        if self._try_put(b1, fp) or self._try_put(b2, fp):
            return True
        # eviction chain (deterministic slot choice: derived from the state)
        bucket, cur = (b1 if rng_state % 2 == 0 else b2), fp
        for kick in range(MAX_KICKS):
            slot = (rng_state + kick) % SLOTS
            cur, self.table[bucket, slot] = self.table[bucket, slot], cur
            bucket = int(_alt_bucket(np.array([bucket]), np.array([cur]), self.m)[0])
            if self._try_put(bucket, cur):
                return True
        return False  # table too full — caller must resize

    def remove(self, h: np.uint64) -> bool:
        fp = _fingerprint(np.array([h], dtype=np.uint64))[0]
        b1 = int(_bucket1(np.array([h], dtype=np.uint64), self.m)[0])
        b2 = int(_alt_bucket(np.array([b1]), np.array([fp]), self.m)[0])
        for b in (b1, b2):
            hit = np.nonzero(self.table[b] == fp)[0]
            if hit.size:
                self.table[b, hit[0]] = _EMPTY
                return True
        return False

    # -- vectorized probe ---------------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        fp = _fingerprint(hashes)
        b1 = _bucket1(hashes, self.m)
        b2 = _alt_bucket(b1, fp, self.m)
        in1 = (self.table[b1] == fp[:, None]).any(axis=1)
        in2 = (self.table[b2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, m: int, raw: bytes) -> "CuckooTable":
        return cls(m, np.frombuffer(raw, dtype=np.uint16).reshape(m, SLOTS).copy())


CUCKOO_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("n_partitions", IntegerType()),
        StructField("m", LongType()),
        StructField("table", BinaryType()),
    ]
)


def _sized_m(n_keys: int) -> int:
    """Bucket count for n_keys at <= 84% load at SLOTS=4 (the regime where
    cuckoo insert still succeeds w.h.p.), rounded up to a power of two
    (required by partial-key hashing), >= 64."""
    return 1 << max(6, int(np.ceil(np.log2(max(n_keys, 1) / (SLOTS * 0.84)))))


def build_cuckoos(
    seen: DataFrame,
    hash_col: str = "url_hash",
    n_partitions: int = 16,
) -> DataFrame:
    """seen(url_hash) -> cuckoos(partition_id, n_partitions, m, table), each
    partition's m sized from its own key count (``_sized_m``)."""

    def build_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        m = _sized_m(len(pdf))
        t = CuckooTable(m)
        hashes = pdf[hash_col].to_numpy(dtype=np.int64).view(np.uint64)
        for i, h in enumerate(hashes):
            if not t.insert(h, i):
                raise RuntimeError(
                    f"cuckoo partition {key[0]} over capacity (m={m})"
                )
        return pd.DataFrame(
            {"partition_id": [key[0]], "n_partitions": [n_partitions],
             "m": [m], "table": [t.to_bytes()]}
        )

    return (
        seen.withColumn("partition_id", bloom.partition_key(hash_col, n_partitions))
        .groupBy("partition_id")
        .applyInPandas(build_one, CUCKOO_SCHEMA)
    )


def cuckoo_remove(
    cuckoos: DataFrame,
    removals: DataFrame,
    hash_col: str = "url_hash",
    n_partitions: int = 16,
    strict: bool = True,
) -> DataFrame:
    """Delete keys from the filter: co-group removals with their partition's
    table, drop one fingerprint copy per key, emit the updated table.  This
    is the operation Bloom fundamentally cannot do.

    PRECONDITION (standard cuckoo-filter semantics, Fan et al. §3.3): callers
    may only remove keys that were previously inserted.  Deleting a
    never-inserted key whose fingerprint happens to collide would evict
    another key's fingerprint, creating a false NEGATIVE — which breaks the
    'filter negative is definitely-unseen' contract and would silently
    re-crawl seen URLs.  With ``strict=True`` (default) a removal that finds
    no matching fingerprint raises instead of being silently ignored; verify
    membership against the exact seen table first if the removal set may
    contain non-members."""
    keyed = removals.select(
        bloom.partition_key(hash_col, n_partitions).alias("partition_id"), hash_col
    )

    def update_one(key, tables: pd.DataFrame, rems: pd.DataFrame) -> pd.DataFrame:
        if tables.empty:
            if strict and not rems.empty:
                raise RuntimeError(
                    f"cuckoo_remove: partition {key[0]} has {len(rems)} removals "
                    "but no filter table — removals must target inserted keys"
                )
            return tables
        row = tables.iloc[0]
        t = CuckooTable.from_bytes(int(row["m"]), row["table"])
        failed = 0
        for h in rems[hash_col].to_numpy(dtype=np.int64).view(np.uint64):
            if not t.remove(h):
                failed += 1
        if failed and strict:
            raise RuntimeError(
                f"cuckoo_remove: {failed} removal(s) in partition {key[0]} found "
                "no fingerprint — removing never-inserted keys corrupts the "
                "filter (see docstring precondition)"
            )
        return pd.DataFrame(
            {"partition_id": [key[0]], "n_partitions": [n_partitions],
             "m": [t.m], "table": [t.to_bytes()]}
        )

    bloom.check_partitioning(
        cuckoos.select("n_partitions").collect(),
        n_partitions, "cuckoo_remove",
    )
    return cuckoos.groupBy("partition_id").cogroup(
        keyed.groupBy("partition_id")
    ).applyInPandas(update_one, CUCKOO_SCHEMA)


def cuckoo_contains(row: pd.Series, hashes: np.ndarray) -> np.ndarray:
    """Cuckoo kernel: membership mask of uint64 ``hashes`` in one table row."""
    return CuckooTable.from_bytes(int(row["m"]), row["table"]).contains(hashes)


def cuckoo_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoos: DataFrame,
    hash_col: str = "url_hash",
    n_partitions: int = 16,
) -> DataFrame:
    """candidates ∖ seen through the cuckoo kernel (``bloom.seen_filter_anti_join``)."""
    return bloom.seen_filter_anti_join(
        candidates, seen, cuckoos, cuckoo_contains, hash_col, n_partitions
    )
