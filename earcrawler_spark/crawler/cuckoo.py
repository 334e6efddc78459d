"""Cuckoo-filter seen-set shards — the deletion-capable alternative to
the bloom shards (north rule: "partitioned bloom/cuckoo URL-seen set").

Why cuckoo: a crawl with retention (re-crawl URLs after expiry, sliding
recency windows — cf. the learned-cuckoo-over-sliding-windows line of
work) must REMOVE keys from the approximate filter; blooms can't delete.
Partial-key cuckoo hashing (Fan et al., CoNLP'14 design): 16-bit
fingerprints, 4 slots/bucket, alternate bucket = i ⊕ H(fp).

Determinism: the classic random eviction walk is replaced by a
deterministic victim choice (slot = kick counter mod 4), so shard bytes
are a pure function of the insertion sequence — required for the
engine's reproducible checkpoints.

Same executor contract as BloomShard: build/extend per shard inside
applyInPandas, probe via broadcast bytes; exactness is always backstopped
by the seen-table anti-join (false positives cost a join row, false
negatives cannot happen for present keys).
"""

from __future__ import annotations

import numpy as np

from earcrawler_spark.crawler.bloom import _h1_h2

SLOTS = 4
MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)


class CuckooShard:
    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        # power-of-two bucket count: the alternate-bucket relation
        # i2 = i1 XOR (H(fp) & mask) must be an involution (alt(alt(i))==i)
        # or eviction breaks lookup — xor-then-mod is NOT one.
        assert n_buckets > 0 and (n_buckets & (n_buckets - 1)) == 0
        self.n_buckets = n_buckets
        self._mask = n_buckets - 1
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        )

    @classmethod
    def sized_for(cls, expected_items: int, load: float = 0.8) -> "CuckooShard":
        need = max(64, int(expected_items / (SLOTS * load)) + 1)
        n = 1 << (need - 1).bit_length()
        return cls(n_buckets=n)

    # -- hashing -------------------------------------------------------
    def _fp_and_buckets(self, hash_hex: str) -> tuple[int, int, int]:
        fp = int(hash_hex[16:20], 16) or 1  # 0 is the empty sentinel
        i1 = int(hash_hex[:16], 16) & self._mask
        return fp, i1, self._alt(i1, fp)

    def _alt(self, i: int, fp: int) -> int:
        return (i ^ int(np.uint64(fp) * _FP_MIX)) & self._mask

    # -- ops -----------------------------------------------------------
    def add(self, hash_hex: str) -> None:
        fp, i1, i2 = self._fp_and_buckets(hash_hex)
        for i in (i1, i2):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # deterministic eviction walk
        i, cur = i1, fp
        for kick in range(MAX_KICKS):
            slot = kick % SLOTS
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = self._alt(i, cur)
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                return
        raise OverflowError(
            f"cuckoo shard full (n_buckets={self.n_buckets}); resize the shard"
        )

    def add_many(self, hashes) -> None:
        for h in hashes:
            self.add(h)

    def contains_many(self, hashes) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        return self.contains_decoded(*_h1_h2(hashes))

    def contains_decoded(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """contains_many over keys decoded by ``bloom._h1_h2``: the same
        fingerprint and buckets as ``_fp_and_buckets``, batch-wide."""
        fp = (h2 >> np.uint64(48)).astype(np.uint16)  # hex chars 16:20
        fp[fp == 0] = 1
        mask = np.uint64(self._mask)
        i1 = h1 & mask
        i2 = (i1 ^ (fp.astype(np.uint64) * _FP_MIX)) & mask
        fp = fp[:, None]
        return (self.table[i1] == fp).any(axis=1) | (self.table[i2] == fp).any(axis=1)

    def delete_many(self, hashes) -> int:
        """Remove one fingerprint occurrence per present key → #deleted.
        (The operation blooms cannot provide; enables seen-set retention.)"""
        n = 0
        for h in hashes:
            fp, i1, i2 = self._fp_and_buckets(h)
            for i in (i1, i2):
                idx = np.nonzero(self.table[i] == fp)[0]
                if len(idx):
                    self.table[i, idx[0]] = 0
                    n += 1
                    break
        return n

    # -- serialization ---------------------------------------------------
    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "CuckooShard":
        arr = np.frombuffer(raw, dtype=np.uint16).copy().reshape(-1, SLOTS)
        return cls(n_buckets=arr.shape[0], table=arr)
