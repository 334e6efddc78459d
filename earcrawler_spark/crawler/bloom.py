"""Sharded Bloom filter for the URL-seen set — numpy bit arrays, one per
shard, each rebuilt by one task from its previous bytes plus new hashes —
and every Spark kernel of the seen filter (bloom or cuckoo), in a
broadcast and a shard-local form with identical outputs.

Role (north rule): probabilistic pre-filter in front of the exact
anti-join (reference's exact dict-membership skip,
earCrawler/core/ear_crawler.py:176-177). Candidate URLs that the bloom
reports *definitely-unseen* skip the shuffle against the (huge) seen
table entirely; only bloom-positives are verified exactly. False
positives cost one extra join row; false negatives are impossible, so
exactness is preserved.

Sharding: shard id = int(url_hash_hex[:8], 16) % n_shards — stable across
runs and partition layouts; ``shard_col`` is its one JVM-side form. Each
shard's filter is small enough to broadcast; at 10^10 URLs you'd size
m/n≈10 bits → ~12 GB total split over e.g. 4096 shards of ~3 MB, each
probed only by its shard's rows.

Hash functions: k indexes derived from two independent 64-bit halves of
the url's sha256 (Kirsch-Mitzenmacher double hashing) — deterministic,
no extra hashing work since the sha256 hex is already the seen-set key.
A batch of keys is decoded in one ``bytes.fromhex`` over the joined hex
prefixes; keys need at least 32 hex chars (h1 ‖ h2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module global: pandas_udf resolves its type hints here
from pyspark.sql import functions as F
from pyspark.sql import types as T

HEX64 = 16  # hex chars per 64-bit half
FILTER_SCHEMA = "shard int, bits binary"
# Fingerprints a new cuckoo shard is sized for; persisted with the other
# filter parameters in the crawl manifest's filter_config.
CUCKOO_CAPACITY_PER_SHARD = 1 << 17


def _decode(hash_hex, n_hex: int, dtype: str) -> np.ndarray:
    """The first ``n_hex`` hex chars of every key as big-endian words,
    decoded in one pass. A shorter key would shift every later key in the
    joined buffer, so it raises instead."""
    joined = "".join([h[:n_hex] for h in hash_hex])
    if len(joined) != n_hex * len(hash_hex):
        raise ValueError(f"hash keys need at least {n_hex} hex chars")
    raw = bytes.fromhex(joined)
    if 2 * len(raw) != len(joined):  # fromhex skips whitespace
        raise ValueError("hash keys must be hex digits only")
    return np.frombuffer(raw, dtype)


def _h1_h2(hash_hex: "np.ndarray | list[str]") -> tuple[np.ndarray, np.ndarray]:
    halves = _decode(hash_hex, 2 * HEX64, ">u8").reshape(-1, 2).astype(np.uint64)
    return halves[:, 0], halves[:, 1]


class BloomShard:
    """Fixed-size bit-array bloom filter over sha256-hex keys."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = np.uint64(n_bits)
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        i = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (h1 + i * h2) % self.n_bits

    def add_many(self, hash_hex) -> None:
        if len(hash_hex) == 0:
            return
        pos = self._positions(*_h1_h2(hash_hex)).ravel()
        np.bitwise_or.at(self.bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, hash_hex) -> np.ndarray:
        """Vectorized membership probe → bool array (True = maybe seen)."""
        if len(hash_hex) == 0:
            return np.zeros(0, dtype=bool)
        return self.contains_decoded(*_h1_h2(hash_hex))

    def contains_decoded(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """contains_many over keys already decoded by ``_h1_h2``."""
        pos = self._positions(h1, h2)
        byte_idx = (pos >> 3).astype(np.int64)
        bit_mask = (1 << (pos & 7)).astype(np.uint8)
        hit = (self.bits[byte_idx] & bit_mask) != 0
        return hit.all(axis=0)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, n_hashes: int = 7) -> "BloomShard":
        bits = np.frombuffer(raw, dtype=np.uint8).copy()
        return cls(len(bits) * 8, n_hashes, bits)


def shard_of(hash_hex: str, n_shards: int) -> int:
    return int(hash_hex[:8], 16) % n_shards


def shard_of_series(hash_hex_series, n_shards: int) -> np.ndarray:
    return (_decode(hash_hex_series, 8, ">u4").astype(np.int64) % n_shards).astype(np.int32)


def shard_col(n_shards: int):
    """``shard_of`` over the ``url_hash`` column, JVM-side: the shard id
    every filter plan groups, joins or probes by."""
    return (F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards).cast("int")


# --- executor-side probe path --------------------------------------------
# Re-materializing a BloomShard from broadcast bytes on every Arrow batch
# costs a full bit-array memcpy per (batch, shard) — at 32 workers that
# memory traffic dominates the probe. Shards are immutable on the probe
# path, so each Python worker caches zero-copy (read-only frombuffer)
# views keyed by (broadcast id, shard).
# id(raw) is only a safe cache key while the keyed bytes object is alive —
# CPython reuses ids after garbage collection, and a recycled id returning a
# stale filter could produce FALSE NEGATIVES. The cache therefore stores a
# strong reference to the exact bytes object alongside the parsed shard:
# while an entry exists, its key's id cannot be recycled, and an identity
# check guards the lookup. Only broadcast bytes belong here: Arrow→pandas
# makes new bytes objects per conversion, which would pin without a hit.
_SHARD_CACHE: dict[int, tuple[bytes, object]] = {}


def _shard_view(raw: bytes, kind: str = "bloom", n_hashes: int = 7):
    """A read-only shard over ``raw``; zero-copy for bloom."""
    if kind == "cuckoo":
        from earcrawler_spark.crawler.cuckoo import CuckooShard

        return CuckooShard.from_bytes(raw)
    bits = np.frombuffer(raw, dtype=np.uint8)
    return BloomShard(len(bits) * 8, n_hashes, bits)


def _cached_shard(raw: bytes, kind: str = "bloom"):
    key = id(raw)
    hit = _SHARD_CACHE.get(key)
    if hit is not None and hit[0] is raw:
        return hit[1]
    if len(_SHARD_CACHE) > 512:
        _SHARD_CACHE.clear()
    b = _shard_view(raw, kind)
    _SHARD_CACHE[key] = (raw, b)
    return b


def probe_hashes(
    hashes: "list[str]", table: dict[int, bytes], n_shards: int, kind: str = "bloom"
) -> np.ndarray:
    """Vectorized maybe-seen probe for a batch of sha256-hex keys against
    bloom or cuckoo shards. → bool array; True = maybe seen (must be
    verified by the exact anti-join), False = definitely new."""
    out = np.zeros(len(hashes), dtype=bool)
    if len(hashes) == 0:
        return out
    h1, h2 = _h1_h2(hashes)
    shards = (h1 >> np.uint64(32)) % np.uint64(n_shards)  # == shard_of
    for s in np.unique(shards):
        raw = table.get(int(s))
        if raw is None:
            continue
        idx = np.flatnonzero(shards == s)
        out[idx] = _cached_shard(raw, kind).contains_decoded(h1[idx], h2[idx])
    return out


def _adder(kind: str, n_bits: int, cuckoo_capacity: int):
    """The per-shard build step of both build plans: ``add(shard_id, raw,
    hashes)`` loads the shard from ``raw`` (or creates an empty one when
    None), adds the hashes and returns its (shard, bits) row."""

    def add(shard_id: int, raw: bytes | None, hashes: list[str]) -> pd.DataFrame:
        if kind == "cuckoo":
            from earcrawler_spark.crawler.cuckoo import CuckooShard

            f = CuckooShard.sized_for(cuckoo_capacity) if raw is None else CuckooShard.from_bytes(raw)
        else:
            f = BloomShard(n_bits, 7) if raw is None else BloomShard.from_bytes(raw)
        f.add_many(hashes)
        return pd.DataFrame({"shard": [shard_id], "bits": [f.to_bytes()]})

    return add


# --- broadcast kernels: the shard map ships to every executor ---------------


def probe_maybe_seen_broadcast(
    candidates, shards: dict[int, bytes], n_shards: int, kind: str = "bloom"
):
    """Maybe-seen probe of each Arrow batch through ``probe_hashes``
    against the broadcast shard map. → candidates + `_maybe` boolean."""
    shards_bc = candidates.sparkSession.sparkContext.broadcast(shards)

    @F.pandas_udf("boolean")
    def maybe_seen(hashes: pd.Series) -> pd.Series:
        res = probe_hashes(hashes.tolist(), shards_bc.value, n_shards, kind)
        return pd.Series(res, index=hashes.index)

    return candidates.withColumn("_maybe", maybe_seen("url_hash"))


def build_filter_broadcast(
    hashes_df,
    previous: dict[int, bytes],
    n_shards: int,
    kind: str = "bloom",
    n_bits: int = 1 << 20,
    cuckoo_capacity: int = CUCKOO_CAPACITY_PER_SHARD,
) -> dict[int, bytes]:
    """Extend the shard map ``previous`` with new hashes: each task loads
    its shard's previous bytes from a broadcast and extends them; the
    driver collects only the rebuilt (shard, bits) rows, never the
    hashes. → the merged shard map."""
    previous_bc = hashes_df.sparkSession.sparkContext.broadcast(previous)
    add = _adder(kind, n_bits, cuckoo_capacity)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        return add(shard, previous_bc.value.get(shard), pdf["url_hash"].tolist())

    delta = {
        r["shard"]: bytes(r["bits"])
        for r in hashes_df.withColumn("shard", shard_col(n_shards))
        .groupBy("shard")
        .applyInPandas(build, FILTER_SCHEMA)
        .collect()
    }
    return {**previous, **delta}


# --- shard-local kernels: rows cogroup with their shard's (shard, bits) row -
# At 10^10 URLs the filter is ~12 GB total, far past broadcast range, but
# any one shard is a few MB; the cost is one shuffle keyed by shard.


def _cogroup_shards(left_df, bloom_df, fn, schema):
    return (
        left_df.groupBy("_shard")
        .cogroup(bloom_df.withColumnRenamed("shard", "_shard").groupBy("_shard"))
        .applyInPandas(fn, schema)
    )


def _probe_group(left: pd.DataFrame, right: pd.DataFrame, kind: str) -> pd.DataFrame:
    """One shard's join probe. The shard is a fresh view, not a cache
    entry: ``right``'s bytes are new objects on every call."""
    if len(left) == 0:
        return left.assign(_maybe=pd.Series([], dtype=bool))
    if len(right) == 0:
        return left.assign(_maybe=False)
    shard = _shard_view(bytes(right["bits"].iloc[0]), kind)
    return left.assign(_maybe=shard.contains_many(left["url_hash"].tolist()))


def probe_maybe_seen_join(candidates, bloom_df, n_shards: int, kind: str = "bloom"):
    """Maybe-seen probe WITHOUT a whole-filter broadcast: candidates
    shuffle to their shard and probe its bits locally.
    → candidates + `_maybe` boolean."""
    cand = candidates.withColumn("_shard", shard_col(n_shards))
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return _probe_group(left, right, kind)

    return _cogroup_shards(cand, bloom_df, probe, out_schema).drop("_shard")


def _rewrite_join(hashes_df, bloom_df, n_shards: int, rewrite):
    """Shards with hashes become ``rewrite(shard_id, raw, hashes)`` (raw
    None for a shard with no row yet); the others (right-only groups)
    pass through unchanged. → new (shard, bits)."""
    hashed = hashes_df.select("url_hash", shard_col(n_shards).alias("_shard"))

    def apply(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return right.rename(columns={"_shard": "shard"})[["shard", "bits"]]
        raw = bytes(right["bits"].iloc[0]) if len(right) else None
        return rewrite(int(left["_shard"].iloc[0]), raw, left["url_hash"].tolist())

    return _cogroup_shards(hashed, bloom_df, apply, FILTER_SCHEMA)


def extend_filter_join(
    hashes_df,
    bloom_df,
    n_shards: int,
    kind: str = "bloom",
    n_bits: int = 1 << 20,
    cuckoo_capacity: int = CUCKOO_CAPACITY_PER_SHARD,
):
    """Filter extension WITHOUT broadcasting the previous shards: new
    hashes cogroup with their shard's bits. → new (shard, bits)."""
    return _rewrite_join(hashes_df, bloom_df, n_shards, _adder(kind, n_bits, cuckoo_capacity))


def _delete(shard_id: int, raw: bytes | None, hashes: list[str]) -> pd.DataFrame:
    if raw is None:  # expired hashes for a shard with no bits: nothing to delete
        return pd.DataFrame({"shard": [], "bits": []})
    from earcrawler_spark.crawler.cuckoo import CuckooShard

    f = CuckooShard.from_bytes(raw)
    f.delete_many(hashes)
    return pd.DataFrame({"shard": [shard_id], "bits": [f.to_bytes()]})


def delete_filter_join(expired_df, bloom_df, n_shards: int):
    """Cuckoo deletion WITHOUT broadcasting the shard map: expired hashes
    cogroup with their shard's bits, and the task deletes their
    fingerprints locally — the retention path never routes the largest
    state object in the system through the driver. → new (shard, bits)."""
    return _rewrite_join(expired_df, bloom_df, n_shards, _delete)
