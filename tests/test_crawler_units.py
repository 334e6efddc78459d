"""Unit tests for crawl-engine components (reference test style:
literal expected values — tests/core/test_ear_crawler.py:25-71)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from earcrawler_spark.crawler import bloom
from earcrawler_spark.crawler.bloom import (
    BloomShard,
    _h1_h2,
    _probe_group,
    probe_hashes,
    shard_of,
    shard_of_series,
)
from earcrawler_spark.crawler.cuckoo import CuckooShard
from earcrawler_spark.crawler.canonicalize import canonicalize_one
from earcrawler_spark.crawler.robots import parse_robots_txt
from earcrawler_spark.crawler.spans import parse_html


def test_span_extraction_matches_reference_semantics():
    # reference: find_all("p") → whitespace-normalize → drop empty,
    # order preserved; media interleaved in document position.
    html = (
        "<html><body>"
        "<p>  Export   Administration\nRegulations </p>"
        '<img src="https://bis.doc.gov/media/1.bin">'
        "<p>See 85 FR 12345 for details.</p>"
        "<p>   </p><p></p>"
        '<video src="https://bis.doc.gov/media/3.bin">'
        '<a href="https://bis.doc.gov/page/2">next</a>'
        "<p>contact compliance@example.com or 202-555-1212</p>"
        "</body></html>"
    )
    spans, links = parse_html(html)
    assert spans == [
        {"kind": "text", "text": "Export Administration Regulations", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "https://bis.doc.gov/media/1.bin", "offset": 1},
        {"kind": "text", "text": "See 85 FR 12345 for details.", "media_ref": "", "offset": 2},
        {"kind": "media", "text": "", "media_ref": "https://bis.doc.gov/media/3.bin", "offset": 3},
        {"kind": "text", "text": "contact compliance@example.com or 202-555-1212", "media_ref": "", "offset": 4},
    ]
    assert links == ["https://bis.doc.gov/page/2"]


def test_canonicalize():
    cases = {
        "HTTPS://BIS.DOC.GOV/page/1#frag": "https://bis.doc.gov/page/1",
        "https://bis.doc.gov:443/page/1": "https://bis.doc.gov/page/1",
        "http://example.com:8080/a//b": "http://example.com:8080/a/b",
        "https://x.org/p?b=2&a=1": "https://x.org/p?a=1&b=2",
        "https://x.org/p?utm_source=feed&a=1": "https://x.org/p?a=1",
        "https://x.org": "https://x.org/",
    }
    for raw, want in cases.items():
        assert canonicalize_one(raw) == want, raw
    # idempotent
    for want in cases.values():
        assert canonicalize_one(want) == want


def test_bloom_no_false_negatives():
    import hashlib

    keys = [hashlib.sha256(f"url-{i}".encode()).hexdigest() for i in range(5000)]
    b = BloomShard(1 << 16, 7)
    b.add_many(keys)
    assert b.contains_many(keys).all()
    other = [hashlib.sha256(f"other-{i}".encode()).hexdigest() for i in range(5000)]
    fp = b.contains_many(other).mean()
    assert fp < 0.05, f"false-positive rate too high: {fp}"
    # serialization round-trip
    back = BloomShard.from_bytes(b.to_bytes())
    assert np.array_equal(back.bits, b.bits)
    assert 0 <= shard_of(keys[0], 16) < 16


_HEX_KEY = st.text("0123456789abcdefABCDEF", min_size=32, max_size=64)


def _scalar_bloom_hit(b: BloomShard, h: str) -> bool:
    h1, h2 = int(h[:16], 16), int(h[16:32], 16)
    n = int(b.n_bits)
    for i in range(b.n_hashes):
        pos = (h1 + i * h2) % 2**64 % n
        if not b.bits[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def _scalar_cuckoo_hit(c: CuckooShard, h: str) -> bool:
    fp, i1, i2 = c._fp_and_buckets(h)
    return bool((c.table[i1] == fp).any() or (c.table[i2] == fp).any())


# inserted keys are real sha256 digests (near-identical keys would fill one
# cuckoo bucket pair); probed keys are any hex
_DIGEST = st.integers(0, 10**6).map(lambda i: hashlib.sha256(str(i).encode()).hexdigest())


@settings(max_examples=100, deadline=None)
@given(st.lists(_DIGEST, max_size=40, unique=True), st.lists(_HEX_KEY, max_size=40), st.integers(1, 8))
def test_batch_hash_decode_equals_scalar(added, probed, n_shards):
    """The one-pass batch decode agrees with int(h, 16) on every key,
    lower- or upper-case, for the halves, the shard ids and both
    filter families' probes."""
    probed = probed + [h.upper() for h in added[:5]]  # some hits
    h1, h2 = _h1_h2(probed)
    assert h1.tolist() == [int(h[:16], 16) for h in probed]
    assert h2.tolist() == [int(h[16:32], 16) for h in probed]
    assert shard_of_series(probed, n_shards).tolist() == [shard_of(h, n_shards) for h in probed]
    b = BloomShard(1 << 10, 7)
    c = CuckooShard.sized_for(64)
    b.add_many(added)
    c.add_many(added)
    for kind, f, scalar in (("bloom", b, _scalar_bloom_hit), ("cuckoo", c, _scalar_cuckoo_hit)):
        want = [scalar(f, h) for h in probed]
        assert f.contains_many(probed).tolist() == want
        assert f.contains_many([h.swapcase() for h in probed]).tolist() == want
        table = {s: f.to_bytes() for s in range(0, n_shards, 2)}  # odd shards absent
        got = probe_hashes(probed, table, n_shards, kind)
        assert got.tolist() == [w and shard_of(h, n_shards) % 2 == 0 for h, w in zip(probed, want)]
    assert all(_scalar_bloom_hit(b, h) for h in added)  # no false negatives


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_join_probe_group_adds_no_shard_cache_entries(kind):
    """Every Arrow→pandas conversion makes new bytes objects, so the join
    probe's shards would never hit an id-keyed cache entry; storing them
    would only pin each shard's bytes in the worker."""
    keys = [hashlib.sha256(f"k-{i}".encode()).hexdigest() for i in range(200)]
    f = BloomShard(1 << 12, 7) if kind == "bloom" else CuckooShard.sized_for(256)
    f.add_many(keys[:100])
    right = pa.table({"_shard": pa.array([0], pa.int32()), "bits": pa.array([f.to_bytes()])})
    left = pd.DataFrame({"url_hash": keys, "_shard": 0})
    first, second = right.to_pandas(), right.to_pandas()
    assert first["bits"].iloc[0] is not second["bits"].iloc[0]
    before = len(bloom._SHARD_CACHE)
    for frame in (first, second):
        out = _probe_group(left, frame, kind)
        assert out["_maybe"].tolist() == f.contains_many(keys).tolist()
    assert len(bloom._SHARD_CACHE) == before


@pytest.mark.parametrize("keys", [["ab" * 15], ["ab" * 16, "cd"], ["ab" * 15 + " ab"]])
def test_short_or_malformed_keys_raise(keys):
    # a short key would shift every later key in the joined hex buffer
    with pytest.raises(ValueError):
        _h1_h2(keys)
    with pytest.raises(ValueError):
        probe_hashes(keys, {}, 4)


def test_robots_parse():
    dis, delay = parse_robots_txt(
        "User-agent: *\nDisallow: /private\nDisallow: /tmp\nCrawl-delay: 2.5\n# c"
    )
    assert dis == ["/private", "/tmp"]
    assert delay == 2.5
    assert parse_robots_txt("") == ([], 1.0)
