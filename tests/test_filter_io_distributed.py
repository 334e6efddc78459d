"""Shard-local seen filter: past ``runner.BROADCAST_MAX_BYTES`` the filter
lifecycle (build, probe, cuckoo deletion, bloom retention rebuild) keeps
shard bytes executor-side end to end — no full-filter collect or
whole-map broadcast (the 10^10-URL design point). Tests force the mode by
lowering that constant.

Covers: (a) seen-set + visit + lineage-hash equality between the
broadcast and shard-local modes for both filter families, also through
``expire_seen`` and the wave after it, (b) a behavior guard asserting the
shard-local mode never calls the driver round-trip helpers, (c) probe
equivalence after retention expiry."""

from __future__ import annotations

import hashlib

import pytest

from earcrawler_spark.crawler import runner, synth
from earcrawler_spark.crawler.bloom import probe_maybe_seen_join
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig

BROADCAST_MAX_BYTES = runner.BROADCAST_MAX_BYTES
# false-positive probes: the filters' answers must agree on these too
NEVER_SEEN = [hashlib.sha256(f"never-{i}".encode()).hexdigest() for i in range(2000)]


def _crawl(spark, path, kind, shard_local, monkeypatch):
    """A 2-wave crawl in the given mode; the mode holds until the test
    ends or the next _crawl."""
    monkeypatch.setattr(
        runner, "BROADCAST_MAX_BYTES", 0 if shard_local else BROADCAST_MAX_BYTES
    )
    c = Crawler(
        spark, str(path),
        CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
    )
    assert c.cfg.shard_local() == shard_local
    c.init_seeds(synth.seed_list())
    c.run()
    return c


def _fingerprint(c):
    m = c.state.manifest()
    return (
        [(v["iter"], v["url"]) for v in c.visits_ordered().collect()],
        {r["url_hash"] for r in c.seen_set().collect()},
        m["chain_hash"],
    )


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_shard_local_equals_broadcast(spark, tmp_path, monkeypatch, kind):
    a = _crawl(spark, tmp_path / f"drv_{kind}", kind, False, monkeypatch)
    b = _crawl(spark, tmp_path / f"dist_{kind}", kind, True, monkeypatch)
    assert _fingerprint(a) == _fingerprint(b)


def _probe_distributed(spark, c, hashes):
    """Probe via the shard-local join path (no driver map)."""
    upto = c.state.manifest()["completed_iter"]
    bloom_df = c.state.read_latest("bloom", upto)
    cand = spark.createDataFrame([(h,) for h in hashes], "url_hash string")
    rows = probe_maybe_seen_join(
        cand, bloom_df, c.cfg.n_shards, c.cfg.seen_filter
    ).collect()
    return {r["url_hash"]: r["_maybe"] for r in rows}


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_expire_seen_distributed(spark, tmp_path, monkeypatch, kind):
    """Sliding-window expiry in shard-local mode: same kept/expired
    accounting, recent hashes still maybe-seen, expired mostly gone —
    with the whole lifecycle shard-local."""
    c = _crawl(spark, tmp_path / f"exp_{kind}", kind, True, monkeypatch)
    seen = c.seen_set().collect()
    old = [r["url_hash"] for r in seen if r["iter"] < 2]
    recent = [r["url_hash"] for r in seen if r["iter"] >= 2]
    assert old and recent

    stats = c.expire_seen(older_than_iter=2)
    assert stats == {"kept": len(recent), "expired": len(old)}
    left = {r["url_hash"] for r in c.seen_set().collect()}
    assert left == set(recent)

    probed = _probe_distributed(spark, c, recent + old)
    assert all(probed[h] for h in recent)
    n_ghost = sum(1 for h in old if probed[h])
    assert n_ghost / len(old) < 0.1


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_expire_seen_equal_across_modes(spark, tmp_path, monkeypatch, kind):
    """Broadcast and shard-local crawls agree through expire_seen and the
    wave after it: visits, seen set, the expiry counts, the next wave's
    chain hash and the filter's probe answers."""
    runs = {}
    for shard_local in (False, True):
        c = _crawl(spark, tmp_path / f"{kind}_{shard_local}", kind, shard_local, monkeypatch)
        before = sorted(r["url_hash"] for r in c.seen_set().collect())
        stats = c.expire_seen(older_than_iter=2)
        m = c.run(max_iters=3)
        assert m["completed_iter"] == 3
        after = {r["url_hash"] for r in c.seen_set().collect()}
        probes = _probe_distributed(spark, c, before + sorted(after) + NEVER_SEEN)
        runs[shard_local] = (_fingerprint(c), stats, probes)
    assert runs[True] == runs[False]


def test_distributed_mode_never_roundtrips_the_driver(spark, tmp_path, monkeypatch):
    """Behavior guard: in shard-local mode the crawl + retention
    lifecycle never calls _load_bloom or the broadcast build (the two
    driver round-trip paths) and never broadcasts a shard map."""

    def _boom(name):
        def inner(*a, **k):
            raise AssertionError(f"{name} called in shard-local mode")

        return inner

    monkeypatch.setattr(Crawler, "_load_bloom", _boom("_load_bloom"))
    for name in ("build_filter_broadcast", "probe_maybe_seen_broadcast"):
        monkeypatch.setattr(runner, name, _boom(name))
    c = _crawl(spark, tmp_path / "guard", "cuckoo", True, monkeypatch)
    stats = c.expire_seen(older_than_iter=2)
    assert stats["kept"] > 0 and stats["expired"] > 0
