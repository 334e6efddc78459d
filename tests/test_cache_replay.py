"""Both fetch-cache replay tiers in one crawl: fresh hits (wave 1) and
revalidated 304s (wave 2) replay their cached parse through one path,
count into ``totals`` exactly as before, and crawl the same seen set as
a crawl without a cache."""

from __future__ import annotations

from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig

# Per-wave manifest totals and chain hashes of the bootstrapped crawl
# below; the chain hash covers the totals, so a replay path that moves
# any count moves the hash.
EXPECTED = {
    1: ({"iter": 1, "fetched": 0, "denied": 0, "new_urls": 48, "new_docs": 12,
         "cache_hits": 12, "revalidated": 0},
        "cd6e4f7ffbc49ae0b07abe1db4b478ec06805dfb349856d92dfcb9563e3bbca5"),
    2: ({"iter": 2, "fetched": 46, "denied": 2, "new_urls": 148, "new_docs": 43,
         "cache_hits": 0, "revalidated": 45},
        "c406a193e303ee10a1970cdb63bcae89eb65d3c3d26fe61ca89abb412c87d48b"),
}

# The same for the un-bootstrapped crawl that fills the cache: its wave 1
# finds no cache yet and still counts 0 hits and 0 revalidations.
EXPECTED_SRC = {
    1: ({"iter": 1, "fetched": 12, "denied": 0, "new_urls": 48, "new_docs": 12,
         "cache_hits": 0, "revalidated": 0},
        "b46538b1e9df840f3dbc2a4ab28507387d3c8f34602b5978a6f6525eba0f7e6a"),
    2: ({"iter": 2, "fetched": 46, "denied": 2, "new_urls": 148, "new_docs": 43,
         "cache_hits": 0, "revalidated": 0},
        "52f1b9ec67d57878acb2f5b5d5f7d9b7c8f0466b3d220058a2740f5c9ff231f2"),
}


def _seen(c: Crawler) -> set[str]:
    return {r["url_hash"] for r in c.seen_set().collect()}


def test_fresh_hits_and_revalidations_replay_alike(spark, tmp_path):
    # a two-wave crawl fills a cache with the seeds (wave 1) and the
    # pages they link to (wave 2)
    src = Crawler(spark, str(tmp_path / "src"),
                  CrawlConfig(max_iters=2, n_partitions=4, cache_ttl_iters=1))
    src.init_seeds(synth.seed_list())
    got = {}
    for it in (1, 2):
        m = src.run(max_iters=it)
        got[it] = (m["totals"], m["chain_hash"])
    assert got == EXPECTED_SRC
    cache = src.state.read_latest("fetch_cache", src.state.manifest()["completed_iter"])

    # bootstrapped entries start at age 0, so with ttl 1 wave 1's seeds
    # are fresh hits and wave 2's pages are stale and come back 304
    c = Crawler(spark, str(tmp_path / "c"),
                CrawlConfig(max_iters=2, n_partitions=4, cache_ttl_iters=1),
                cache_bootstrap=cache)
    c.init_seeds(synth.seed_list())
    got = {}
    for it in (1, 2):
        m = c.run(max_iters=it)
        assert m["completed_iter"] == it
        got[it] = (m["totals"], m["chain_hash"])
    n304 = {
        r["iter"]: r["n"]
        for r in c.state.read_all("visits", 2)
        .filter(F.col("status") == 304)
        .groupBy("iter").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for it, (totals, _) in got.items():
        assert totals["cache_hits"] + totals["revalidated"] == n304.get(it, 0)
    assert got[1][0]["cache_hits"] > 0 and got[1][0]["revalidated"] == 0
    assert got[2][0]["revalidated"] > 0 and got[2][0]["cache_hits"] == 0
    assert got == EXPECTED

    plain = Crawler(spark, str(tmp_path / "plain"), CrawlConfig(max_iters=2, n_partitions=4))
    plain.init_seeds(synth.seed_list())
    plain.run()
    assert _seen(c) == _seen(plain)
