"""Compaction and seen-set expiry share one rewrite protocol
(``CrawlState.rewrite``): after any sequence of them, each rewritten
table keeps exactly its committed snapshot on disk."""

from __future__ import annotations

import os

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig


def test_expire_after_compaction_leaves_only_committed_dirs(spark, tmp_path):
    """compact() → one wave → expire_seen(): the base compaction wrote is
    superseded by expiry's base and must go with it, as must every bloom
    generation but the committed one."""
    c = Crawler(spark, str(tmp_path / "s"), CrawlConfig(max_iters=2, n_partitions=4))
    c.init_seeds(synth.seed_list())
    c.run(max_iters=1)
    c.state.compact()
    c.run(max_iters=2)
    upto = c.state.manifest()["completed_iter"]
    assert upto == 2
    survivors = {r["url_hash"] for r in c.seen_set().collect() if r["iter"] >= 1}

    stats = c.expire_seen(older_than_iter=1)

    seen_dirs = sorted(os.listdir(os.path.join(c.state.dir, "seen")))
    assert [d for d in seen_dirs if d.startswith("base=")] == seen_dirs
    assert len(seen_dirs) == 1, seen_dirs
    assert {r["url_hash"] for r in c.seen_set().collect()} == survivors
    assert stats["kept"] == len(survivors)

    committed = os.path.basename(c.state.latest_path("bloom", upto))
    bloom_dirs = os.listdir(os.path.join(c.state.dir, "bloom"))
    at_upto = [d for d in bloom_dirs if d.startswith(f"iter={upto:05d}")]
    generations = [d for d in bloom_dirs if "-g" in d]
    assert at_upto == [committed]
    assert set(generations) <= {committed}
