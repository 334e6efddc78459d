"""A crawl wave's fixed JVM cost: a repeated pass compiles no generated
class again, a wave stays under a literal job ceiling because its counts
are Observations on frames it already writes, the write that fills the
fetch cache keeps the fetch stage's tasks, and the per-wave stats records
those Observations produce equal direct counts on the committed state."""

from __future__ import annotations

import pytest
from pyspark import TaskContext
from pyspark.sql import Observation
from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.bloom import probe_hashes
from earcrawler_spark.crawler.fetch import synthetic_fetch_one
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig, _observed
from earcrawler_spark.crawler.state import crawl_report
from tests.test_table_schemas import _job_group

# Jobs one wave of the default synthetic crawl runs, the pre-wave frontier
# check included (AQE runs each shuffle stage of a write as a job of its
# own); it ran 39 while the wave's counts were standalone actions.
WAVE_JOB_CEILING = 29


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _crawl(spark, state_dir, waves: int = 1, n_partitions: int = 4,
           transport=synthetic_fetch_one) -> Crawler:
    c = Crawler(spark, str(state_dir), CrawlConfig(max_iters=waves, n_partitions=n_partitions),
                transport=transport)
    c.init_seeds(synth.seed_list())
    return c


@pytest.fixture(scope="module")
def repeat_pass(spark, tmp_path_factory):
    """(classes compiled, jobs of its wave) of a synth-crawl pass repeated
    on a fresh state dir, after a first pass in the same session."""
    _crawl(spark, tmp_path_factory.mktemp("warm")).run()
    before = _compiles(spark)
    c = _crawl(spark, tmp_path_factory.mktemp("repeat"))
    with _job_group(spark, "repeat-wave-1") as jobs:
        c.run()
        n_jobs = jobs()
    return _compiles(spark) - before, n_jobs


def test_repeated_pass_compiles_no_class(repeat_pass):
    # the codegen cache holds a pass's working set (session.CODEGEN_CACHE_ENTRIES)
    assert repeat_pass[0] == 0


def test_wave_runs_within_job_ceiling(repeat_pass):
    assert repeat_pass[1] <= WAVE_JOB_CEILING


def test_fetch_stage_keeps_its_partitions(spark, tmp_path):
    """With no standalone count, the coalesced visits write is the first
    reader of the fetch cache. AQE fills a cache as a query stage of its
    own, so fetch+parse still runs one task per fetch partition; were the
    fill part of the write's stage, it would run in WRITE_PARTITIONS = 8."""
    marks = tmp_path / "fetch_stages"
    marks.mkdir()

    def transport(url, etag=None):
        (marks / str(TaskContext.get().stageId())).touch()
        return synthetic_fetch_one(url, etag)

    _crawl(spark, tmp_path / "state", n_partitions=16, transport=transport).run()
    stages = [int(p.name) for p in marks.iterdir()]
    tracker = spark.sparkContext.statusTracker()
    assert stages and [tracker.getStageInfo(s).numTasks for s in stages] == [16] * len(stages)


def test_wave_stats_equal_direct_counts(spark, tmp_path):
    c = _crawl(spark, tmp_path, waves=2)
    c.run()
    report = crawl_report(str(tmp_path))
    assert [r["iter"] for r in report] == [1, 2]
    for r in report:
        i = r["iter"]
        visits = c.state.read_all("visits", i).filter(F.col("iter") == i)
        pages = visits.filter(F.col("status") == 200)
        seen_delta = c.state.read_all("seen", i).filter(F.col("iter") == i)
        links = c.state.read_all("metrics", i).filter(F.col("iter") == i).agg(
            F.sum("n_links")).first()[0]
        fp = sum(probe_hashes([row.url_hash for row in seen_delta.collect()],
                              c._load_bloom(i - 1), c.cfg.n_shards))
        assert r["frontier"] == c.state.read_latest("frontier", i - 1).count()
        assert r["dequeued"] == visits.count()
        assert r["ok"] == pages.count()
        assert r["wave_docs"] == pages.select("content_hash").distinct().count()
        assert r["links"] == links
        assert r["filter_fp"] == fp
        assert r["seen_hits"] + r["filter_fp"] == r["maybe_seen"]
        assert r["shard_local"] is False
    # the last wave's record also carries the manifest's totals and timings
    last, m = report[-1], c.state.manifest()
    assert "fetched" not in report[0] and "stage_secs" not in report[0]
    assert {k: last[k] for k in m["totals"]} == m["totals"]
    assert last["stage_secs"] == m["stage_secs"]
    assert set(last["stage_secs"]) >= {"robots", "visits_write", "seen_write"}
    remainder = c.state.read_latest("frontier", 2).count() - last["new_urls"]
    assert last["denied"] == last["frontier"] - last["dequeued"] - remainder
    assert last["fetched"] == last["dequeued"]
    assert last["new_urls"] == c.state.read_all("seen", 2).filter(F.col("iter") == 2).count()
    assert last["new_docs"] == c.state.read_all("documents", 2).filter(
        F.col("iter") == 2).count()


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_observed_reads_pruned_plans_as_zero_and_cache_fills_in_full(spark):
    """`runner._observed` reads PySpark's private Observation handle; this
    pins the two behaviours the wave's totals rely on, so an upgrade that
    changes either fails here rather than moving a chain hash."""
    # a frame the optimizer prunes as provably empty (here: above it)
    # still completes its Observation, with an empty metrics row
    pruned = Observation()
    _noop_write(spark.range(10).observe(pruned, F.count(F.lit(1)).alias("n"))
                .filter(F.lit(False)))
    assert pruned._jo.getRow().length() == 0
    assert _observed(pruned, "n") == [0]
    # an observed frame cached and filled by a reader of only some of its
    # rows counts all of them, also from one branch of a union
    filled = Observation()
    cached = spark.range(100).repartition(4).observe(
        filled, F.count(F.lit(1)).alias("n"), F.count_if(F.col("id") < 10).alias("small"),
    ).cache()
    try:
        _noop_write(spark.range(3).unionByName(cached.filter(F.col("id") < 10)))
        assert _observed(filled, "n", "small") == [100, 10]
    finally:
        cached.unpersist()
