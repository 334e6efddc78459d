"""The crawl loop — batch-iterative, checkpointed, deterministic.

Each wave:

  1. robots refresh for newly-seen hosts (broadcast dim; robots.py)
  2. politeness dequeue — per-host budget = wave_seconds / crawl_delay,
     rank by (priority DESC, seq ASC) inside each host (the reference's
     per-document politeness loop, ear_crawler.py:133-135,194-195,
     re-expressed as a relational budget so it is deterministic)
  3. skew salting — hosts whose dequeue exceeds ``SKEW_THRESHOLD`` get
     their rows spread over ceil(n/SKEW_THRESHOLD) salted sub-keys before the
     ``repartition(part_key)`` that feeds the fetch stage (north rule:
     bis.doc.gov / federalregister.gov dominate by design)
  4. fetch + parse (mapInPandas; fetch.py) → interleaved text/media spans;
     with the fetch cache on (cache.py), fresh hits and revalidated 304s
     replay their cached parse as one ``replayed`` frame, joining the
     visits and the parsed pages once
  5. content dedup — wave-internal argmin + anti-join vs content_seen
     (reference D1, ear_crawler.py:176-177)
  6. link expansion — canonicalize (pandas UDF), wave-internal argmin per
     url_hash, bloom pre-filter, exact anti-join vs seen, deterministic
     seq assignment
  7. append deltas + per-partition lineage metrics with a chained audit
     hash (reference audit/ledger.py:41-68), commit manifest

Determinism contract: visit order — sorted by (iteration, -priority,
host, seq) — and the seen set are invariant to partition count; proven
vs the sequential model in tests and at local[2] vs local[8].

State plumbing (state.py): driver-built frames — the seed frontier, robots
rows, (shard, bits) filter tables — are Arrow-backed, and every state
read uses its table's declared schema, so neither costs a Python-worker
scan or a schema-inference job. The seen filter's format and kernels
live in bloom.py; CrawlConfig.shard_local() picks its broadcast or
shard-local kernels by filter size. While broadcast, the crawler keeps
the shard map it last wrote and serves the next wave's probe from it
while that snapshot is still the committed one; a resume, a fresh
Crawler or expire_seen reads the filter from disk instead. Compaction
and seen-set expiry rewrite committed snapshots through one protocol,
CrawlState.rewrite; this module touches no CrawlState private.

Counts: the wave's totals and its stats record are Observations on
frames it already writes or caches, read at the commit, so no count
runs a job of its own (README, "Where a crawl wave's counts come from").

Scale notes (10^10 URLs):
- frontier/seen are hash-bucketed by url_hash shard → the anti-join is
  a co-partitioned join, no wide shuffle;
- the bloom pre-filter keeps the anti-join's probe side to the (tiny)
  maybe-seen fraction, so each wave shuffles new-candidate keys only;
- the per-wave global seq window runs over new URLs only (bounded by
  wave fan-out, not corpus size); at extreme fan-out swap it for
  per-partition ranks + partition-offset addition (zipWithIndex trick)
  — same total order, no single-partition window.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.bloom import (
    CUCKOO_CAPACITY_PER_SHARD,
    FILTER_SCHEMA,
    build_filter_broadcast,
    delete_filter_join,
    extend_filter_join,
    probe_maybe_seen_broadcast,
    probe_maybe_seen_join,
)
from earcrawler_spark.crawler.cache import evict_cache, merge_cache, split_by_cache
from earcrawler_spark.crawler.canonicalize import (
    canonical_url,
    canonicalize_one,
    url_hash_col,
    url_host,
)
from earcrawler_spark.crawler.fetch import fetch_and_parse, synthetic_fetch_one
from earcrawler_spark.crawler.robots import allowed_filter, fetch_robots
from earcrawler_spark.crawler.state import (
    FRONTIER_SCHEMA,
    WRITE_PARTITIONS,
    CrawlState,
    arrow_frame,
)

# Past this estimated filter size the seen filter's shard map no longer
# goes through the driver or a broadcast (the 10^10-URL design point).
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


# How long the commit waits for an Observation whose plan has already run
# (its listener reports just after the action); a longer wait means the
# observed frame sat in no plan that ran.
OBSERVATION_WAIT_S = 60.0


def _observed(obs: Observation, *names: str) -> list[int]:
    """The named counts of ``obs`` once a plan it sits in has run. A
    subtree the optimizer pruned as provably empty reports an empty row:
    its counts are 0.

    Reads Observation's JVM handle (``_jo.future()``, ``_jo.getRow()``),
    which PySpark keeps private; checked against PySpark/Spark 4.1.2, and
    tests/test_crawl_wave_cost.py pins both behaviours."""
    future = obs._jo.future()
    deadline = time.monotonic() + OBSERVATION_WAIT_S
    while not future.isCompleted():
        if time.monotonic() > deadline:
            raise RuntimeError(f"no plan observed {names} within {OBSERVATION_WAIT_S} s")
        time.sleep(0.002)
    row = obs.get if obs._jo.getRow().length() else {}
    return [int(row.get(n) or 0) for n in names]


def visit_order_cols():
    return [F.col("iter"), F.col("priority").desc(), F.col("host"), F.col("seq")]


# Hosts whose dequeue exceeds this many URLs are salted over
# ceil(n / SKEW_THRESHOLD) fetch-partition keys.
SKEW_THRESHOLD = 8
# Crawl delay, in seconds, of a host whose robots.txt gives none.
DEFAULT_CRAWL_DELAY = 1.0


@dataclass
class CrawlConfig:
    wave_seconds: float = 20.0
    # seen-filter shard count and bloom size: persisted at init_seeds and
    # checked on resume (see Crawler._filter_config)
    n_shards: int = 16
    bloom_bits_per_shard: int = 1 << 20
    # fetch-stage partitions; None = the session's default parallelism
    n_partitions: int | None = None
    max_iters: int = 5
    # wall-clock politeness: sleep crawl_delay between a host's fetches
    # (one partition per host) on top of the per-wave budget
    politeness_sleep: bool = False
    # S8 request budget: global deterministic cap on URLs fetched per wave
    # (rank over (priority DESC, host, seq); overflow stays in the frontier)
    max_urls_per_wave: int | None = None
    # S7/D8 fetch cache: entries younger than this many iterations bypass
    # the fetch stage (visit recorded with status 304). None = disabled.
    cache_ttl_iters: int | None = None
    # size-capped LRU eviction after each merge (reference
    # http_cache.py:165-197, max_entries=4096). None = unbounded.
    cache_max_entries: int | None = 4096
    # S9 retry policy inside the fetch UDF
    max_attempts: int = 3
    backoff_base: float = 0.0
    # approximate seen-set filter family (north rule: bloom/cuckoo).
    # 'cuckoo' supports deletion (seen-set retention / sliding windows).
    seen_filter: str = "bloom"

    def estimated_filter_bytes(self) -> int:
        if self.seen_filter == "cuckoo":
            # n_buckets ~= cap/(4*0.8), 4 uint16 slots per bucket
            per_shard = int(CUCKOO_CAPACITY_PER_SHARD * 2 / 0.8)
        else:
            per_shard = self.bloom_bits_per_shard // 8
        return self.n_shards * per_shard

    def shard_local(self) -> bool:
        """Whether the seen filter's probe and build cogroup rows with
        their shard's bits instead of broadcasting the shard map. Only the
        persisted, resume-validated filter parameters decide it."""
        return self.estimated_filter_bytes() > BROADCAST_MAX_BYTES


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: CrawlConfig | None = None,
        transport=synthetic_fetch_one,
        robots_fetcher=synth.robots_txt,
        cache_bootstrap=None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.state = CrawlState(spark, state_dir)
        self.transport = transport
        self.robots_fetcher = robots_fetcher
        self.cache_bootstrap = cache_bootstrap
        # (snapshot key, shard map) of the last filter this crawler wrote
        # while broadcast; _load_bloom serves it instead of
        # reading the snapshot back (see _snapshot_key)
        self._kept_filter: tuple[tuple, dict[int, bytes]] | None = None
        if self.cfg.n_partitions is None:
            self.cfg.n_partitions = spark.sparkContext.defaultParallelism
        # Filter-critical parameters are persisted in the manifest at
        # init_seeds; attaching to an existing state dir with different
        # values would silently remap shard ids / change the filter family
        # and produce false-negative probes that bypass the exact anti-join.
        persisted = self.state.manifest().get("filter_config")
        if persisted is not None and persisted != self._filter_config():
            raise ValueError(
                "CrawlConfig filter parameters do not match the state dir's "
                f"persisted values: persisted={persisted} "
                f"configured={self._filter_config()}. Use the persisted "
                "values (or a fresh state dir) to resume."
            )

    def _filter_config(self) -> dict:
        return {
            "n_shards": self.cfg.n_shards,
            "seen_filter": self.cfg.seen_filter,
            "bloom_bits_per_shard": self.cfg.bloom_bits_per_shard,
            "cuckoo_capacity_per_shard": CUCKOO_CAPACITY_PER_SHARD,
        }

    # ------------------------------------------------------------------
    def init_seeds(self, seeds: list[tuple[str, int, int]]) -> None:
        """Iteration 0: canonicalized, deduped seed frontier + seen/bloom."""
        best: dict[str, tuple] = {}
        for url, priority, seq in seeds:
            cu = canonicalize_one(url)
            h = hashlib.sha256(cu.encode()).hexdigest()
            host = cu.split("/")[2].split(":")[0]
            if h not in best or seq < best[h][4]:
                best[h] = (cu, h, host, priority, seq)
        rows = sorted(best.values(), key=lambda r: r[4])
        names = ("url", "url_hash", "host", "priority", "seq")
        frontier = arrow_frame(
            self.spark, {n: [r[i] for r in rows] for i, n in enumerate(names)},
            FRONTIER_SCHEMA,
        )
        self.state.write("frontier", 0, frontier)
        self.state.write(
            "seen", 0, frontier.select("url_hash", "url", F.lit(0).alias("iter"))
        )
        self._write_filter(0, frontier.select("url_hash"), self._committed_filter(-1))
        robots = fetch_robots(
            self.spark, [r[2] for r in rows], self.robots_fetcher
        )
        self.state.write("robots", 0, robots)
        if self.cache_bootstrap is not None:
            # recrawl mode: seed the fetch cache from a previous run's
            # cache table (ages reset so TTL counts from this run's start)
            self.state.write(
                "fetch_cache", 0,
                self.cache_bootstrap.withColumn("fetched_iter", F.lit(0)),
            )
        max_seq = max(r[4] for r in rows) if rows else -1
        self.state.commit(0, chain_hash=self._chain("", {"iter": 0, "seeds": len(rows)}),
                          extra={"max_seq": max_seq,
                                 "filter_config": self._filter_config()})

    # ------------------------------------------------------------------
    def _chain(self, prev: str, payload: dict) -> str:
        return hashlib.sha256(
            (prev + json.dumps(payload, sort_keys=True, separators=(",", ":"))).encode()
        ).hexdigest()

    def _filter_frame(self, shards: dict[int, bytes]) -> DataFrame:
        """A (shard, bits) filter table, Arrow-built from a shard map."""
        items = sorted(shards.items())
        return arrow_frame(
            self.spark,
            {"shard": [s for s, _ in items], "bits": [b for _, b in items]},
            FILTER_SCHEMA,
        )

    @staticmethod
    def _snapshot_key(path: str) -> tuple:
        # the directory names the iteration and generation; the commit
        # marker's mtime tells a rewrite of the same directory (a later
        # expire_seen reuses generation 0) from the snapshot we wrote
        return path, os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns

    def _filter_table(self, upto_iter: int) -> DataFrame:
        """The committed (shard, bits) table; empty before the first."""
        df = self.state.read_latest("bloom", upto_iter)
        return self._filter_frame({}) if df is None else df

    def _committed_filter(self, upto_iter: int) -> DataFrame | dict[int, bytes]:
        """The committed filter in the form this crawler's kernels take:
        the (shard, bits) table when shard-local, else the shard map."""
        if self.cfg.shard_local():
            return self._filter_table(upto_iter)
        return self._load_bloom(upto_iter)

    def _write_filter(
        self, iteration: int, hashes_df: DataFrame, previous: DataFrame | dict[int, bytes]
    ) -> None:
        """Write ``previous`` (as _committed_filter gave it) extended with
        new hashes as the iteration's filter snapshot."""
        cfg = self.cfg
        params = (cfg.n_shards, cfg.seen_filter, cfg.bloom_bits_per_shard)
        if cfg.shard_local():
            self.state.write("bloom", iteration, extend_filter_join(hashes_df, previous, *params))
            return
        merged = build_filter_broadcast(hashes_df, previous, *params)
        path = self.state.write("bloom", iteration, self._filter_frame(merged))
        self._kept_filter = (self._snapshot_key(path), merged)

    def _load_bloom(self, upto_iter: int) -> dict[int, bytes]:
        """The committed filter snapshot as a shard map: the one this
        crawler last wrote when it is still the snapshot in force (the
        steady-state wave), else read from disk (resume, a fresh
        Crawler, after expire_seen)."""
        path = self.state.latest_path("bloom", upto_iter)
        if path is None:
            return {}
        kept = self._kept_filter
        if kept is not None and kept[0] == self._snapshot_key(path):
            return kept[1]
        df = self.state.read("bloom", path)
        return {r["shard"]: bytes(r["bits"]) for r in df.collect()}

    # ------------------------------------------------------------------
    def run(self, max_iters: int | None = None) -> dict:
        """Run waves until the frontier drains or max_iters; resumable —
        picks up from the last committed manifest."""
        cfg = self.cfg
        max_iters = max_iters or cfg.max_iters
        m = self.state.manifest()
        assert m["completed_iter"] >= 0, "call init_seeds() first"
        it = m["completed_iter"]
        while it - 0 < max_iters:
            it += 1
            m = self.state.manifest()
            frontier = self.state.read_latest("frontier", it - 1)
            if frontier is None or frontier.isEmpty():
                break
            self._wave(it, frontier, m)
        return self.state.manifest()

    # ------------------------------------------------------------------
    def _wave(self, it: int, frontier: DataFrame, manifest: dict) -> None:
        cfg, spark = self.cfg, self.spark
        _t0 = time.perf_counter()
        _stage_secs: dict[str, float] = {}

        def _mark(phase: str) -> None:
            nonlocal _t0
            now = time.perf_counter()
            _stage_secs[phase] = round(now - _t0, 3)
            _t0 = now
        prev_chain = manifest["chain_hash"]
        max_seq = manifest["max_seq"]

        # 1. robots refresh for new hosts. One driver action collecting
        # ONLY the new hosts (an anti-join, usually empty/tiny) — not the
        # full host dimension; at 10^6 hosts the old two-full-set collect
        # shipped the entire dim to the driver every wave.
        robots = self.state.read_latest("robots", it - 1)
        new_hosts = sorted(
            r["host"]
            for r in frontier.select("host")
            .distinct()
            .join(robots.select("host").distinct(), "host", "left_anti")
            .collect()
        )
        if new_hosts:
            # the robots table only changes when a new host appears —
            # skip the full-table rewrite (a per-wave fixed cost) on
            # no-op waves; read_latest falls back to the last write.
            robots = robots.unionByName(
                fetch_robots(spark, new_hosts, self.robots_fetcher)
            )
            self.state.write("robots", it, robots)
            robots = self.state.read_latest("robots", it)

        _mark("robots")
        # 2. politeness dequeue (budget = wave_seconds / crawl_delay).
        # The wave's counts are Observations on frames it already writes or
        # caches, read at the commit: no count runs a job of its own.
        allowed, robots_obs = allowed_filter(frontier, robots)
        budget = F.greatest(
            F.lit(1),
            F.floor(F.lit(cfg.wave_seconds) / F.coalesce("crawl_delay", F.lit(DEFAULT_CRAWL_DELAY))),
        ).cast("int")
        w_host = W.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq"))
        ranked_obs = Observation()
        ranked = allowed.withColumn("_rk", F.row_number().over(w_host)).withColumn(
            "_budget", budget
        ).observe(
            ranked_obs, F.count_if(F.col("_rk") <= F.col("_budget")).alias("dequeued"),
        ).cache()  # selected/remainder/frontier_next all reuse this
        selected = ranked.filter(F.col("_rk") <= F.col("_budget")).drop("_rk", "_budget")
        remainder = (
            ranked.filter(F.col("_rk") > F.col("_budget"))
            .drop("_rk", "_budget", "crawl_delay")
        )

        # S8 global wave budget: deterministic cap in visit order; overflow
        # returns to the frontier (budget.py:38-50 semantics, relationally)
        if cfg.max_urls_per_wave is not None:
            w_global = W.orderBy(F.col("priority").desc(), F.col("host"), F.col("seq"))
            capped = selected.withColumn("_grk", F.row_number().over(w_global))
            overflow = (
                capped.filter(F.col("_grk") > cfg.max_urls_per_wave)
                .drop("_grk", "crawl_delay")
            )
            selected = capped.filter(F.col("_grk") <= cfg.max_urls_per_wave).drop("_grk")
            remainder = remainder.unionByName(overflow)

        # S7/D8 fetch cache: fresh entries bypass the network and replay
        # the cached parse; stale entries carry their stored etag into the
        # fetch stage (If-None-Match) and may come back 304.
        cache = None
        fresh_hits = None
        if cfg.cache_ttl_iters is not None:
            cache = self.state.read_latest("fetch_cache", it - 1)
            selected, fresh_hits = split_by_cache(selected, cache, it, cfg.cache_ttl_iters)

        _mark("dequeue")
        # 3. partitioning for the fetch stage
        if cfg.politeness_sleep:
            # wall-clock politeness requires per-host serialization: a host
            # must live in exactly one partition (salting would let salted
            # sub-queues of one host sleep in parallel). Range partitioning
            # on host spreads hosts evenly BY COUNT (hash partitioning is
            # binomial — its max-loaded partition becomes the wave
            # straggler); equal keys never straddle a range boundary.
            # Per-host work is ≈wave_seconds of sleep by construction
            # (budget = wave_seconds / crawl_delay), so even host counts
            # mean even partitions.
            selected = selected.repartitionByRange(cfg.n_partitions, "host")
        else:
            # deterministic (budget-based) politeness: salt hot hosts so the
            # dequeue skew (bis.doc.gov / federalregister.gov) spreads over
            # ceil(n/SKEW_THRESHOLD) sub-keys. Counts stay distributed — the
            # per-host salt table broadcasts without a driver collect.
            salt_df = (
                selected.groupBy("host")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .select(
                    "host",
                    F.greatest(
                        F.lit(1),
                        F.ceil(F.col("cnt") / SKEW_THRESHOLD),
                    ).cast("int").alias("salt"),
                )
            )
            selected = (
                selected.join(F.broadcast(salt_df), "host", "left")
                .withColumn("part_key", F.concat_ws("#", "host", F.pmod("seq", F.coalesce("salt", F.lit(1)))))
                .repartition(cfg.n_partitions, "part_key")
            )

        _mark("partitioning")
        # 4. fetch + parse; the first write that reads it fills this cache
        fetched_obs = Observation()
        fetched = fetch_and_parse(
            selected, politeness_sleep=cfg.politeness_sleep, transport=self.transport,
            max_attempts=cfg.max_attempts, backoff_base=cfg.backoff_base,
        ).withColumn("part_id", F.spark_partition_id()).observe(
            fetched_obs, F.count(F.lit(1)).alias("fetched"),
            F.count_if(F.col("status") == 200).alias("ok"),
        ).cache()

        _mark("fetch+parse")
        # Cached pages REPLAY their cached parse: fresh hits, and 304s from
        # conditional revalidation (which also slide their TTL window:
        # merge_cache refreshes fetched_iter). Both are 304 visits, and both
        # keep contributing documents (deduped by content_seen) and outlinks.
        parse_cols = ["url", "url_hash", "host", "priority", "seq",
                      "content_hash", "spans", "links"]
        visits = fetched.filter(F.col("status") != 304).select(
            F.lit(it).alias("iter"), "url", "url_hash", "host",
            "priority", "seq", "status", "content_hash",
        )
        ok = fetched.filter(F.col("status") == 200).select(*parse_cols)
        replayed = replay_obs = None
        if fresh_hits is not None:
            revalidated = (
                fetched.filter(F.col("status") == 304)
                .drop("content_hash", "spans", "links")
                .join(cache.select("url_hash", "content_hash", "spans", "links"), "url_hash")
            )
            replay_obs = Observation()
            replayed = (
                revalidated.select(*parse_cols, F.lit(False).alias("fresh"))
                .unionByName(fresh_hits.select(*parse_cols, F.lit(True).alias("fresh")))
                .observe(replay_obs, F.count_if("fresh").alias("cache_hits"),
                         F.count_if(~F.col("fresh")).alias("revalidated"))
                .cache()
            )
            visits = visits.unionByName(replayed.select(
                F.lit(it).alias("iter"), "url", "url_hash", "host",
                "priority", "seq", F.lit(304).alias("status"), "content_hash",
            ))
            ok = ok.unionByName(replayed.select(*parse_cols))
        if cfg.cache_ttl_iters is not None:
            merged_cache = merge_cache(
                cache,
                fetched.select("url_hash", "content_hash", "status", "spans", "links"),
                it,
            )
            if cfg.cache_max_entries is not None:
                merged_cache = evict_cache(merged_cache, it, max_entries=cfg.cache_max_entries)
            self.state.write(
                "fetch_cache", it, merged_cache, n_files=WRITE_PARTITIONS,
            )
        # AQE fills the `fetched` cache as a query stage of its own, with the
        # fetch stage's partitions, so this write's coalesce does not run
        # fetch+parse in fewer tasks
        self.state.write("visits", it, visits, n_files=WRITE_PARTITIONS)

        _mark("visits_write")
        # 5. content dedup (wave-internal argmin by seq, then anti-join)
        w_content = W.partitionBy("content_hash").orderBy("seq")
        wave_docs_obs, docs_obs = Observation(), Observation()
        wave_docs = ok.withColumn("_rn", F.row_number().over(w_content)).filter(
            F.col("_rn") == 1
        ).drop("_rn").observe(wave_docs_obs, F.count(F.lit(1)).alias("wave_docs"))
        content_seen = self.state.read_all("content_seen", it - 1)
        if content_seen is not None:
            new_docs = wave_docs.join(content_seen, "content_hash", "left_anti")
        else:
            new_docs = wave_docs
        documents = new_docs.select(
            F.col("url").alias("doc_id"), "url_hash", "content_hash", "spans",
            F.lit(it).alias("iter"),
        ).observe(docs_obs, F.count(F.lit(1)).alias("new_docs")).cache()
        # consumed 2x: the documents write (which fills the cache) and the
        # content_seen write
        self.state.write("documents", it, documents, n_files=WRITE_PARTITIONS)
        self.state.write(
            "content_seen", it,
            documents.select("content_hash").distinct(),
            n_files=WRITE_PARTITIONS,
        )

        _mark("content_dedup")
        # 6. link expansion (ok includes replayed cache hits / 304s)
        links_obs = Observation()
        links = (
            ok.select(
                F.col("priority").alias("parent_priority"),
                F.col("seq").alias("parent_seq"),
                F.posexplode("links").alias("link_idx", "raw_url"),
            )
            .withColumn("url", canonical_url("raw_url"))
            .withColumn("host", url_host("url"))
            .withColumn("url_hash", url_hash_col(F.col("url")))
            .observe(links_obs, F.count(F.lit(1)).alias("links"))
        )
        w_link = W.partitionBy("url_hash").orderBy("parent_seq", "link_idx")
        candidates = (
            links.withColumn("_rn", F.row_number().over(w_link))
            .filter(F.col("_rn") == 1)
            .select(
                "url", "url_hash", "host",
                F.greatest(F.col("parent_priority") - 1, F.lit(1)).alias("priority"),
                "parent_seq", "link_idx",
            )
        )

        _mark("link_expand_plan")
        # bloom pre-filter: only maybe-seen rows pay the anti-join. The
        # probe broadcasts the shard map or cogroups candidates with their
        # shard's bits, by filter size (CrawlConfig.shard_local).
        previous = self._committed_filter(it - 1)
        probe = probe_maybe_seen_join if cfg.shard_local() else probe_maybe_seen_broadcast
        probe_obs = Observation()
        # cached for its two consumers below; the seen write fills it
        candidates = probe(candidates, previous, cfg.n_shards, cfg.seen_filter).observe(
            probe_obs, F.count(F.lit(1)).alias("candidates"),
            F.count_if("_maybe").alias("maybe"),
        ).cache()
        _mark("probe_cache")
        definitely_new = candidates.filter(~F.col("_maybe")).drop("_maybe")
        seen = self.state.read_all("seen", it - 1)
        checked_new = (
            candidates.filter(F.col("_maybe"))
            .drop("_maybe")
            .join(seen, "url_hash", "left_anti")
        )
        new_urls = definitely_new.unionByName(checked_new)

        # deterministic seq assignment (global order over this wave's news)
        # deliberate single-partition window over the wave's NEW urls only
        # (bounded by wave fan-out); the non-foldable constant key makes
        # that explicit instead of tripping the empty-partition-spec warn
        w_seq = W.partitionBy(F.crc32(F.col("url_hash")) * F.lit(0)).orderBy(
            "parent_seq", "link_idx", "url_hash"
        )
        new_urls_obs = Observation()
        new_urls = new_urls.withColumn(
            "seq", (F.lit(max_seq) + F.row_number().over(w_seq)).cast("long")
        ).select("url", "url_hash", "host", "priority", "seq").observe(
            new_urls_obs, F.count(F.lit(1)).alias("new_urls"),
        ).cache()  # the seen write fills it
        _mark("new_urls_plan")
        # 7. persist deltas + next frontier + lineage
        self.state.write(
            "seen", it,
            new_urls.select("url_hash", "url", F.lit(it).alias("iter")),
            n_files=WRITE_PARTITIONS,
        )
        _mark("seen_write")
        self._write_filter(it, new_urls.select("url_hash"), previous)
        _mark("filter_write")
        frontier_next = remainder.select(
            "url", "url_hash", "host", "priority", "seq"
        ).unionByName(new_urls)
        self.state.write("frontier", it, frontier_next, n_files=WRITE_PARTITIONS)
        _mark("frontier_write")

        part_metrics = (
            fetched.groupBy("part_id")
            .agg(
                F.count(F.lit(1)).alias("n_fetched"),
                F.sum((F.col("status") == 200).cast("int")).alias("n_ok"),
                F.sum("attempts").alias("n_attempts"),
                F.sum(F.size("links")).alias("n_links"),
            )
            .withColumn("iter", F.lit(it))
        )
        self.state.write("metrics", it, part_metrics, n_files=1)

        _mark("persist")
        n_frontier, n_denied = _observed(robots_obs, "frontier", "denied")
        n_fetched, n_ok = _observed(fetched_obs, "fetched", "ok")
        n_new, = _observed(new_urls_obs, "new_urls")
        n_candidates, n_maybe = _observed(probe_obs, "candidates", "maybe")
        totals = {
            "iter": it,
            "fetched": n_fetched,
            "denied": n_denied,
            "new_urls": n_new,
            "new_docs": _observed(docs_obs, "new_docs")[0],
        }
        if cfg.cache_ttl_iters is not None:
            # a wave with no fetch cache yet replays nothing: 0 and 0
            totals["cache_hits"], totals["revalidated"] = (
                (0, 0) if replay_obs is None
                else _observed(replay_obs, "cache_hits", "revalidated"))
        chain = self._chain(prev_chain, totals)
        # maybe-seen candidates the exact anti-join kept are the filter's
        # false positives; every new URL is a true negative of the filter
        filter_fp = n_new - (n_candidates - n_maybe)
        # the wave's stage counts that `totals` does not carry
        wave_stats = {
            "frontier": n_frontier,
            "dequeued": _observed(ranked_obs, "dequeued")[0],
            "ok": n_ok,
            "wave_docs": _observed(wave_docs_obs, "wave_docs")[0],
            "links": _observed(links_obs, "links")[0],
            "candidates": n_candidates, "maybe_seen": n_maybe,
            "seen_hits": n_maybe - filter_fp, "filter_fp": filter_fp,
            "filter_fp_rate": round(filter_fp / n_new, 6) if n_new else 0.0,
            "shard_local": cfg.shard_local(),
        }
        new_max_seq = max_seq + n_new
        documents.unpersist()
        fetched.unpersist()
        candidates.unpersist()
        new_urls.unpersist()
        ranked.unpersist()
        if replayed is not None:
            replayed.unpersist()
        # stage timings and the wave's stats ride the manifest OUTSIDE the
        # chained totals — wall-clock is host-dependent and must not
        # perturb the deterministic lineage chain hash.
        self.state.commit(
            it, chain,
            extra={"max_seq": new_max_seq, "totals": totals,
                   "stage_secs": _stage_secs,
                   "wave_stats": {**manifest.get("wave_stats", {}), str(it): wave_stats}},
        )
        _mark("metrics+commit")

    # ------------------------------------------------------------------
    def visits_ordered(self, upto_iter: int | None = None) -> DataFrame:
        """The crawl-order log, in the deterministic total order."""
        upto = upto_iter if upto_iter is not None else self.state.manifest()["completed_iter"]
        v = self.state.read_all("visits", upto)
        return v.orderBy(*visit_order_cols()) if v is not None else None

    def seen_set(self, upto_iter: int | None = None) -> DataFrame:
        upto = upto_iter if upto_iter is not None else self.state.manifest()["completed_iter"]
        return self.state.read_all("seen", upto)

    # ------------------------------------------------------------------
    def expire_seen(self, older_than_iter: int) -> dict:
        """Sliding-window seen-set retention: forget URLs first seen before
        ``older_than_iter`` so they become re-crawlable (the reference's
        retention GC, utils/retention.py:77-130, applied to the seen set
        — and the reason the cuckoo filter family exists here: deletion).

        The exact seen table is compacted to the surviving rows; the
        approximate filters are rebuilt from them (bloom) or keep their
        bytes minus the expired fingerprints (cuckoo delete_many — no full
        rebuild). Both run shard-local whatever the filter size: expiry
        is rare, and it never routes shard bytes through the driver.
        The compacted seen base and the filter snapshot commit together
        through CrawlState.rewrite, the one rewrite protocol compaction
        uses too."""
        upto = self.state.manifest()["completed_iter"]
        seen = self.state.read_all("seen", upto)
        keep = seen.filter(F.col("iter") >= older_than_iter).cache()
        expired = seen.filter(F.col("iter") < older_than_iter)
        n_keep, n_expired = keep.count(), expired.count()

        cfg = self.cfg
        if cfg.seen_filter == "cuckoo":
            # expired fingerprints leave their own shard's row; untouched
            # shards pass through
            rebuilt = delete_filter_join(
                expired.select("url_hash"), self._filter_table(upto), cfg.n_shards
            )
        else:
            # blooms can't delete: rebuild from the surviving rows
            # (extend over an empty shard table)
            rebuilt = extend_filter_join(
                keep.select("url_hash"), self._filter_frame({}), cfg.n_shards,
                cfg.seen_filter, cfg.bloom_bits_per_shard,
            )
        # the kept shard map describes the superseded filter: drop it
        self._kept_filter = None
        self.state.rewrite(upto, {"bloom": rebuilt, "seen": keep.coalesce(WRITE_PARTITIONS)})
        keep.unpersist()
        return {"kept": n_keep, "expired": n_expired}


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    """CLI: run a fixture-backed synthetic crawl.

    python -m earcrawler_spark.crawler.runner --state-dir /tmp/crawl \
        --max-iters 3 [--wave-seconds 20] [--partitions 8] [--resume]

    ``spark`` is the session to crawl on; without one, ``get_spark`` builds
    it (scripts/crawl_job.py passes its spark-submit session).
    """
    import argparse

    from earcrawler_spark.session import get_spark

    ap = argparse.ArgumentParser(description="PySpark URL-frontier crawler (synthetic web)")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--max-iters", type=int, default=3)
    ap.add_argument("--wave-seconds", type=float, default=20.0)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true",
                    help="continue from the state dir's manifest instead of seeding")
    args = ap.parse_args(argv)

    spark = spark or get_spark("crawler")
    c = Crawler(
        spark, args.state_dir,
        CrawlConfig(wave_seconds=args.wave_seconds, max_iters=args.max_iters,
                    n_partitions=args.partitions),
    )
    if not args.resume:
        c.init_seeds(synth.seed_list())
    m = c.run(max_iters=args.max_iters)
    visits = c.visits_ordered()
    print(json.dumps({
        "completed_iter": m["completed_iter"],
        "chain_hash": m["chain_hash"],
        "totals": m.get("totals"),
        "visits": visits.count() if visits is not None else 0,
        "seen": c.seen_set().count(),
    }))


if __name__ == "__main__":
    main()
