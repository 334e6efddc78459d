"""HTTP fetch cache — conditional-GET semantics as a table.

Reference: earCrawler/utils/http_cache.py:65-197 — a disk cache keyed by
sha256(url‖params‖vary-headers) holding {etag, last_modified, body} with
TTL expiry and If-None-Match revalidation. Here the cache is a
checkpointed table:

    fetch_cache(url_hash, etag, content_hash, fetched_iter, spans, links)

storing the parse artifacts (spans + links) so a hit can REPLAY the
cached parse — cached pages keep contributing document rows and link
expansion, not just visit log entries. Two hit tiers:

  * FRESH (age <= ttl_iters): bypass the network entirely and replay the
    cached parse. fetched_iter is NOT refreshed (nothing was revalidated)
    — freshness is an absolute window, like HTTP max-age.
  * STALE (age > ttl_iters): fetch WITH the stored etag (If-None-Match).
    A 304 replays the cached parse and REFRESHES fetched_iter — sliding
    revalidation, the reference's touch-on-304 (http_cache.py:130-141);
    a 200 (content changed) takes the normal parse path and upserts.

merge_cache is the MERGE INTO: 200s upsert (etag, content, spans, links),
304s refresh fetched_iter keeping the stored artifacts, everything else
is carried over unchanged. Iceberg MERGE INTO in production;
delta-rewrite here.

Scale: all joins are url_hash-keyed — identical bucketing to the
seen-set, so they co-partition with the frontier's other joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CACHE_SCHEMA = (
    "url_hash string, etag string, content_hash string, fetched_iter int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "links array<string>"
)


def split_by_cache(
    dequeued: DataFrame, cache: DataFrame | None, it: int, ttl_iters: int
) -> tuple[DataFrame, DataFrame | None]:
    """→ (to_fetch, fresh_hits); fresh_hits is None without a cache.

    fresh_hits (age <= ttl_iters) bypass the fetch stage and carry the
    cached parse under the parse's own column names (content_hash, spans,
    links), so they replay exactly like revalidated 304s.
    to_fetch carries an ``etag`` column — the stored validator for stale
    entries (null for cache misses) — which the fetch stage sends as
    If-None-Match.
    """
    if cache is None:
        return dequeued.withColumn("etag", F.lit(None).cast("string")), None
    entries = cache.select(
        "url_hash",
        F.col("etag").alias("_etag"),
        ((F.lit(it) - F.col("fetched_iter")) <= ttl_iters).alias("_fresh"),
        "content_hash",
        "spans",
        "links",
    )
    joined = dequeued.join(entries, "url_hash", "left")
    to_fetch = (
        joined.filter(F.col("_fresh").isNull() | ~F.col("_fresh"))
        .drop("_fresh", "content_hash", "spans", "links")
        .withColumnRenamed("_etag", "etag")
    )
    hits = joined.filter(F.col("_fresh")).drop("_etag", "_fresh")
    return to_fetch, hits


def merge_cache(old: DataFrame | None, fetched: DataFrame, it: int) -> DataFrame:
    """MERGE the wave's fetch results into the cache. ``fetched`` needs
    (url_hash, content_hash, status, spans, links). 200 -> upsert with
    etag = content fingerprint (the synthetic server's validator; a real
    transport would carry the response ETag header through instead);
    304 -> refresh fetched_iter on the stored row (sliding revalidation);
    other statuses leave the cache untouched."""
    new_entries = fetched.filter(F.col("status") == 200).select(
        "url_hash",
        F.col("content_hash").alias("etag"),
        "content_hash",
        F.lit(it).alias("fetched_iter"),
        "spans",
        "links",
    )
    if old is None:
        return new_entries
    revalidated = fetched.filter(F.col("status") == 304).select("url_hash")
    refreshed = old.join(revalidated, "url_hash").withColumn(
        "fetched_iter", F.lit(it)
    )
    kept = (
        old.join(new_entries.select("url_hash"), "url_hash", "left_anti")
        .join(revalidated, "url_hash", "left_anti")
    )
    return kept.unionByName(refreshed).unionByName(new_entries)


def evict_cache(
    cache: DataFrame,
    it: int,
    max_entries: int = 4096,
    evict_ttl_iters: int | None = None,
) -> DataFrame:
    """Post-merge maintenance — the reference's ``_evict``
    (http_cache.py:173-197): TTL eviction first (entries whose last
    write/touch is older than evict_ttl_iters drop entirely, losing
    their validator exactly like the reference unlinks the file), then
    size-capped LRU — keep the newest ``max_entries`` by fetched_iter.
    fetched_iter is the mtime analogue: 200 upserts and 304 touches both
    refresh it, so revalidation keeps an entry alive in LRU order.

    Ties inside one iteration break on url_hash (the reference's
    same-mtime order is filesystem-dependent; here it is pinned for
    determinism). The cap is a bounded constant, so the keep-set is a
    TakeOrderedAndProject — no full sort materializes at scale."""
    kept = cache
    if evict_ttl_iters is not None:
        kept = kept.filter((F.lit(it) - F.col("fetched_iter")) <= evict_ttl_iters)
    if max_entries and max_entries > 0:
        kept = kept.orderBy(
            F.desc("fetched_iter"), F.desc("url_hash")
        ).limit(max_entries)
    return kept
