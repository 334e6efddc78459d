"""Query batch — crawl-frontier analytics (crawl-tier, beyond-reference).

Operators a web-scale crawler runs over its own state — the query
form of the frontier machinery in crawler/ (north rule: canonicalized
URL-hash seen set, per-host politeness, host-hash partitioning with hot
domains bis.doc.gov / federalregister.gov):

- ``url_canonicalize``  — the seen-set key path itself: deterministic
  URL variants (case, default port, fragment, utm params, duplicate
  slashes, param order) collapse through the REAL crawler canonicalizer
  (crawler/canonicalize.py, one vectorized Arrow UDF — the north rule's
  "canonicalization through pandas/Arrow UDFs, no per-row Python") to
  one canonical URL + sha256 seen-set key per (doc, scheme).  Reference
  keys its cache by sha256(url‖sorted params) but never canonicalizes
  (earCrawler/utils/http_cache.py:65-84); at web scale canonicalization
  IS the dedup key.
- ``anchor_text_agg``   — per-target anchor-text aggregation over the
  deterministic doc_id link graph shared with link_pagerank /
  hits_scores: in-degree, distinct anchor terms, most-frequent anchor
  (tie-break lexical) — the classic web-scale signal an indexer folds
  into ranking and a crawler folds into URL prioritization.
- ``recrawl_priority``  — freshness-driven recrawl scheduling (Cho &
  Garcia-Molina): per page a Poisson change-rate estimate
  λ̂ = changes / observed-span from the event history, staleness since
  the last observation, and priority = λ̂ · staleness.  Pure BIGINT
  micro-arithmetic (Spark ``div`` == DuckDB ``//``) — bit-stable
  across engines and partitionings.
- ``inverted_index``    — impact-ordered posting lists (df/cf + top-5
  tf-ranked postings per term over the capped vocabulary) — the
  indexer op immediately downstream of a crawl.
- ``robots_compliance`` — the robots.txt audit as a broadcast
  longest-prefix-wins rule join (allow beats disallow on ties —
  crawler/robots.py's matcher as a set-oriented plan).
- ``frontier_dequeue``  — the salted priority-queue dequeue schedule
  itself: per-host priority ranks are politeness waves (≤1 URL per
  host per wave), summarized per wave.
- ``url_templates``     — URL-template mining (digit runs → '{n}')
  for crawl-trap detection over synthetic calendar URL spaces.
- ``sitemap_parse``     — sitemap <loc> extraction + new-URL
  discovery via anti-join against the known frontier.
- ``bloom_fp_audit``    — measured false-positive rate of the
  seen-set bloom pre-filter (crawler/bloom.py) on a disjoint probe
  set, exact micro-integers.
- ``frontier_shard_skew`` — the host-hash shard-load audit behind the
  north rule's "explicit repartition-by-host-hash and skew salting":
  every URL of a host lands in sha256(host)-derived shard (16 shards),
  and the query reports per-shard URL/host counts, the largest
  single-host share (the salting trigger), and the shard's load vs the
  uniform ideal — with bis.doc.gov / federalregister.gov synthesized
  hot exactly like a real EAR crawl's frontier.

Scale notes (10^10-URL frontier / 1000 executors):
- url_canonicalize is scan → one Arrow-batched projection → hash-agg;
  the canonical sha is the partitioner key of the real seen-set shards
  (crawler/runner.py), so the groupBy here is the same shuffle the
  frontier itself pays — no extra passes.
- anchor_text_agg is two partial-agg-friendly aggregations over the
  edge join; anchor strings are bounded (first token), so the
  collect_set stays small; a mega-in-degree page (the skew case) is
  bounded by the same per-host quota the frontier applies upstream.
- recrawl_priority is one groupBy(page) plus a broadcast 1-row global
  max — the per-page history is the natural partitioning.
- frontier_shard_skew aggregates (shard, host) then shard — both
  partial-agg shapes; the hot-host share it emits is precisely the
  statistic the runner uses to decide salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from earcrawler_spark.session import table

CRAWLSTATS_QUERIES: dict = {}
CRAWLSTATS_ORACLES: dict = {}


def _host_col():
    """Deterministic host per doc, hot-domain skewed like a real EAR
    crawl (north rule names bis.doc.gov / federalregister.gov hot)."""
    return (
        F.when(F.col("doc_id") % 10 < 4, F.lit("bis.doc.gov"))
        .when(F.col("doc_id") % 10 < 7, F.lit("federalregister.gov"))
        .otherwise(F.concat(F.lower(F.col("source")), F.lit(".example.org")))
    )


_HOST_SQL = """CASE WHEN doc_id % 10 < 4 THEN 'bis.doc.gov'
         WHEN doc_id % 10 < 7 THEN 'federalregister.gov'
         ELSE lower(source) || '.example.org' END"""


# --- url_canonicalize ----------------------------------------------------


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set key derivation: four messy variants per doc (upper-case
    scheme+host + default port + fragment + unsorted params; utm_
    tracking param; duplicate slashes; https) run through the real
    crawler canonicalizer (crawler/canonicalize.py — ONE ArrowEvalPython
    stage) and collapse to 2 canonical URLs per doc: the three http
    variants merge (n_variants=3), https stays distinct (n_variants=1).
    url_sha = sha256(canonical) is the frontier's seen-set key."""
    from earcrawler_spark.crawler.canonicalize import canonical_url, url_hash_col

    docs = table(spark, sf_dir, "documents")
    h = _host_col()
    path = F.concat(F.lit("/docs/"), F.col("doc_id").cast("string"))
    variants = docs.select(
        F.col("doc_id"),
        h.alias("host"),
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTP://"), F.upper(h), F.lit(":80"), path,
                    F.lit("?b=2&a=1#frag"),
                ),
                F.concat(
                    F.lit("http://"), h, path, F.lit("?utm_source=x&a=1&b=2")
                ),
                F.concat(
                    F.lit("http://"), h, F.lit("//docs//"),
                    F.col("doc_id").cast("string"), F.lit("?a=1&b=2"),
                ),
                F.concat(F.lit("https://"), h, F.lit(":443"), path),
            )
        ).alias("raw_url"),
    )
    canon = variants.withColumn("canonical_url", canonical_url(F.col("raw_url")))
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("host").alias("host"),
        )
        .withColumn("url_sha", url_hash_col(F.col("canonical_url")))
        .select("canonical_url", "host", "n_variants", "url_sha")
        .orderBy("canonical_url")
    )


_SQL_URL_CANONICALIZE = f"""
WITH base AS (
  SELECT doc_id,
         {_HOST_SQL} AS host
  FROM documents
), canon AS (
  SELECT host,
         'http://' || host || '/docs/' || CAST(doc_id AS VARCHAR)
           || '?a=1&b=2' AS canonical_url,
         CAST(3 AS BIGINT) AS n_variants
  FROM base
  UNION ALL
  SELECT host,
         'https://' || host || '/docs/' || CAST(doc_id AS VARCHAR) AS canonical_url,
         CAST(1 AS BIGINT) AS n_variants
  FROM base
)
SELECT canonical_url, host, n_variants, sha256(canonical_url) AS url_sha
FROM canon
ORDER BY canonical_url
"""

CRAWLSTATS_QUERIES["url_canonicalize"] = q_url_canonicalize
CRAWLSTATS_ORACLES["url_canonicalize"] = _SQL_URL_CANONICALIZE


# --- anchor_text_agg ------------------------------------------------------


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation over the doc_id link graph
    (shared with link_pagerank, queries_graph._nodes_edges): each edge
    carries the source doc's first token as its anchor term; per target
    the in-degree, distinct-anchor count, sorted anchor list and the
    most-frequent anchor (count DESC, term ASC tie-break)."""
    from earcrawler_spark.queries_graph import _nodes_edges

    docs = table(spark, sf_dir, "documents")
    nodes, edges = _nodes_edges(spark, sf_dir)
    anchors = docs.select(
        F.col("doc_id").alias("src"),
        F.regexp_extract(F.lower(F.col("text")), "[a-z0-9]+", 0).alias("anchor"),
    )
    ea = edges.join(anchors, "src")
    per_anchor = ea.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("dst").orderBy(F.col("cnt").desc(), F.col("anchor").asc())
    top = (
        per_anchor.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "dst",
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").cast("bigint").alias("top_anchor_n"),
        )
    )
    # derive everything from the already-reduced (dst, anchor, cnt)
    # table — re-aggregating the raw edge join would pay a second full
    # shuffle over the biggest intermediate for values per_anchor
    # already determines ((dst, anchor) rows are unique here).
    agg = per_anchor.groupBy("dst").agg(
        F.sum("cnt").cast("bigint").alias("in_deg"),
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.array_join(F.array_sort(F.collect_list("anchor")), "|").alias("anchors"),
    )
    return (
        agg.join(top, "dst")
        .select(
            F.col("dst").alias("node"), "in_deg", "n_anchors",
            "top_anchor", "top_anchor_n", "anchors",
        )
        .orderBy("node")
    )


def _anchor_sql() -> str:
    from earcrawler_spark.queries_graph import PR_FANOUT, _STRIDE

    return f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
nodes AS (SELECT doc_id AS node FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT node AS src, ({_STRIDE} * node + 11 * j) % n AS dst
    FROM nodes CROSS JOIN nd,
         unnest([{", ".join(str(j) for j in range(1, PR_FANOUT + 1))}]) AS u(j))
  WHERE dst <> src
), anchors AS (
  SELECT doc_id AS src, regexp_extract(lower(text), '[a-z0-9]+', 0) AS anchor
  FROM documents
), ea AS (
  SELECT e.dst, a.anchor FROM edges e JOIN anchors a ON e.src = a.src
), per_anchor AS (
  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS cnt
  FROM ea GROUP BY dst, anchor
), top AS (
  SELECT dst, anchor AS top_anchor, cnt AS top_anchor_n
  FROM (SELECT dst, anchor, cnt,
               ROW_NUMBER() OVER (PARTITION BY dst
                                  ORDER BY cnt DESC, anchor ASC) AS rk
        FROM per_anchor)
  WHERE rk = 1
), dedup AS (
  SELECT DISTINCT dst, anchor FROM ea
), agg AS (
  SELECT e.dst,
         CAST(count(*) AS BIGINT) AS in_deg
  FROM ea e GROUP BY e.dst
), da AS (
  SELECT dst,
         CAST(count(*) AS BIGINT) AS n_anchors,
         string_agg(anchor, '|' ORDER BY anchor) AS anchors
  FROM dedup GROUP BY dst
)
SELECT a.dst AS node, a.in_deg, d.n_anchors, t.top_anchor, t.top_anchor_n,
       d.anchors
FROM agg a JOIN da d ON a.dst = d.dst JOIN top t ON a.dst = t.dst
ORDER BY node
"""


CRAWLSTATS_QUERIES["anchor_text_agg"] = q_anchor_text_agg
CRAWLSTATS_ORACLES["anchor_text_agg"] = _anchor_sql()


# --- recrawl_priority -----------------------------------------------------

N_PAGES = 200  # event_id % N_PAGES → page identity
_MICRO = 1_000_000


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina change-
    rate estimation): pages observe events (page = event_id % 200;
    'click'/'purchase' mark a detected content change); per page
    λ̂_micro = changes·3600·10^6 div observed-span-seconds (changes per
    hour), staleness = global-max ts − page's last observation, and
    priority_micro = λ̂_micro · staleness div 3600 — the expected number
    of missed changes, the canonical recrawl-ordering key.  Exact BIGINT
    arithmetic end to end; the global max is a broadcast 1-row agg."""
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("event_id") % N_PAGES).cast("bigint").alias("page_id"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.when(F.col("event_type").isin("click", "purchase"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    per_page = obs.groupBy("page_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("chg").cast("bigint").alias("n_changes"),
        F.min("epoch_s").alias("first_s"),
        F.max("epoch_s").alias("last_s"),
    )
    gmax = obs.agg(F.max("epoch_s").alias("gmax_s"))
    lam = F.when(
        F.col("last_s") > F.col("first_s"),
        F.expr(f"(n_changes * 3600 * {_MICRO}) div (last_s - first_s)"),
    ).otherwise(F.lit(0))
    return (
        per_page.crossJoin(F.broadcast(gmax))
        .select(
            "page_id", "n_obs", "n_changes",
            lam.cast("bigint").alias("lambda_micro"),
            (F.col("gmax_s") - F.col("last_s")).cast("bigint").alias("staleness_s"),
        )
        .withColumn(
            "priority_micro",
            F.expr("(lambda_micro * staleness_s) div 3600").cast("bigint"),
        )
        .orderBy(F.desc("priority_micro"), "page_id")
    )


_SQL_RECRAWL_PRIORITY = f"""
WITH obs AS (
  SELECT CAST(event_id % {N_PAGES} AS BIGINT) AS page_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
         CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END AS chg
  FROM events
), per_page AS (
  SELECT page_id,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(chg) AS BIGINT) AS n_changes,
         min(epoch_s) AS first_s,
         max(epoch_s) AS last_s
  FROM obs GROUP BY page_id
), gmax AS (SELECT max(epoch_s) AS gmax_s FROM obs)
SELECT page_id, n_obs, n_changes,
       CAST(CASE WHEN last_s > first_s
                 THEN (n_changes * 3600 * {_MICRO}) // (last_s - first_s)
                 ELSE 0 END AS BIGINT) AS lambda_micro,
       CAST(g.gmax_s - last_s AS BIGINT) AS staleness_s,
       CAST((CASE WHEN last_s > first_s
                  THEN (n_changes * 3600 * {_MICRO}) // (last_s - first_s)
                  ELSE 0 END * (g.gmax_s - last_s)) // 3600 AS BIGINT)
         AS priority_micro
FROM per_page CROSS JOIN gmax g
ORDER BY priority_micro DESC, page_id
"""

CRAWLSTATS_QUERIES["recrawl_priority"] = q_recrawl_priority
CRAWLSTATS_ORACLES["recrawl_priority"] = _SQL_RECRAWL_PRIORITY


# --- frontier_shard_skew --------------------------------------------------

N_SHARDS = 16


def q_frontier_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-hash shard-load audit: one frontier URL per doc, sharded by
    sha256(host) (hex-prefix integer % 16 — the crawler's repartition-
    by-host-hash key, so every URL of a host colocates); per shard the
    URL/host counts, the largest single-host share (the statistic that
    triggers skew salting for bis.doc.gov / federalregister.gov) and
    the shard's load vs the uniform ideal.  Micro-integer shares."""
    docs = table(spark, sf_dir, "documents")
    urls = docs.select(
        _host_col().alias("host"),
        F.concat(
            F.lit("http://"), _host_col(), F.lit("/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    shard = (
        F.conv(F.substring(F.sha2(F.col("host"), 256), 1, 4), 16, 10)
        .cast("bigint") % N_SHARDS
    )
    per_host = urls.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    sharded = per_host.select(
        shard.alias("shard"), "host", "n_urls"
    )
    total = urls.agg(F.count(F.lit(1)).cast("bigint").alias("total_urls"))
    return (
        sharded.groupBy("shard")
        .agg(
            F.sum("n_urls").cast("bigint").alias("shard_urls"),
            F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
            F.max("n_urls").cast("bigint").alias("max_host_urls"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "shard", "shard_urls", "n_hosts",
            F.expr(f"(max_host_urls * {_MICRO}) div shard_urls")
            .cast("bigint")
            .alias("max_host_share_micro"),
            F.expr(f"(shard_urls * {N_SHARDS} * {_MICRO}) div total_urls")
            .cast("bigint")
            .alias("load_vs_uniform_micro"),
        )
        .orderBy(F.desc("shard_urls"), "shard")
    )


def _shard_hex_sql() -> str:
    terms = [
        f"{16 ** (4 - i)} * (strpos('0123456789abcdef', substr(sha256(host), {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    return "(" + " + ".join(terms) + f") % {N_SHARDS}"


_SQL_FRONTIER_SHARD_SKEW = f"""
WITH urls AS (
  SELECT {_HOST_SQL} AS host FROM documents
), per_host AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_urls
  FROM urls GROUP BY host
), sharded AS (
  SELECT CAST({_shard_hex_sql()} AS BIGINT) AS shard, host, n_urls
  FROM per_host
), total AS (SELECT CAST(count(*) AS BIGINT) AS total_urls FROM urls)
SELECT shard,
       CAST(sum(n_urls) AS BIGINT) AS shard_urls,
       CAST(count(*) AS BIGINT) AS n_hosts,
       CAST((max(n_urls) * {_MICRO}) // sum(n_urls) AS BIGINT)
         AS max_host_share_micro,
       CAST((sum(n_urls) * {N_SHARDS} * {_MICRO}) // t.total_urls AS BIGINT)
         AS load_vs_uniform_micro
FROM sharded CROSS JOIN total t
GROUP BY shard, t.total_urls
ORDER BY shard_urls DESC, shard
"""

CRAWLSTATS_QUERIES["frontier_shard_skew"] = q_frontier_shard_skew
CRAWLSTATS_ORACLES["frontier_shard_skew"] = _SQL_FRONTIER_SHARD_SKEW


# --- inverted_index -------------------------------------------------------

IDX_TERMS = 200   # vocab cap (top_terms / term_cooccurrence precedent)
IDX_TOPK = 5      # postings kept per term


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered inverted index — the indexer op downstream of a
    crawl: per term the document frequency, collection frequency and
    the top-5 postings by term frequency (tf DESC, doc_id ASC) as a
    'doc:tf' string, over the top-200 vocabulary (df DESC, term ASC —
    the registry's standard skew cap).

    Scale: (term, doc) tf is one explode + partial hash agg; the vocab
    cap is a bounded TakeOrderedAndProject broadcast back onto the tf
    table (no global window), and the per-term top-k is a window
    PARTITIONED by term — the classic impact-ordering shuffle."""
    from earcrawler_spark.functions import text as TXT

    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    vocab = stats.orderBy(F.desc("df"), "term").limit(IDX_TERMS)
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    postings = (
        tf.join(F.broadcast(vocab.select("term")), "term")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= IDX_TOPK)
        .withColumn(
            "s",
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"),
                F.col("tf").cast("string"),
            ),
        )
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "s"))),
                    lambda x: x["s"],
                ),
                "|",
            ).alias("top_postings")
        )
    )
    return (
        vocab.join(postings, "term")
        .select("term", "df", "cf", "top_postings")
        .orderBy(F.desc("df"), "term")
    )


def _inverted_index_sql() -> str:
    from earcrawler_spark.functions.text import TOKENS_SQL

    return f"""
WITH tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents)
  GROUP BY term, doc_id
), stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
  FROM tf GROUP BY term
), vocab AS (
  SELECT term, df, cf FROM stats ORDER BY df DESC, term LIMIT {IDX_TERMS}
), ranked AS (
  SELECT t.term, t.doc_id, t.tf,
         ROW_NUMBER() OVER (PARTITION BY t.term
                            ORDER BY t.tf DESC, t.doc_id ASC) AS rk
  FROM tf t JOIN vocab v ON t.term = v.term
), postings AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                    '|' ORDER BY rk) AS top_postings
  FROM ranked WHERE rk <= {IDX_TOPK} GROUP BY term
)
SELECT v.term, v.df, v.cf, p.top_postings
FROM vocab v JOIN postings p ON v.term = p.term
ORDER BY v.df DESC, v.term
"""


CRAWLSTATS_QUERIES["inverted_index"] = q_inverted_index
CRAWLSTATS_ORACLES["inverted_index"] = _inverted_index_sql()


# --- robots_compliance ----------------------------------------------------

# (host, path_prefix, allow) — '*' matches every host.  Longest-prefix
# wins; on equal length allow wins (Google robots.txt precedence; the
# engine twin of crawler/robots.py's matcher).
ROBOTS_RULES: list[tuple[str, str, bool]] = [
    ("*", "/private/", False),
    ("federalregister.gov", "/docs/", False),
    ("federalregister.gov", "/docs/4", True),
    ("bis.doc.gov", "/docs/13", False),
]


def q_robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-rule compliance audit over the frontier: every URL joins
    the (broadcast) robots rule table on host + path-prefix, the most
    specific rule wins (length DESC, allow DESC tie-break, default
    allow), and the audit reports per host the allowed/blocked split
    and the dominant blocking rule.  This is the at-scale shape of
    robots matching: rules are a broadcast dim (small — per-host
    robots.txt), URLs never shuffle for the match itself."""
    docs = table(spark, sf_dir, "documents")
    urls = docs.select(
        _host_col().alias("host"),
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/")).otherwise(
                F.lit("/docs/")
            ),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        ROBOTS_RULES, "r_host string, r_path string, r_allow boolean"
    )
    cond = (
        (F.col("r_host") == F.lit("*")) | (F.col("r_host") == F.col("host"))
    ) & F.col("path").startswith(F.col("r_path"))
    w = Window.partitionBy("host", "path").orderBy(
        F.length("r_path").desc(), F.col("r_allow").desc()
    )
    decided = (
        urls.join(F.broadcast(rules), cond, "left")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "host", "path",
            F.coalesce(F.col("r_allow"), F.lit(True)).alias("allowed"),
            F.when(~F.coalesce(F.col("r_allow"), F.lit(True)), F.col("r_path"))
            .otherwise(F.lit(""))
            .alias("block_rule"),
        )
    )
    blocked = F.when(~F.col("allowed"), F.lit(1)).otherwise(F.lit(0))
    per_rule = decided.filter(~F.col("allowed")).groupBy("host", "block_rule").agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = Window.partitionBy("host").orderBy(
        F.col("n").desc(), F.col("block_rule").asc()
    )
    top_rule = (
        per_rule.withColumn("rr", F.row_number().over(wr))
        .filter(F.col("rr") == 1)
        .select("host", F.col("block_rule").alias("top_block_rule"))
    )
    return (
        decided.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.sum(blocked).cast("bigint").alias("n_blocked"),
            (F.count(F.lit(1)) - F.sum(blocked)).cast("bigint").alias("n_allowed"),
        )
        .join(top_rule, "host", "left")
        .select(
            "host", "n_urls", "n_allowed", "n_blocked",
            F.expr(f"(n_blocked * {_MICRO}) div n_urls")
            .cast("bigint")
            .alias("blocked_share_micro"),
            F.coalesce(F.col("top_block_rule"), F.lit("")).alias("top_block_rule"),
        )
        .orderBy("host")
    )


def _robots_rules_values() -> str:
    return ", ".join(
        f"('{h}', '{p}', {str(a).upper()})" for h, p, a in ROBOTS_RULES
    )


_SQL_ROBOTS_COMPLIANCE = f"""
WITH urls AS (
  SELECT {_HOST_SQL} AS host,
         (CASE WHEN doc_id % 5 = 0 THEN '/private/' ELSE '/docs/' END)
           || CAST(doc_id AS VARCHAR) AS path
  FROM documents
), rules(r_host, r_path, r_allow) AS (
  VALUES {_robots_rules_values()}
), matched AS (
  SELECT u.host, u.path, r.r_path, r.r_allow,
         ROW_NUMBER() OVER (PARTITION BY u.host, u.path
                            ORDER BY length(r.r_path) DESC,
                                     r.r_allow DESC) AS rk
  FROM urls u LEFT JOIN rules r
    ON (r.r_host = '*' OR r.r_host = u.host)
   AND starts_with(u.path, r.r_path)
), decided AS (
  SELECT host, path,
         coalesce(r_allow, TRUE) AS allowed,
         CASE WHEN NOT coalesce(r_allow, TRUE) THEN r_path ELSE '' END
           AS block_rule
  FROM matched WHERE rk = 1
), per_rule AS (
  SELECT host, block_rule, CAST(count(*) AS BIGINT) AS n
  FROM decided WHERE NOT allowed GROUP BY host, block_rule
), top_rule AS (
  SELECT host, block_rule AS top_block_rule
  FROM (SELECT host, block_rule, n,
               ROW_NUMBER() OVER (PARTITION BY host
                                  ORDER BY n DESC, block_rule ASC) AS rr
        FROM per_rule)
  WHERE rr = 1
), agg AS (
  SELECT host,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
         CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
  FROM decided GROUP BY host
)
SELECT a.host, a.n_urls, a.n_allowed, a.n_blocked,
       CAST((a.n_blocked * {_MICRO}) // a.n_urls AS BIGINT)
         AS blocked_share_micro,
       coalesce(t.top_block_rule, '') AS top_block_rule
FROM agg a LEFT JOIN top_rule t ON a.host = t.host
ORDER BY a.host
"""

CRAWLSTATS_QUERIES["robots_compliance"] = q_robots_compliance
CRAWLSTATS_ORACLES["robots_compliance"] = _SQL_ROBOTS_COMPLIANCE


# --- frontier_dequeue -----------------------------------------------------


def q_frontier_dequeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The priority-frontier dequeue schedule as a relational plan (the
    query twin of crawler/runner.py's salted politeness waves): every
    URL gets a deterministic sha-derived priority, ranks within its
    host (priority DESC, url ASC) — that rank IS the politeness wave,
    since a polite crawler takes at most one URL per host per interval
    — and the output is the per-wave schedule summary the scheduler
    executes: URLs/hosts served, the priority band, and the hot hosts
    still pending after the wave.

    Scale: one window partitioned BY HOST (the frontier's native
    partitioning — no shuffle beyond the one the seen-set already
    pays) + one wave-keyed aggregation.  n_urls == n_hosts per wave by
    construction (politeness invariant; asserted in tests)."""
    docs = table(spark, sf_dir, "documents")
    urls = docs.select(
        _host_col().alias("host"),
        F.concat(
            F.lit("http://"), _host_col(), F.lit("/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    ).withColumn(
        "prio_micro",
        (
            F.conv(F.substring(F.sha2(F.col("url"), 256), 1, 8), 16, 10)
            .cast("bigint") % _MICRO
        ),
    )
    w = Window.partitionBy("host").orderBy(F.col("prio_micro").desc(), "url")
    waved = urls.withColumn("wave", F.row_number().over(w).cast("bigint"))
    return (
        waved.groupBy("wave")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.count_distinct("host").cast("bigint").alias("n_hosts"),
            F.max("prio_micro").cast("bigint").alias("max_prio_micro"),
            F.min("prio_micro").cast("bigint").alias("min_prio_micro"),
        )
        .orderBy("wave")
    )


def _prio_hex_sql() -> str:
    terms = [
        f"{16 ** (8 - i)} * (strpos('0123456789abcdef', substr(sha256(url), {i}, 1)) - 1)"
        for i in range(1, 9)
    ]
    return "((" + " + ".join(terms) + f") % {_MICRO})"


_SQL_FRONTIER_DEQUEUE = f"""
WITH urls AS (
  SELECT host,
         'http://' || host || '/docs/' || CAST(doc_id AS VARCHAR) AS url
  FROM (SELECT doc_id, {_HOST_SQL} AS host FROM documents)
), prio AS (
  SELECT host, url, CAST({_prio_hex_sql()} AS BIGINT) AS prio_micro
  FROM urls
), waved AS (
  SELECT host, url, prio_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY host
                                 ORDER BY prio_micro DESC, url ASC)
              AS BIGINT) AS wave
  FROM prio
)
SELECT wave,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(max(prio_micro) AS BIGINT) AS max_prio_micro,
       CAST(min(prio_micro) AS BIGINT) AS min_prio_micro
FROM waved
GROUP BY wave
ORDER BY wave
"""

CRAWLSTATS_QUERIES["frontier_dequeue"] = q_frontier_dequeue
CRAWLSTATS_ORACLES["frontier_dequeue"] = _SQL_FRONTIER_DEQUEUE


# --- url_templates --------------------------------------------------------

TRAP_MIN_URLS = 50  # a template this hot on one host marks a URL-space trap


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-template mining / crawl-trap detection: paths collapse to
    templates (digit runs → '{n}'), and per (host, template) the query
    reports the URL count, the host share and the trap flag — the
    statistic a crawler uses to stop descending into calendar/session
    URL spaces (every doc_id%5==0 page here sits in a synthetic /cal/
    date space, the classic trap shape).  Pure regexp projection +
    one partial-agg groupBy; no joins until the broadcast host total."""
    docs = table(spark, sf_dir, "documents")
    urls = docs.select(
        _host_col().alias("host"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("/cal/2024-01-"),
                (F.col("doc_id") % 28 + 1).cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("/docs/"), F.col("doc_id").cast("string")))
        .alias("path"),
    )
    tpl = urls.select(
        "host", F.regexp_replace("path", "[0-9]+", "{n}").alias("template")
    )
    per_host = tpl.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("host_urls")
    )
    return (
        tpl.groupBy("host", "template")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_urls"))
        .join(F.broadcast(per_host), "host")
        .select(
            "host", "template", "n_urls",
            F.expr(f"(n_urls * {_MICRO}) div host_urls")
            .cast("bigint")
            .alias("host_share_micro"),
            (F.col("n_urls") >= TRAP_MIN_URLS).alias("is_trap"),
        )
        .orderBy(F.desc("n_urls"), "host", "template")
    )


_SQL_URL_TEMPLATES = f"""
WITH urls AS (
  SELECT {_HOST_SQL} AS host,
         CASE WHEN doc_id % 5 = 0
              THEN '/cal/2024-01-' || CAST(doc_id % 28 + 1 AS VARCHAR)
              ELSE '/docs/' || CAST(doc_id AS VARCHAR) END AS path
  FROM documents
), tpl AS (
  SELECT host, regexp_replace(path, '[0-9]+', '{{n}}', 'g') AS template
  FROM urls
), per_host AS (
  SELECT host, CAST(count(*) AS BIGINT) AS host_urls FROM tpl GROUP BY host
), agg AS (
  SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls
  FROM tpl GROUP BY host, template
)
SELECT a.host, a.template, a.n_urls,
       CAST((a.n_urls * {_MICRO}) // p.host_urls AS BIGINT) AS host_share_micro,
       a.n_urls >= {TRAP_MIN_URLS} AS is_trap
FROM agg a JOIN per_host p ON a.host = p.host
ORDER BY a.n_urls DESC, a.host, a.template
"""

CRAWLSTATS_QUERIES["url_templates"] = q_url_templates
CRAWLSTATS_ORACLES["url_templates"] = _SQL_URL_TEMPLATES


# --- sitemap_parse --------------------------------------------------------


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery: per host a sitemap XML document (the host's
    known /docs/ URLs plus two sitemap-only /extra/ URLs) is parsed
    with regexp_extract_all('<loc>…</loc>') — the real extraction a
    crawler runs on fetched sitemap bytes — and the extracted URLs
    anti-join the frontier's known set to count NEW discoveries.
    Per host: locs parsed, already-known, newly discovered.

    Scale: sitemaps are one row per host (bounded — real sitemaps cap
    at 50k locs), so the explode fans back out to URL cardinality and
    the anti-join is the same seen-set shuffle the frontier pays."""
    docs = table(spark, sf_dir, "documents")
    known = docs.select(
        _host_col().alias("host"),
        F.concat(
            F.lit("http://"), _host_col(), F.lit("/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    sitemap = known.groupBy("host").agg(
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(F.lit("<loc>"), F.col("url"), F.lit("</loc>"))
                    )
                ),
                "",
            ),
            F.lit("<loc>http://"), F.col("host"), F.lit("/extra/1</loc>"),
            F.lit("<loc>http://"), F.col("host"), F.lit("/extra/2</loc>"),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    locs = sitemap.select(
        "host",
        F.explode(
            F.regexp_extract_all(F.col("xml"), F.lit("<loc>([^<]+)</loc>"), 1)
        ).alias("loc"),
    )
    new = locs.join(known, locs["loc"] == known["url"], "left_anti")
    n_new = new.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    return (
        locs.groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_locs"))
        .join(n_new, "host")
        .select(
            "host", "n_locs",
            (F.col("n_locs") - F.col("n_new")).cast("bigint").alias("n_known"),
            "n_new",
        )
        .orderBy("host")
    )


_SQL_SITEMAP_PARSE = f"""
WITH known AS (
  SELECT host, 'http://' || host || '/docs/' || CAST(doc_id AS VARCHAR) AS url
  FROM (SELECT doc_id, {_HOST_SQL} AS host FROM documents)
), sitemap AS (
  SELECT host,
         '<urlset>'
           || string_agg('<loc>' || url || '</loc>', '' ORDER BY url)
           || '<loc>http://' || host || '/extra/1</loc>'
           || '<loc>http://' || host || '/extra/2</loc>'
           || '</urlset>' AS xml
  FROM known GROUP BY host
), locs AS (
  SELECT host, unnest(regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)) AS loc
  FROM sitemap
), new AS (
  SELECT l.host, CAST(count(*) AS BIGINT) AS n_new
  FROM locs l LEFT JOIN known k ON l.loc = k.url
  WHERE k.url IS NULL GROUP BY l.host
)
SELECT l.host,
       CAST(count(*) AS BIGINT) AS n_locs,
       CAST(count(*) - n.n_new AS BIGINT) AS n_known,
       n.n_new
FROM locs l JOIN new n ON l.host = n.host
GROUP BY l.host, n.n_new
ORDER BY l.host
"""

CRAWLSTATS_QUERIES["sitemap_parse"] = q_sitemap_parse
CRAWLSTATS_ORACLES["sitemap_parse"] = _SQL_SITEMAP_PARSE


# --- bloom_fp_audit -------------------------------------------------------

BLOOM_M = 1 << 16   # filter positions
BLOOM_K = 4         # hashes per key


def _bloom_positions(url_col, engine: str):
    """k=4 sha256-derived positions per key: 4 disjoint 4-hex-digit
    slices of the digest, each mod m.  Same derivation both engines."""
    if engine == "spark":
        sha = F.sha2(url_col, 256)
        return F.array(
            *[
                (
                    F.conv(F.substring(sha, 1 + 4 * i, 4), 16, 10).cast("bigint")
                    % BLOOM_M
                )
                for i in range(BLOOM_K)
            ]
        )
    terms = []
    for i in range(BLOOM_K):
        start = 1 + 4 * i
        digits = " + ".join(
            f"{16 ** (3 - j)} * (strpos('0123456789abcdef', "
            f"substr(sha256({url_col}), {start + j}, 1)) - 1)"
            for j in range(4)
        )
        terms.append(f"CAST(({digits}) % {BLOOM_M} AS BIGINT)")
    return "[" + ", ".join(terms) + "]"


def q_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set bloom false-positive audit (the query form of the
    frontier's bloom pre-filter, crawler/bloom.py): the filter is the
    distinct position set of the known URLs (k=4 sha-derived positions,
    m=65536); a disjoint probe set (one /probe/ URL per doc) tests it —
    a probe whose k positions are ALL set is a false positive.  Emits
    the measured fill ratio and FP rate as exact micro-integers — the
    statistic that validates the frontier's bits-per-URL budget.
    No libm: the theoretical (1-e^{-kn/m})^k stays in the docs; the
    measured rate is the audit.

    Scale: known→positions is an explode + distinct (the filter build
    the crawler already pays per shard); the probe is one join on
    position and one count-per-URL — both partial-agg shapes."""
    docs = table(spark, sf_dir, "documents")
    known = docs.select(
        F.concat(
            F.lit("http://"), _host_col(), F.lit("/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    probes = docs.select(
        F.concat(
            F.lit("http://"), _host_col(), F.lit("/probe/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    bits = (
        known.select(F.explode(_bloom_positions(F.col("url"), "spark")).alias("pos"))
        .distinct()
    )
    probe_pos = probes.select(
        "url", F.explode(_bloom_positions(F.col("url"), "spark")).alias("pos")
    )
    hits = (
        probe_pos.join(bits, "pos")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("set_positions"))
        .filter(F.col("set_positions") == BLOOM_K)
        .agg(F.count(F.lit(1)).alias("fp"))
    )
    counts = known.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_known")
    ).crossJoin(F.broadcast(probes.agg(F.count(F.lit(1)).alias("n_probes"))))
    nbits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    return (
        counts.crossJoin(F.broadcast(nbits))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_known",
            F.lit(BLOOM_M).cast("bigint").alias("m_bits"),
            F.lit(BLOOM_K).cast("bigint").alias("k_hashes"),
            F.col("bits_set").cast("bigint").alias("bits_set"),
            F.expr(f"(bits_set * {_MICRO}) div {BLOOM_M}")
            .cast("bigint")
            .alias("fill_micro"),
            F.col("n_probes").cast("bigint").alias("n_probes"),
            F.coalesce(F.col("fp"), F.lit(0)).cast("bigint").alias("fp_count"),
            F.expr(f"(coalesce(fp, 0) * {_MICRO}) div n_probes")
            .cast("bigint")
            .alias("fp_rate_micro"),
        )
    )


_SQL_BLOOM_FP_AUDIT = f"""
WITH known AS (
  SELECT 'http://' || {_HOST_SQL} || '/docs/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), probes AS (
  SELECT 'http://' || {_HOST_SQL} || '/probe/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), bits AS (
  SELECT DISTINCT unnest({_bloom_positions('url', 'duckdb')}) AS pos FROM known
), probe_pos AS (
  SELECT url, unnest({_bloom_positions('url', 'duckdb')}) AS pos FROM probes
), hits AS (
  SELECT CAST(count(*) AS BIGINT) AS fp FROM (
    SELECT p.url FROM probe_pos p JOIN bits b ON p.pos = b.pos
    GROUP BY p.url HAVING count(*) = {BLOOM_K})
), counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM known) AS n_known,
         (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
         (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set
)
SELECT n_known,
       CAST({BLOOM_M} AS BIGINT) AS m_bits,
       CAST({BLOOM_K} AS BIGINT) AS k_hashes,
       bits_set,
       CAST((bits_set * {_MICRO}) // {BLOOM_M} AS BIGINT) AS fill_micro,
       n_probes,
       h.fp AS fp_count,
       CAST((h.fp * {_MICRO}) // n_probes AS BIGINT) AS fp_rate_micro
FROM counts, hits h
"""

CRAWLSTATS_QUERIES["bloom_fp_audit"] = q_bloom_fp_audit
CRAWLSTATS_ORACLES["bloom_fp_audit"] = _SQL_BLOOM_FP_AUDIT
