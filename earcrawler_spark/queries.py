"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the driver's synthetic tables.

Conventions (driver contract):
- each spark fn takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL;
- float aggregates are ``round(x, 4)`` (or 6) on BOTH sides so the
  value-hash compare is immune to summation-order ulp drift;
- rankings follow the reference's deterministic-top-k pattern
  (retriever_ranking.py:29-40): bucket the score at fixed precision,
  then break ties on a stable key — identical on both engines.

Scale notes are inline per query: the plan each query produces is the one
we'd want at 100 TB (broadcast dims, partial aggregation, pushed filters).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.fixture_vocab import BM25_QUERY
from earcrawler_spark.functions import text as TXT
from earcrawler_spark.functions.text import STOPWORDS_SQL, TOKENS_SQL
from earcrawler_spark.session import table

EVENTS_T0 = "2024-01-15 00:00:00"
EVENTS_T1 = "2024-01-23 00:00:00"
SHIP_CUTOFF = "1999-01-01"

# DuckDB-side fragments shared by several oracles (must mirror functions/text.py)
_TOKENS_RAW_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


# ---------------------------------------------------------------------------
# A. Relational core (aggregation / join / window / anti-join / percentiles)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A10-style grouped aggregation (TPC-H Q1 shape).

    Scale: filter pushes to parquet scan; hash aggregate does map-side
    partial aggregation, shuffle carries only |groups| rows per partition.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < SHIP_CUTOFF)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                              AS sum_qty,
       round(sum(l_extendedprice), 4)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
       round(avg(l_discount), 6)                              AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-style multi-join + aggregation + deterministic top-k.

    Scale: nation (25 rows) and customer (small dim) are broadcast — the
    only shuffle is the lineitem->orders join and the final aggregation;
    at 100 TB orders/lineitem would be bucketed on orderkey to kill that
    shuffle too.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "n_name")
        .limit(10)
    )


_SQL_TOP_NATIONS = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
LIMIT 10
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + grouped count (reference A10 / TPC-H Q4 shape)."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti-join integrity check (kg/queries.py:13-55 FILTER NOT EXISTS)."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


_SQL_ORPHAN_ORDERS = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
ORDER BY o_orderkey
"""


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 latest-version-per-identifier (corpus/sources.py:43-63): argmax by
    (date, key) per group via row_number window — identical tie-break both
    engines."""
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    )


_SQL_LATEST_ORDER = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
ORDER BY o_custkey
"""


def q_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 percentile metrics: exact linear-interpolated percentiles
    (utils/perf_report.py:16-55) per group."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("p50_acctbal"),
            F.round(F.percentile("c_acctbal", F.lit(0.95)), 4).alias("p95_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


_SQL_SEGMENT_STATS = """
SELECT c_mktsegment,
       count(*)                                   AS n_customers,
       round(avg(c_acctbal), 4)                   AS avg_acctbal,
       round(quantile_cont(c_acctbal, 0.5), 4)    AS p50_acctbal,
       round(quantile_cont(c_acctbal, 0.95), 4)   AS p95_acctbal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# B. Events — temporal / incremental semantics
# ---------------------------------------------------------------------------

def q_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/W3 as-of selection (rag/temporal.py:226-339): latest event with
    ts <= as-of per user; deterministic (ts desc, event_id desc) tie-break.

    Scale: the as-of filter pushes to the scan; the window shuffles once on
    user_id — same layout an event-log table would be partitioned by.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("ts") <= EVENTS_T0)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id", "event_type",
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id")
    )


_SQL_ASOF = f"""
SELECT user_id, event_id, event_type, round(value, 4) AS value
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '{EVENTS_T0}'
) WHERE rn = 1
ORDER BY user_id
"""


def q_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (streaming §2.10 batch equivalent): hourly
    counts + sums per event_type. In Structured Streaming this is the same
    plan with a watermark."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


_SQL_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


def q_monitor_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 change-detection delta (monitor/state.py:35-73): state = latest
    value per (user_id, event_type) at T0 vs at T1; emit rows whose content
    hash changed or appeared. Full-outer-join-free formulation: new-state
    left join old-state keeps the plan to one shuffle per side."""
    ev = table(spark, sf_dir, "events")

    def state(cutoff: str) -> DataFrame:
        w = W.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            ev.filter(F.col("ts") <= cutoff)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "event_type",
                TXT.content_sha256(F.round("value", 6)).alias("state_hash"),
            )
        )

    old = state(EVENTS_T0).withColumnRenamed("state_hash", "old_hash")
    new = state(EVENTS_T1)
    return (
        new.join(old, ["user_id", "event_type"], "left")
        .filter(F.col("old_hash").isNull() | (F.col("old_hash") != F.col("state_hash")))
        .select("user_id", "event_type", "state_hash")
        .orderBy("user_id", "event_type")
    )


_SQL_MONITOR_DELTA = f"""
WITH st_old AS (
  SELECT user_id, event_type,
         sha256(CAST(round(value, 6) AS VARCHAR)) AS old_hash
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) rn
        FROM events WHERE ts <= TIMESTAMP '{EVENTS_T0}') WHERE rn = 1
), st_new AS (
  SELECT user_id, event_type,
         sha256(CAST(round(value, 6) AS VARCHAR)) AS state_hash
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) rn
        FROM events WHERE ts <= TIMESTAMP '{EVENTS_T1}') WHERE rn = 1
)
SELECT n.user_id, n.event_type, n.state_hash
FROM st_new n LEFT JOIN st_old o USING (user_id, event_type)
WHERE o.old_hash IS NULL OR o.old_hash <> n.state_hash
ORDER BY n.user_id, n.event_type
"""


def q_version_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/W2 position-version counter (core/ear_crawler.py:84,97-103): each
    event gets version = rank within its (user_id, event_type) stream."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("version", F.row_number().over(w))
        .select("event_id", "user_id", "event_type", "version")
        .orderBy("event_id")
    )


_SQL_VERSION = """
SELECT event_id, user_id, event_type,
       row_number() OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS version
FROM events
ORDER BY event_id
"""


def q_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/SO1 record merge (corpus/records.py:84-125): group by key; first
    field by deterministic order; union + sort identifier set; aggregate.
    Modeled per user over the event stream."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first_type = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    merged = (
        ev.groupBy("user_id")
        .agg(
            # Serialized to a '|'-joined string: the driver gate canonicalizes
            # by pandas-sorting columns and cannot factorize list cells.
            F.array_join(F.array_sort(F.collect_set("event_type")), "|").alias(
                "types"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return (
        merged.join(first_type, "user_id")
        .select("user_id", "first_type", "types", "n_events", "total_value")
        .orderBy("user_id")
    )


_SQL_RECORD_MERGE = """
WITH f AS (
  SELECT user_id, event_type AS first_type
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) rn FROM events)
  WHERE rn = 1
)
SELECT e.user_id, f.first_type,
       array_to_string(list_sort(list(DISTINCT e.event_type)), '|') AS types,
       count(*)                               AS n_events,
       round(sum(e.value), 4)                 AS total_value
FROM events e JOIN f USING (user_id)
GROUP BY e.user_id, f.first_type
ORDER BY e.user_id
"""


# ---------------------------------------------------------------------------
# C. Documents — text pipeline (dedup / terms / quality / scrub)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact content-hash dedup (ear_crawler.py:176-177): one survivor
    (min doc_id) per sha256(text) group + group size.

    Scale: sha2 is codegen'd in the scan stage; the groupBy shuffles only
    (hash, doc_id) pairs, not text. At 100 TB the hash would also be the
    bucketing key of the documents table, making this shuffle-free.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(TXT.content_sha256(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .orderBy("keep_doc_id")
    )


_SQL_DEDUP_EXACT = """
SELECT sha256(text) AS content_hash,
       min(doc_id)  AS keep_doc_id,
       count(*)     AS dup_count
FROM documents
GROUP BY sha256(text)
ORDER BY keep_doc_id
"""


def q_seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 seen-set skip as a relational anti-join: hashes of the first half
    of the corpus form the persisted seen-set; the second half anti-joins
    against it (the crawl engine's exactness backstop behind the bloom
    pre-filter)."""
    docs = table(spark, sf_dir, "documents")
    # No driver-side collect: broadcast the 1-row median aggregate into the
    # plan (a crossJoin of a single row is free; the old `.collect()[0][0]`
    # pattern put an extra full scan + a driver action in the query path).
    half = docs.agg(F.expr("percentile(doc_id, 0.5)").alias("half_key"))
    split = docs.crossJoin(F.broadcast(half))
    seen = (
        split.filter(F.col("doc_id") <= F.col("half_key"))
        .select(TXT.content_sha256(F.col("text")).alias("content_hash"))
        .distinct()
    )
    incoming = split.filter(F.col("doc_id") > F.col("half_key")).select(
        "doc_id", TXT.content_sha256(F.col("text")).alias("content_hash")
    )
    return (
        incoming.join(seen, "content_hash", "left_anti")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


_SQL_SEEN_ANTI = """
WITH half AS (SELECT quantile_cont(doc_id, 0.5) AS h FROM documents),
seen AS (
  SELECT DISTINCT sha256(text) AS content_hash
  FROM documents, half WHERE doc_id <= h
)
SELECT doc_id, sha256(text) AS content_hash
FROM documents, half
WHERE doc_id > h
  AND sha256(text) NOT IN (SELECT content_hash FROM seen)
ORDER BY doc_id
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 term frequency (analytics/reports.py:31-40): tokenize, count,
    deterministic top-50 (count desc, term asc).

    Scale: explode + partial hash agg; the shuffle carries (term, partial
    count) — classic map-side-combine word count.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(50)
    )


_SQL_TOP_TERMS = f"""
SELECT term, count(*) AS freq
FROM (SELECT unnest({TOKENS_SQL}) AS term FROM documents)
GROUP BY term
ORDER BY freq DESC, term
LIMIT 50
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source (training-data pipeline op): doc counts,
    token sums, avg tokens/doc."""
    docs = table(spark, sf_dir, "documents")
    counted = docs.select("source", TXT.token_count(F.col("text")).alias("n_tokens"))
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


_SQL_TOKEN_STATS = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({_TOKENS_RAW_SQL})) AS BIGINT) AS total_tokens,
       round(avg(len({_TOKENS_RAW_SQL})), 4) AS avg_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (training-data pipeline op; reference precedent is
    the min-length gate at nsf_case_parser.py:56-64): deterministic [0,1]
    score per doc from length / token-shape / stopword signals."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            TXT.quality_score(F.col("text")).alias("quality"),
            TXT.lang_id_en(F.col("text")).alias("lang_guess"),
        )
        .orderBy("doc_id")
    )


_SQL_DOC_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
), feats AS (
  SELECT doc_id,
         len(tk) AS n,
         CASE WHEN len(tk) > 0
              THEN length(list_aggregate(tk, 'string_agg', '')) * 1.0 / len(tk)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, t -> list_contains({STOPWORDS_SQL}, t))) * 1.0 / len(tk)
              ELSE 0.0 END AS stop_ratio
  FROM toks
)
SELECT doc_id,
       round((least(n / 100.0, 1.0)
            + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)
            + least(stop_ratio * 5.0, 1.0)) / 3.0, 6) AS quality,
       CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess
FROM feats
ORDER BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 PII scrub (privacy/redaction.py:7-45): the 7-rule regex chain +
    whitespace collapse; emit the scrubbed-content fingerprint so the
    oracle verifies byte-identical scrubbing."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            TXT.content_sha256(TXT.pii_scrub(F.col("text"))).alias("scrubbed_hash"),
        )
        .orderBy("doc_id")
    )


_SQL_PII_SCRUB = f"""
SELECT doc_id, sha256({TXT.pii_scrub_sql('text')}) AS scrubbed_hash
FROM documents
ORDER BY doc_id
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID distribution: multi-language function-word profile
    argmax (de/en/es/fr/und) vs the labeled lang column."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TXT.lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_guess")
    )


_SQL_LANG_DIST = f"""
WITH g AS (
  SELECT lang, {TXT.lang_id_sql('text')} AS lang_guess
  FROM documents
)
SELECT lang, lang_guess, count(*) AS n_docs
FROM g GROUP BY lang, lang_guess
ORDER BY lang, lang_guess
"""


COOCCUR_VOCAB_CAP = 200


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 co-occurrence: top-25 token pairs co-occurring in a document
    (t1 < t2, distinct per doc).

    Scale: distinct (doc, term) first so the self-join fan-out is bounded
    by per-doc vocabulary, then the vocabulary itself is capped at the
    top-200 terms per doc by tf (deterministic tie-break) — without the
    cap a single million-token document mints O(vocab²) pairs and
    dominates the shuffle. The pair aggregation is one shuffle on
    (t1, t2).
    """
    docs = table(spark, sf_dir, "documents")
    counted = (
        docs.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), "term")
    doc_terms = (
        counted.withColumn("_vr", F.row_number().over(w))
        .filter(F.col("_vr") <= COOCCUR_VOCAB_CAP)
        .select("doc_id", "term")
    )
    a = doc_terms.alias("a")
    b = doc_terms.alias("b")
    return (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "t1", "t2")
        .limit(25)
    )


_SQL_COOCCUR = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
), dt AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS vr
    FROM tf
  ) WHERE vr <= {COOCCUR_VOCAB_CAP}
)
SELECT a.term AS t1, b.term AS t2, count(*) AS n_docs
FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY a.term, b.term
ORDER BY n_docs DESC, t1, t2
LIMIT 25
"""


# ---------------------------------------------------------------------------
# D. Similarity / dedup families + ranking + reconcile
# ---------------------------------------------------------------------------


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) — the oracle of
    record for the LSH path."""
    from earcrawler_spark.operators.similarity import ngram_jaccard_pairs

    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), n=3, threshold=0.5)


_SQL_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(tk)-2, 0)+1),
             i -> array_to_string(list_slice(tk, i, i+2), ' '))) AS s
  FROM toks
), sz AS (
  SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0
), g AS (
  SELECT doc_id, unnest(s) AS gram FROM sh WHERE len(s) > 0
), inter AS (
  -- inverted shingle join: only pairs sharing >=1 gram are candidates
  -- (a zero-overlap pair has jaccard 0 < 0.5, so the inner join loses
  -- nothing); CAST keeps the shared-gram count BIGINT like len() was
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.c * 1.0 / (na.n + nb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sz na ON na.doc_id = i.doc_a
JOIN sz nb ON nb.doc_id = i.doc_b
WHERE i.c * 1.0 / (na.n + nb.n - i.c) >= 0.5
ORDER BY doc_a, doc_b
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (16 hashes, 8 bands × 2 rows) — the
    scale path; sha256-derived permutations make the signature identical
    in any engine, so the oracle runs the same LSH in SQL."""
    from earcrawler_spark.operators.similarity import lsh_candidate_pairs

    return lsh_candidate_pairs(table(spark, sf_dir, "documents"), n=3, bands=8, rows=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: LSH candidates → exact-Jaccard verify on
    candidates only → connected components → longest-doc representative
    (the keep policy of large training-data dedup pipelines)."""
    from earcrawler_spark.operators.similarity import dedup_clusters

    return dedup_clusters(table(spark, sf_dir, "documents"))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 BM25 top-20 for a fixed query (k1=1.5, b=0.75) with the
    reference's deterministic bucket+tie-break ranking."""
    from earcrawler_spark.operators.ranking import bm25_scores

    return bm25_scores(table(spark, sf_dir, "documents"), BM25_QUERY, k=20)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 RRF hybrid fusion: BM25 top-50 ⊕ length-ranking top-50 →
    Σ 1/(60+rank), fused top-20."""
    from earcrawler_spark.operators.ranking import bm25_scores, rrf_fuse

    from earcrawler_spark.operators.ranking import topk_ranked

    docs = table(spark, sf_dir, "documents")
    bm25 = bm25_scores(docs, BM25_QUERY, k=50).select("doc_id", "rank")
    length_rank = topk_ranked(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.col("doc_id")],
        50,
    ).select("doc_id", "rank")
    return rrf_fuse(bm25, length_rank, k=20)


_SQL_RRF = """
WITH bm25 AS (
    SELECT doc_id, rank FROM ({bm25}) ranked
), lenrank AS (
    SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
    FROM documents QUALIFY rank <= 50
), fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.rank AS rank_a, b.rank AS rank_b,
         round(coalesce(1.0/(60 + a.rank), 0) + coalesce(1.0/(60 + b.rank), 0), 6) AS rrf
  FROM bm25 a FULL OUTER JOIN lenrank b ON a.doc_id = b.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf,
       row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
FROM fused QUALIFY fused_rank <= 20
ORDER BY fused_rank
"""


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for query vectors 0..4
    (similarity-search baseline; broadcast query side)."""
    from earcrawler_spark.operators.similarity import cosine_topk

    return cosine_topk(table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=10)


_SQL_KNN = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
                * sqrt(list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), 'sum'))), 6)
         AS cosine
  FROM e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
FROM scored QUALIFY rank <= 10
ORDER BY query_id, rank
"""


def q_reconcile_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J6/J7 reconcile: blocking by (p_brand, p_type) composite with the
    64-bucket cap, token-feature scoring, threshold decisions."""
    from earcrawler_spark.operators.reconcile import blocking_pairs, score_pairs

    parts = table(spark, sf_dir, "part")
    pairs = blocking_pairs(
        parts, "p_partkey", "p_name",
        [F.concat_ws("|", "p_brand", "p_type")], max_bucket=64,
    )
    return score_pairs(pairs).orderBy("id_a", "id_b")


_SQL_RECONCILE = """
WITH keyed AS (
  SELECT p_partkey AS id,
         trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'),
              '\\s+', ' ', 'g')) AS name,
         p_brand || '|' || p_type AS bk
  FROM part
), sized AS (
  SELECT bk FROM keyed GROUP BY bk HAVING count(*) <= 64
), ok AS (
  SELECT keyed.* FROM keyed JOIN sized USING (bk)
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
  FROM ok a JOIN ok b ON a.bk = b.bk AND a.id < b.id
), feat AS (
  SELECT *,
    list_distinct(string_split(name_a, ' ')) AS ta,
    list_distinct(string_split(name_b, ' ')) AS tb
  FROM pairs
), scored AS (
  SELECT id_a, id_b, name_a, name_b,
    round(0.4 * (CASE WHEN name_a = name_b THEN 1.0 ELSE 0.0 END)
        + 0.4 * (len(list_intersect(ta, tb)) * 1.0
                 / (len(ta) + len(tb) - len(list_intersect(ta, tb))))
        + 0.2 * (CASE WHEN string_split(name_a, ' ')[1] = string_split(name_b, ' ')[1]
                 THEN 1.0 ELSE 0.0 END), 6) AS score
  FROM feat
)
SELECT id_a, id_b, name_a, name_b, score,
       CASE WHEN score >= 0.8 THEN 'auto_merge'
            WHEN score >= 0.4 THEN 'review'
            ELSE 'reject' END AS decision
FROM scored
ORDER BY id_a, id_b
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 canonical-ID union: connected components (min-label propagation)
    over the auto_merge pair graph from q_reconcile_parts."""
    from earcrawler_spark.operators.reconcile import connected_components

    pairs = q_reconcile_parts(spark, sf_dir).filter(F.col("decision") == "auto_merge")
    return connected_components(pairs.select("id_a", "id_b"))


_SQL_CC = f"""
WITH scored AS ({_SQL_RECONCILE.replace("ORDER BY id_a, id_b", "")}),
edges AS (
  SELECT id_a, id_b FROM scored WHERE decision = 'auto_merge'
), sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION SELECT id_b, id_a FROM edges
), reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
  ) SELECT * FROM r
)
SELECT id, least(id, min(b)) AS component
FROM (SELECT a AS id, b FROM reach) GROUP BY id
ORDER BY id
"""


def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (kg/sparql.py:55-62): a BGP projected into new
    (s, p, o) triples — here the reference's owl:sameAs materialization
    from reconcile decisions (kg/reconcile.py:375-393): every non-
    canonical member id yields `<urn:entity:canonical> owl:sameAs
    <urn:entity:id>`, sorted like the TTL sink."""
    from earcrawler_spark.operators.reconcile import connected_components

    pairs = q_reconcile_parts(spark, sf_dir).filter(F.col("decision") == "auto_merge")
    canon = connected_components(pairs.select("id_a", "id_b"))
    return (
        canon.filter(F.col("id") != F.col("component"))
        .select(
            F.concat(F.lit("urn:entity:"), F.col("component")).alias("s"),
            F.lit("owl:sameAs").alias("p"),
            F.concat(F.lit("urn:entity:"), F.col("id")).alias("o"),
        )
        .orderBy("s", "o")
    )


_SQL_SPARQL_CONSTRUCT = f"""
WITH cc AS ({_SQL_CC.replace("ORDER BY id", "")})
SELECT 'urn:entity:' || component AS s, 'owl:sameAs' AS p,
       'urn:entity:' || id AS o
FROM cc WHERE id <> component
ORDER BY s, o
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface (§2.9): extract props.k, bucket by decile,
    aggregate (reference parses JSON payloads per row; here it's
    get_json_object in codegen)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((F.floor(k / 10) * 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


_SQL_EVENTS_JSON = """
SELECT (CAST(json_extract_string(props, '$.k') AS INT) // 10) * 10 AS k_bucket,
       count(*) AS n_events,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY 1
ORDER BY k_bucket
"""


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + 16-bit bucket counts (Hamming-LSH family).
    No SQL oracle (bit-vote aggregation has no portable SQL form);
    driver records the rows-only check; recall vs exact jaccard and
    equality with the per-row column form are pytest-verified."""
    from earcrawler_spark.operators.similarity import simhash_fingerprints

    docs = table(spark, sf_dir, "documents")
    return (
        simhash_fingerprints(docs)
        .withColumn("bucket", (F.col("simhash") % (1 << 16)).cast("int"))
        .orderBy("doc_id")
    )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN buckets (cosine scale path). Rows-only check;
    recall vs brute force is pytest-verified."""
    from earcrawler_spark.operators.similarity import hyperplane_lsh_buckets

    emb = table(spark, sf_dir, "embeddings")
    return (
        # dim from the testdata table contract (embeddings are 64-wide at
        # every sf) — no driver-side row probe in the query path
        hyperplane_lsh_buckets(emb, n_planes=12, dim=64)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy(F.desc("n_vecs"), "bucket")
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "top_revenue_nations": q_top_revenue_nations,
    "order_priority": q_order_priority,
    "orders_without_lineitems": q_orders_without_lineitems,
    "latest_order_per_customer": q_latest_order_per_customer,
    "segment_stats": q_segment_stats,
    "asof_latest_event": q_asof_latest_event,
    "hourly_event_rollup": q_hourly_event_rollup,
    "monitor_delta": q_monitor_delta,
    "version_assign": q_version_assign,
    "record_merge": q_record_merge,
    "dedup_exact": q_dedup_exact,
    "seen_anti_join": q_seen_anti_join,
    "top_terms": q_top_terms,
    "token_stats": q_token_stats,
    "doc_quality": q_doc_quality,
    "pii_scrub": q_pii_scrub,
    "lang_distribution": q_lang_distribution,
    "term_cooccurrence": q_term_cooccurrence,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "bm25_topk": q_bm25_topk,
    "rrf_fusion": q_rrf_fusion,
    "knn_bruteforce": q_knn_bruteforce,
    "reconcile_parts": q_reconcile_parts,
    "connected_components": q_connected_components,
    "sparql_construct": q_sparql_construct,
    "events_json": q_events_json,
    "simhash_buckets": q_simhash_buckets,
    "ann_lsh_buckets": q_ann_lsh_buckets,
}

ORACLES: dict[str, str] = {
    "pricing_summary": _SQL_PRICING,
    "top_revenue_nations": _SQL_TOP_NATIONS,
    "order_priority": _SQL_ORDER_PRIORITY,
    "orders_without_lineitems": _SQL_ORPHAN_ORDERS,
    "latest_order_per_customer": _SQL_LATEST_ORDER,
    "segment_stats": _SQL_SEGMENT_STATS,
    "asof_latest_event": _SQL_ASOF,
    "hourly_event_rollup": _SQL_HOURLY,
    "monitor_delta": _SQL_MONITOR_DELTA,
    "version_assign": _SQL_VERSION,
    "record_merge": _SQL_RECORD_MERGE,
    "dedup_exact": _SQL_DEDUP_EXACT,
    "seen_anti_join": _SQL_SEEN_ANTI,
    "top_terms": _SQL_TOP_TERMS,
    "token_stats": _SQL_TOKEN_STATS,
    "doc_quality": _SQL_DOC_QUALITY,
    "pii_scrub": _SQL_PII_SCRUB,
    "lang_distribution": _SQL_LANG_DIST,
    "term_cooccurrence": _SQL_COOCCUR,
    "ngram_jaccard_pairs": _SQL_NGRAM_JACCARD,
    "bm25_topk": None,  # filled below
    "rrf_fusion": None,
    "minhash_lsh_pairs": None,
    "knn_bruteforce": _SQL_KNN,
    "reconcile_parts": _SQL_RECONCILE,
    "connected_components": _SQL_CC,
    "sparql_construct": _SQL_SPARQL_CONSTRUCT,
    "events_json": _SQL_EVENTS_JSON,
    "ann_lsh_buckets": None,  # filled below
    "simhash_buckets": None,  # filled below
}

# Hyperplane-LSH buckets ARE oracle-expressible: plane component signs
# come from sha256 hex-digit parity (int(hex[:8],16) % 2 == parity of the
# 8th hex digit), dot products from an exploded (plane, dim) weight table.
_SQL_ANN_LSH = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planes AS (
  SELECT p, d,
    CASE WHEN (strpos('0123456789abcdef',
               substr(sha256(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 8, 1))
               - 1) % 2 = 1
         THEN 1.0 ELSE -1.0 END AS w
  FROM unnest(range(0, 12)) AS pp(p), unnest(range(0, 64)) AS dd(d)
), dots AS (
  SELECT e.vec_id, pl.p, sum(e.v[CAST(pl.d AS INT) + 1] * pl.w) AS dp
  FROM e, planes pl GROUP BY e.vec_id, pl.p
), buckets AS (
  SELECT vec_id,
         string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM dots GROUP BY vec_id
)
SELECT bucket, count(*) AS n_vecs FROM buckets
GROUP BY bucket ORDER BY n_vecs DESC, bucket
"""
ORACLES["ann_lsh_buckets"] = _SQL_ANN_LSH

# SimHash IS SQL-expressible in the explode form: bit b of the 60-bit
# token hash comes out of its hex digit (char 15-b/4, bit b%4), the vote
# is a grouped sum(CASE), and the fingerprint reassembles via 1<<b —
# exactly the Spark pipeline in similarity.simhash_fingerprints.
_SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({TOKENS_SQL}) AS tk FROM documents
), tok AS (
  SELECT doc_id, unnest(tk) AS t FROM toks
), h AS (
  SELECT doc_id, substr(sha256(t), 1, 15) AS hx FROM tok
), bits AS (
  SELECT doc_id, b,
    CAST(floor((strpos('0123456789abcdef',
                substr(hx, 15 - CAST(b // 4 AS INT), 1)) - 1)
         / pow(2, b % 4)) AS INT) % 2 AS bit
  FROM h, unnest(range(0, 60)) AS u(b)
), votes AS (
  SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY doc_id, b
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash,
       CAST(coalesce(f.simhash, 0) % 65536 AS INT) AS bucket
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN fp f ON d.doc_id = f.doc_id
ORDER BY d.doc_id
"""
ORACLES["simhash_buckets"] = _SQL_SIMHASH


# (module, registry prefix) of each query family, in registry order
_FAMILIES = (
    ("queries_corpus", "CORPUS"),
    ("queries_windows", "WINDOW"),
    ("queries_alias", "ALIAS"),
    ("queries_tokens", "TOKEN"),
    ("queries_fidelity", "FIDELITY"),
    ("queries_rag", "RAG"),
    ("queries_media", "MEDIA"),
    ("queries_shacl", "SHACL"),
    ("queries_update", "UPDATE"),
    ("queries_eval", "EVAL"),
    ("queries_schema", "SCHEMA"),
    ("queries_curation", "CURATION"),
    ("queries_training", "TRAINING"),
    ("queries_mining", "MINING"),
    ("queries_graph", "GRAPH"),
    ("queries_sketches", "SKETCH"),
    ("queries_webcur", "WEBCUR"),
    ("queries_crawlstats", "CRAWLSTATS"),
)


def _late_oracles() -> None:
    import importlib

    from earcrawler_spark.operators.ranking import bm25_sql
    from earcrawler_spark.operators.similarity import dedup_clusters_sql, minhash_sql

    ORACLES["bm25_topk"] = bm25_sql(BM25_QUERY, k=20)
    ORACLES["rrf_fusion"] = _SQL_RRF.format(bm25=bm25_sql(BM25_QUERY, k=50))
    ORACLES["minhash_lsh_pairs"] = minhash_sql(n=3, bands=8, rows=2)
    QUERIES["dedup_clusters"] = q_dedup_clusters
    ORACLES["dedup_clusters"] = dedup_clusters_sql()
    QUERIES["retrieval_compare"] = q_retrieval_compare
    ORACLES["retrieval_compare"] = _retrieval_compare_sql()
    for module, prefix in _FAMILIES:
        family = importlib.import_module(f"earcrawler_spark.{module}")
        QUERIES.update(getattr(family, f"{prefix}_QUERIES"))
        ORACLES.update(getattr(family, f"{prefix}_ORACLES"))


# --- retrieval mode comparison (dense vs hybrid) -----------------------------

def q_retrieval_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_retrieval_compare_summary's data core
    (scripts/eval/eval_rag_metrics.py:176-252): the same retrieval task
    run under two conditions — dense (cosine top-20 for query vector 0)
    vs hybrid (RRF of BM25 + dense top-50s, fused top-20) — scored
    against a deterministic relevance set (documents containing every
    BM25 query term), emitted as the reference's per-metric comparison
    table (metric, dense, hybrid, delta).  Metrics: recall@20,
    precision@20, MRR (first relevant hit; 0 when none)."""
    from earcrawler_spark.operators.ranking import bm25_scores, rrf_fuse
    from earcrawler_spark.operators.similarity import cosine_topk

    K = 20
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    toks = F.array_distinct(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    )
    gt_cond = None
    for t in BM25_QUERY:
        c = F.array_contains(toks, t)
        gt_cond = c if gt_cond is None else (gt_cond & c)
    gt = docs.select("doc_id", toks.alias("tk")).filter(gt_cond).select("doc_id")

    dense50 = cosine_topk(emb, [0], k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    bm50 = bm25_scores(docs, BM25_QUERY, k=50).select("doc_id", "rank")
    dense20 = dense50.filter(F.col("rank") <= K)
    hybrid20 = rrf_fuse(bm50, dense50, k=K).select(
        "doc_id", F.col("fused_rank").alias("rank")
    )

    n_gt = gt.agg(F.count(F.lit(1)).alias("n_gt"))

    def metrics(ranked, prefix):
        hits = ranked.join(gt, "doc_id", "left_semi")
        return hits.agg(
            F.count(F.lit(1)).alias(f"{prefix}_hits"),
            F.min("rank").alias(f"{prefix}_first"),
        )

    # the three metric rows each re-reference this 1-row aggregate — on
    # the raw plan every reference re-executed both retrieval pipelines
    # (96 Exchange / 54 scans); checkpoint the single row so the dense
    # and hybrid rankings compute once.  Pays at sf0.1: without the pin
    # the row takes 1.36x as long, and 1.16x with the three rows exploded
    # from one reference (same boot, 3-4 interleaved runs a side, A/A
    # spread 0.12-0.18).
    combined = (
        metrics(dense20, "d")
        .crossJoin(metrics(hybrid20, "h"))
        .crossJoin(F.broadcast(n_gt))
    ).localCheckpoint()

    def row(name, d_expr, h_expr):
        return combined.select(
            F.lit(name).alias("metric"),
            F.round(d_expr, 6).alias("dense"),
            F.round(h_expr, 6).alias("hybrid"),
            F.round(h_expr - d_expr, 6).alias("delta"),
        )

    def recall(p):
        return F.when(
            F.col("n_gt") > 0, F.col(f"{p}_hits") / F.col("n_gt")
        ).otherwise(F.lit(0.0))

    def precision(p):
        return F.col(f"{p}_hits") / F.lit(K)

    def mrr(p):
        return F.coalesce(1.0 / F.col(f"{p}_first"), F.lit(0.0))

    return (
        row("mrr", mrr("d"), mrr("h"))
        .unionByName(row("precision_at_20", precision("d"), precision("h")))
        .unionByName(row("recall_at_20", recall("d"), recall("h")))
        .orderBy("metric")
    )


def _retrieval_compare_sql() -> str:
    from earcrawler_spark.operators.ranking import bm25_sql

    terms_all = " AND ".join(
        f"list_contains(tk, '{t}')" for t in BM25_QUERY
    )
    return f"""
WITH gt AS (
  SELECT doc_id FROM (
    SELECT doc_id, list_distinct({TOKENS_SQL}) AS tk FROM documents
  ) WHERE {terms_all}
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), dense50 AS (
  SELECT neighbor_id AS doc_id, rank FROM (
    SELECT e.vec_id AS neighbor_id,
           row_number() OVER (ORDER BY
             round(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), 'sum')
                   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
                    * sqrt(list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), 'sum'))), 6) DESC,
             e.vec_id) AS rank
    FROM e, q WHERE e.vec_id <> 0
  ) WHERE rank <= 50
), bm50 AS (
  SELECT doc_id, rank FROM ({bm25_sql(BM25_QUERY, k=50)}) x
), hybrid20 AS (
  SELECT doc_id, fused_rank AS rank FROM (
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           row_number() OVER (ORDER BY
             round(coalesce(1.0/(60 + a.rank), 0) + coalesce(1.0/(60 + b.rank), 0), 6) DESC,
             coalesce(a.doc_id, b.doc_id)) AS fused_rank
    FROM bm50 a FULL OUTER JOIN dense50 b ON a.doc_id = b.doc_id
  ) WHERE fused_rank <= 20
), dense20 AS (
  SELECT doc_id, rank FROM dense50 WHERE rank <= 20
), dm AS (
  SELECT count(*) AS d_hits, min(rank) AS d_first
  FROM dense20 WHERE doc_id IN (SELECT doc_id FROM gt)
), hm AS (
  SELECT count(*) AS h_hits, min(rank) AS h_first
  FROM hybrid20 WHERE doc_id IN (SELECT doc_id FROM gt)
), n AS (
  SELECT count(*) AS n_gt FROM gt
), c AS (
  SELECT * FROM dm, hm, n
), rows_out AS (
  SELECT 'mrr' AS metric,
         CAST(round(coalesce(1.0/d_first, 0.0), 6) AS DOUBLE) AS dense,
         CAST(round(coalesce(1.0/h_first, 0.0), 6) AS DOUBLE) AS hybrid,
         CAST(round(coalesce(1.0/h_first, 0.0) - coalesce(1.0/d_first, 0.0), 6) AS DOUBLE) AS delta
  FROM c
  UNION ALL
  SELECT 'precision_at_20',
         CAST(round(d_hits / 20.0, 6) AS DOUBLE),
         CAST(round(h_hits / 20.0, 6) AS DOUBLE),
         CAST(round(h_hits / 20.0 - d_hits / 20.0, 6) AS DOUBLE)
  FROM c
  UNION ALL
  SELECT 'recall_at_20',
         CAST(round(CASE WHEN n_gt > 0 THEN d_hits * 1.0 / n_gt ELSE 0.0 END, 6) AS DOUBLE),
         CAST(round(CASE WHEN n_gt > 0 THEN h_hits * 1.0 / n_gt ELSE 0.0 END, 6) AS DOUBLE),
         CAST(round(CASE WHEN n_gt > 0 THEN (h_hits - d_hits) * 1.0 / n_gt ELSE 0.0 END, 6) AS DOUBLE)
  FROM c
)
SELECT * FROM rows_out ORDER BY metric
"""


_late_oracles()
