"""Query batch 5 — alias resolution (P10), sliding windows, Jaro-Winkler
reconcile scoring (rows-only), approximate distinct for seen-set metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.session import table

# canonical alias map (transforms/canonical.py:41-106: casefolded keys →
# canonical names, title-case fallback for unknowns)
ALIASES = {
    "machinery": "Machinery & Equipment",
    "household": "Household Goods",
    "automobile": "Automotive",
}


def q_alias_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 canonical alias resolution: broadcast-map lookup on the
    casefolded key with initcap fallback (canonical.py:41-110)."""
    cust = table(spark, sf_dir, "customer")
    amap = F.create_map(
        *[F.lit(x) for kv in ALIASES.items() for x in kv]
    )
    key = F.lower("c_mktsegment")
    return (
        cust.select(
            "c_custkey",
            F.coalesce(amap[key], F.initcap(key)).alias("segment_canonical"),
        )
        .groupBy("segment_canonical")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment_canonical")
    )


def _alias_sql() -> str:
    cases = " ".join(
        f"WHEN lower(c_mktsegment) = '{k}' THEN '{v}'" for k, v in ALIASES.items()
    )
    # initcap equivalent: DuckDB has no initcap — single-word segments, so
    # upper(first) || lower(rest) is exactly Spark's initcap here
    return f"""
SELECT CASE {cases}
            ELSE upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2)
       END AS segment_canonical,
       count(*) AS n_customers
FROM customer
GROUP BY 1
ORDER BY segment_canonical
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide): each event lands in two
    epoch-aligned windows — the streaming F.window(ts,'1 hour','30
    minutes') semantics expressed relationally so DuckDB can replay it."""
    ev = table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    starts = F.array(
        (F.floor(epoch / 1800) * 1800 - 1800).cast("long"),
        (F.floor(epoch / 1800) * 1800).cast("long"),
    )
    return (
        ev.select(F.explode(starts).alias("win_start_s"), "ts", "value")
        .filter(
            (F.unix_timestamp("ts") >= F.col("win_start_s"))
            & (F.unix_timestamp("ts") < F.col("win_start_s") + 3600)
        )
        .groupBy(F.timestamp_seconds("win_start_s").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("window_start")
    )


_SQL_SLIDING = """
WITH e AS (
  SELECT ts, value, CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS w1
  FROM events
), exploded AS (
  SELECT ts, value, unnest([w1 - 1800, w1]) AS win_start_s FROM e
)
SELECT CAST(to_timestamp(win_start_s) AS TIMESTAMP) AS window_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM exploded
WHERE epoch(ts) >= win_start_s AND epoch(ts) < win_start_s + 3600
GROUP BY win_start_s
ORDER BY window_start
"""


def q_reconcile_jw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 Jaro-Winkler pair feature (reconcile.py:165) via an
    Arrow-batched pandas UDF over blocked part-name pairs. Oracle-gated:
    the UDF implements the same variant as DuckDB's builtin (Jaro +
    Winkler prefix p=0.1, max 4, boost threshold 0.7 — parity also
    proven across the 107k reconcile_v2 pairs)."""
    from earcrawler_spark.functions.similarity_udfs import jaro_winkler_udf
    from earcrawler_spark.operators.reconcile import blocking_pairs

    parts = table(spark, sf_dir, "part")
    pairs = blocking_pairs(
        parts, "p_partkey", "p_name",
        [F.concat_ws("|", "p_brand", "p_type")], max_bucket=64,
    )
    return (
        pairs.withColumn("jw", F.round(jaro_winkler_udf("name_a", "name_b"), 6))
        .filter(F.col("jw") >= 0.85)
        .select("id_a", "id_b", "name_a", "name_b", "jw")
        .orderBy("id_a", "id_b")
    )


def q_seen_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set metrics with approx_count_distinct (HLL) next to the exact
    count — the cheap cardinality monitor a 10^10-URL seen set reports
    per shard (SURVEY §2.5 note). The raw HLL estimate is
    engine-specific, so the exported row carries the exact counts plus
    the deterministic 5%-relative-error bound check on the estimate
    (rsd 0.02); the raw estimate itself stays pytest-bound-checked
    (tests/test_queries_oracle.py)."""
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(F.sha2("text", 256).alias("h"))
    agg = hashed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("h").alias("exact_distinct"),
        F.approx_count_distinct("h", 0.02).alias("approx_distinct"),
    )
    return agg.select(
        "n_rows",
        "exact_distinct",
        (
            F.abs(
                F.col("approx_distinct").cast("double")
                / F.col("exact_distinct")
                - 1.0
            )
            <= 0.05
        ).alias("approx_within_bound"),
    )


_SQL_SEEN_CARDINALITY = """
SELECT count(*) AS n_rows,
       count(DISTINCT sha256(text)) AS exact_distinct,
       true AS approx_within_bound
FROM documents
"""


def q_kg_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG path materialization (kg/paths.py:34-148): 2-hop paths
    order→customer→nation as ordered edge arrays with the reference's
    stable sha256 path id (sha256 over the canonical edge serialization).
    Limited to orderkey < 100 to keep the export bounded."""
    from earcrawler_spark.queries_corpus import _triples

    t = _triples(spark, sf_dir)
    by_cust = t.filter(F.col("p") == "by_customer").select(
        F.col("s").alias("order_iri"), F.col("o").alias("cust_iri")
    ).filter(F.split("order_iri", "/")[1].cast("long") < 100)
    in_nation = t.filter(F.col("p") == "in_nation").select(
        F.col("s").alias("cust_iri"), F.col("o").alias("nation_iri")
    )
    paths = by_cust.join(in_nation, "cust_iri").select(
        "order_iri",
        "cust_iri",
        "nation_iri",
        F.array(
            F.concat_ws("|", "order_iri", F.lit("by_customer"), "cust_iri"),
            F.concat_ws("|", "cust_iri", F.lit("in_nation"), "nation_iri"),
        ).alias("edges"),
    )
    return paths.select(
        F.sha2(F.array_join("edges", "||"), 256).alias("path_id"),
        "order_iri",
        "nation_iri",
        # '||'-joined string form: the driver gate cannot hash list cells.
        F.array_join("edges", "||").alias("edges"),
    ).orderBy("path_id")


_SQL_KG_PATHS = """
WITH triples AS (
  SELECT 'customer/' || CAST(c_custkey AS VARCHAR) AS s, 'in_nation' AS p,
         'nation/' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
  UNION ALL
  SELECT 'nation/' || CAST(n_nationkey AS VARCHAR), 'has_name', n_name FROM nation
  UNION ALL
  SELECT 'order/' || CAST(o_orderkey AS VARCHAR), 'by_customer',
         'customer/' || CAST(o_custkey AS VARCHAR) FROM orders
), hop1 AS (
  SELECT s AS order_iri, o AS cust_iri FROM triples
  WHERE p = 'by_customer' AND CAST(string_split(s, '/')[2] AS BIGINT) < 100
), hop2 AS (
  SELECT s AS cust_iri, o AS nation_iri FROM triples WHERE p = 'in_nation'
), paths AS (
  SELECT order_iri, h1.cust_iri, nation_iri,
         [order_iri || '|by_customer|' || h1.cust_iri,
          h1.cust_iri || '|in_nation|' || nation_iri] AS edges
  FROM hop1 h1 JOIN hop2 h2 ON h1.cust_iri = h2.cust_iri
)
SELECT sha256(array_to_string(edges, '||')) AS path_id,
       order_iri, nation_iri, array_to_string(edges, '||') AS edges
FROM paths
ORDER BY path_id
"""


ALIAS_QUERIES = {
    "kg_paths": q_kg_paths,
    "alias_resolution": q_alias_resolution,
    "sliding_window": q_sliding_window,
    "reconcile_jw": q_reconcile_jw,
    "seen_set_cardinality": q_seen_set_cardinality,
}

_SQL_RECONCILE_JW = """
WITH keyed AS (
  SELECT p_partkey AS id,
         trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS name,
         p_brand || '|' || p_type AS bk
  FROM part
), sizes AS (
  SELECT bk, count(*) AS n FROM keyed GROUP BY bk
), ok AS (
  SELECT k.* FROM keyed k JOIN sizes s USING (bk) WHERE s.n <= 64
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
  FROM ok a JOIN ok b ON a.bk = b.bk AND a.id < b.id
)
SELECT id_a, id_b, name_a, name_b,
       round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
FROM pairs
WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.85
ORDER BY id_a, id_b
"""

ALIAS_ORACLES = {
    "kg_paths": _SQL_KG_PATHS,
    "alias_resolution": _alias_sql(),
    "sliding_window": _SQL_SLIDING,
    "reconcile_jw": _SQL_RECONCILE_JW,
    # round 5: exported row = exact counts + deterministic HLL bound
    # check, so the query is oracled; the raw engine-specific estimate
    # stays pytest-only.
    "seen_set_cardinality": _SQL_SEEN_CARDINALITY,
}
