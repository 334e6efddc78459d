"""Query batch — mergeable one-pass sketches (beyond-reference
web-scale ops).  Two sketch families a 100 TB pipeline uses where the
exact computation would need a global sort or an unbounded hash table,
each emitted WITH its exact counterpart so the error guarantee is
checkable row by row:

- ``cms_heavy_hitters``   Count-Min sketch (d=4 rows x w=64 buckets)
                          over the corpus token stream; estimates for
                          the top-32 exact terms, with the one-sided
                          overestimate guarantee surfaced per term.
- ``histogram_quantiles`` fixed-bin (128) histogram quantile estimate
                          of events.value per event_type at p50/p95/
                          p99, beside the exact k-th order statistic;
                          the estimate is guaranteed inside its bin.

Scale notes (100 TB / 1000 executors):
- Both sketches are partial-aggregation friendly: the CMS is a
  groupBy over (row, bucket) with at most d*w = 256 output rows no
  matter the corpus size, and the histogram is (event_type, bin) with
  at most 128 rows per key — map-side combine collapses each executor
  to sketch-size before the (tiny) shuffle.  This is exactly why the
  sketch beats sort-based quantiles / exact vocab counting at scale.
- The candidate/estimate joins run against broadcast sketch tables
  (256 and <=128*|types| rows).
- The exact sides here (full vocab count, row_number order statistic)
  exist to certify the sketch; at 100 TB you'd ship the sketch alone.

Determinism / oracle stability: CMS buckets come from sha256 hex
digits (the DSIR/minhash parity pattern — Spark conv(hex,16,10) ==
DuckDB strpos digit arithmetic), so the sketch content is a pure
function of the data.  Quantiles work on micro-integers
(round(value*1e6) as BIGINT); bin width and ceil(p*n/100) are exact
integer forms (Spark ``div`` == DuckDB ``//`` on non-negatives); the
only floats are final single divisions by 1e6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens
from earcrawler_spark.session import table

SKETCH_QUERIES: dict = {}
SKETCH_ORACLES: dict = {}


CMS_D = 4          # hash rows
CMS_W = 64         # buckets per row
CMS_TOPK = 32      # exact heavy hitters to certify against the sketch
HQ_BINS = 128      # histogram bins per event_type
HQ_PS = (50, 95, 99)  # percent targets


def _cms_bucket(row_col, term_col):
    """bucket = int(sha256(row ':' term)[:2 hex], 16) % CMS_W — JVM-side."""
    sha = F.sha2(F.concat(row_col.cast("string"), F.lit(":"), term_col), 256)
    return (F.conv(F.substring(sha, 1, 2), 16, 10).cast("bigint") % CMS_W).alias(
        "bucket"
    )


# DuckDB mirror of conv(substr(sha,1,2),16,10): two hex digits by strpos.
_CMS_BUCKET_SQL = (
    "((16 * (strpos('0123456789abcdef', substr(sha, 1, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(sha, 2, 1)) - 1)) % " + str(CMS_W) + ")"
)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the token stream + certification rows for
    the top-32 exact terms: est_c = min over the d rows of the hashed
    bucket count; one-sided guarantee est_c >= exact_c surfaced as
    ``overestimate`` with the collision ``inflation``.  The sketch
    build is ONE groupBy with a 256-row result; candidates join it
    broadcast."""
    tk = table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("t")
    )
    rows_i = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("row_i")
    cms = (
        tk.select("t", rows_i)
        .select("row_i", _cms_bucket(F.col("row_i"), F.col("t")))
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cand = (
        tk.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_c"))
        .orderBy(F.col("exact_c").desc(), F.col("t"))
        .limit(CMS_TOPK)
    )
    est = (
        cand.select("t", "exact_c", rows_i)
        .select("t", "exact_c", "row_i", _cms_bucket(F.col("row_i"), F.col("t")))
        .join(F.broadcast(cms), ["row_i", "bucket"])
        .groupBy("t", "exact_c")
        .agg(F.min("cnt").alias("est_c"))
    )
    return est.select(
        F.col("t").alias("term"),
        "exact_c",
        "est_c",
        (F.col("est_c") >= F.col("exact_c")).alias("overestimate"),
        (F.col("est_c") - F.col("exact_c")).cast("bigint").alias("inflation"),
    ).orderBy(F.col("exact_c").desc(), "term")


_SQL_CMS_HEAVY_HITTERS = f"""
WITH tk AS (
  SELECT unnest({TOKENS_SQL}) AS t FROM documents
), hashed AS (
  SELECT row_i, {_CMS_BUCKET_SQL} AS bucket FROM (
    SELECT row_i, sha256(CAST(row_i AS VARCHAR) || ':' || t) AS sha
    FROM tk, unnest([{", ".join(str(i) for i in range(CMS_D))}]) AS u(row_i))
), cms AS (
  SELECT row_i, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY row_i, bucket
), cand AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_c
  FROM tk GROUP BY t ORDER BY exact_c DESC, t LIMIT {CMS_TOPK}
), cand_h AS (
  SELECT t, exact_c, row_i, {_CMS_BUCKET_SQL} AS bucket FROM (
    SELECT t, exact_c, row_i, sha256(CAST(row_i AS VARCHAR) || ':' || t) AS sha
    FROM cand, unnest([{", ".join(str(i) for i in range(CMS_D))}]) AS u(row_i))
), est AS (
  SELECT c.t, c.exact_c, CAST(min(m.cnt) AS BIGINT) AS est_c
  FROM cand_h c JOIN cms m ON c.row_i = m.row_i AND c.bucket = m.bucket
  GROUP BY c.t, c.exact_c
)
SELECT t AS term, exact_c, est_c,
       est_c >= exact_c AS overestimate,
       CAST(est_c - exact_c AS BIGINT) AS inflation
FROM est
ORDER BY exact_c DESC, term
"""


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type p50/p95/p99 from a 128-bin histogram (estimate =
    lower edge of the first bin whose cumulative count reaches
    k = ceil(p*n/100)) beside the EXACT k-th order statistic
    (row_number over (value, event_id)).  ``within_bound`` certifies
    the histogram guarantee: lower edge <= exact < lower edge + width.
    Bin width is the integer form (range div bins) + 1 so the max
    value always lands inside bin B-1 with no clamp."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1_000_000, 0).cast("bigint").alias("vm"),
    )
    stats = ev.groupBy("event_type").agg(
        F.min("vm").alias("min_m"),
        F.max("vm").alias("max_m"),
        F.count(F.lit(1)).alias("n"),
    ).withColumn("wi", F.expr(f"((max_m - min_m) div {HQ_BINS}) + 1"))
    binned = (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", F.expr("(vm - min_m) div wi").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = binned.withColumn(
        "cum",
        F.sum("cnt").over(
            W.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    targets = stats.select(
        "event_type",
        "min_m",
        "wi",
        "n",
        F.explode(F.array(*[F.lit(p) for p in HQ_PS])).alias("p"),
    ).withColumn("k", F.expr("(p * n + 99) div 100"))
    est = (
        targets.join(F.broadcast(cum), "event_type")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("event_type", "p", "min_m", "wi", "n", "k")
        .agg(F.min("bin").alias("qbin"))
        .withColumn("est_m", F.col("min_m") + F.col("qbin") * F.col("wi"))
    )
    w = W.partitionBy("event_type").orderBy("vm", "event_id")
    exact = ev.withColumn("rn", F.row_number().over(w)).select(
        F.col("event_type").alias("x_type"),
        F.col("rn"),
        F.col("vm").alias("exact_m"),
    )
    micro = F.lit(1_000_000).cast("double")
    return (
        est.join(
            exact,
            (F.col("event_type") == F.col("x_type")) & (F.col("rn") == F.col("k")),
        )
        .select(
            "event_type",
            F.col("p").cast("int").alias("p"),
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k"),
            (F.col("est_m").cast("double") / micro).alias("est"),
            (F.col("exact_m").cast("double") / micro).alias("exact"),
            (F.col("wi").cast("double") / micro).alias("bin_width"),
            (
                (F.col("exact_m") >= F.col("est_m"))
                & (F.col("exact_m") < F.col("est_m") + F.col("wi"))
            ).alias("within_bound"),
        )
        .orderBy("event_type", "p")
    )


_SQL_HISTOGRAM_QUANTILES = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events
), stats AS (
  SELECT event_type, CAST(min(vm) AS BIGINT) AS min_m,
         CAST(max(vm) AS BIGINT) AS max_m,
         CAST(count(*) AS BIGINT) AS n,
         CAST(((max(vm) - min(vm)) // {HQ_BINS}) + 1 AS BIGINT) AS wi
  FROM ev GROUP BY event_type
), binned AS (
  SELECT e.event_type, (e.vm - s.min_m) // s.wi AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ev e JOIN stats s ON e.event_type = s.event_type
  GROUP BY e.event_type, (e.vm - s.min_m) // s.wi
), cum AS (
  SELECT event_type, bin,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM binned
), targets AS (
  SELECT s.event_type, s.min_m, s.wi, s.n, u.p,
         (u.p * s.n + 99) // 100 AS k
  FROM stats s, unnest([{", ".join(str(p) for p in HQ_PS)}]) AS u(p)
), est AS (
  SELECT t.event_type, t.p, t.min_m, t.wi, t.n, t.k,
         CAST(min(c.bin) AS BIGINT) AS qbin
  FROM targets t JOIN cum c
    ON t.event_type = c.event_type AND c.cum >= t.k
  GROUP BY t.event_type, t.p, t.min_m, t.wi, t.n, t.k
), ranked AS (
  SELECT event_type, vm,
         row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS rn
  FROM ev
)
SELECT e.event_type, CAST(e.p AS INTEGER) AS p, e.n, e.k,
       CAST(e.min_m + e.qbin * e.wi AS DOUBLE) / CAST(1000000 AS DOUBLE) AS est,
       CAST(r.vm AS DOUBLE) / CAST(1000000 AS DOUBLE) AS exact,
       CAST(e.wi AS DOUBLE) / CAST(1000000 AS DOUBLE) AS bin_width,
       r.vm >= e.min_m + e.qbin * e.wi
         AND r.vm < e.min_m + e.qbin * e.wi + e.wi AS within_bound
FROM est e JOIN ranked r ON e.event_type = r.event_type AND r.rn = e.k
ORDER BY e.event_type, e.p
"""


SKETCH_QUERIES.update(
    {
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "histogram_quantiles": q_histogram_quantiles,
    }
)
SKETCH_ORACLES.update(
    {
        "cms_heavy_hitters": _SQL_CMS_HEAVY_HITTERS,
        "histogram_quantiles": _SQL_HISTOGRAM_QUANTILES,
    }
)
