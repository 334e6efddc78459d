"""Query batch 4 — window-frame / sessionization / multi-dim aggregation
coverage (§2.6 frame windows and grouping sets have no reference
counterpart; Spark provides them natively and a 100 TB pipeline uses
them constantly, so they're first-class here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.session import table

SESSION_GAP_MIN = 30


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window: per-user running event-value sum + 3-row moving
    average, ordered by time."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 4).alias(
            "running_sum"
        ),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg3"),
    ).orderBy("event_id")


_SQL_RUNNING = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
FROM events
ORDER BY event_id
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to the
    previous event of the same user exceeds 30 min (lag + cumulative
    flag-sum — the standard relational sessionizer; Structured Streaming
    covers the same with session windows)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ) / 60.0
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_min.isNull() | (gap_min > SESSION_GAP_MIN), 1).otherwise(0),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_no")
    )


_SQL_SESSIONIZATION = f"""
WITH flagged AS (
  SELECT user_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch(ts) - epoch(lag(ts) OVER w)) / 60.0 > {SESSION_GAP_MIN}
              THEN 1 ELSE 0 END AS new_session,
         ts, event_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM sess GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation: ROLLUP over (returnflag, linestatus)
    — subtotals + grand total in one pass (no reference counterpart;
    §2.5 notes it as a Spark-native extension)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "total_price",
        )
        .orderBy("returnflag", "linestatus")
    )


_SQL_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_items,
       round(sum(l_extendedprice), 4) AS total_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts spread over event-type columns."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


_SQL_PIVOT = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'view')     AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'error')    AS error
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO-family coverage: INTERSECT/EXCEPT over customer key sets —
    buyers of high-priority orders vs low-priority orders."""
    orders = table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_orderpriority") <= "2-HIGH").select("o_custkey").distinct()
    lo = (
        orders.filter(F.col("o_orderpriority") >= "4-NOT SPECIFIED")
        .select("o_custkey")
        .distinct()
    )
    both = hi.intersect(lo).withColumn("segment", F.lit("both"))
    hi_only = hi.subtract(lo).withColumn("segment", F.lit("hi_only"))
    return (
        both.unionByName(hi_only)
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
    )


_SQL_SET_OPS = """
WITH hi AS (SELECT o_custkey FROM orders WHERE o_orderpriority <= '2-HIGH'),
lo AS (SELECT o_custkey FROM orders WHERE o_orderpriority >= '4-NOT SPECIFIED'),
both_seg AS (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT DISTINCT o_custkey FROM lo),
hi_only AS (
  SELECT DISTINCT o_custkey FROM hi
  EXCEPT SELECT DISTINCT o_custkey FROM lo
)
SELECT 'both' AS segment, count(*) AS n_customers FROM both_seg
UNION ALL
SELECT 'hi_only', count(*) FROM hi_only
ORDER BY segment
"""




# --- ordered funnel conversion ----------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): a user reaches step k
    only with an event of that type AT OR AFTER their earliest
    qualifying step-(k-1) time (the classic min-time-propagation
    funnel).  Output: one row per step with users reached, conversion
    from the previous step and from the funnel start.

    Scale shape: each step is one user-keyed partial-agg (min ts) plus
    one user-keyed join — shuffles stay on the user key end to end;
    nothing is collected or windowed globally.  At 100 TB the step
    frames are one row per surviving user, shrinking monotonically."""
    ev = table(spark, sf_dir, "events")
    reached = []
    prev = None
    for step in FUNNEL_STEPS:
        cur = ev.filter(F.col("event_type") == step)
        if prev is None:
            cur = cur.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (
                cur.join(prev.select("user_id", F.col("t").alias("t_prev")),
                         "user_id")
                .filter(F.col("ts") >= F.col("t_prev"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        reached.append(cur)
        prev = cur
    counts = None
    for i, (step, df) in enumerate(zip(FUNNEL_STEPS, reached)):
        row = df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(i + 1).cast("long").alias("step_no"),
            F.lit(step).alias("step"),
            F.col("users"),
        )
        counts = row if counts is None else counts.unionByName(row)
    first = counts.filter(F.col("step_no") == 1).select(
        F.col("users").alias("u_first")
    )
    with_prev = (
        counts.alias("c")
        .join(
            counts.select(
                (F.col("step_no") + 1).alias("step_no"),
                F.col("users").alias("u_prev"),
            ),
            "step_no",
            "left",
        )
        .crossJoin(F.broadcast(first))
    )
    return with_prev.select(
        "step_no",
        "step",
        "users",
        F.round(
            F.when(
                F.col("u_prev").isNotNull(),
                F.col("users").cast("double") / F.col("u_prev"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("conv_from_prev"),
        F.round(F.col("users").cast("double") / F.col("u_first"), 6).alias(
            "conv_from_start"
        ),
    ).orderBy("step_no")


_SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY e.user_id
), counts AS (
  SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step,
         CAST(count(*) AS BIGINT) AS users FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
)
SELECT c.step_no, c.step, c.users,
       round(CASE WHEN p.users IS NOT NULL
                  THEN CAST(c.users AS DOUBLE) / p.users
                  ELSE CAST(1.0 AS DOUBLE) END, 6) AS conv_from_prev,
       round(CAST(c.users AS DOUBLE) /
             (SELECT users FROM counts WHERE step_no = 1), 6)
         AS conv_from_start
FROM counts c
LEFT JOIN counts p ON p.step_no = c.step_no - 1
ORDER BY c.step_no
"""


# --- weekly retention cohorts ------------------------------------------------

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users grouped by first-activity week
    (cohort), counted as active in each later week; retention = active
    share of the cohort.  Weeks are integer epoch-week indices
    (epoch_seconds // 604800) so BOTH engines bucket identically with
    no calendar/week-start semantics in play.

    Scale shape: first-week per user is one user-keyed partial agg;
    the (user, week) activity set is a distinct on the same key; the
    matrix is a (cohort, offset) agg over that — three key-partitioned
    shuffles, no windows, no driver-side state."""
    ev = table(spark, sf_dir, "events")
    wk = (F.unix_timestamp("ts") / F.lit(604800)).cast("long")
    uw = ev.select("user_id", wk.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        uw.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("offset_weeks"))
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return (
        cells.join(cohort_sizes, "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "active_users",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_users"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "offset_weeks")
    )


_SQL_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
), sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
  FROM cohort GROUP BY cohort_week
), cells AS (
  SELECT c.cohort_week, uw.week - c.cohort_week AS offset_weeks,
         CAST(count(*) AS BIGINT) AS active_users
  FROM uw JOIN cohort c ON uw.user_id = c.user_id
  GROUP BY c.cohort_week, uw.week - c.cohort_week
)
SELECT l.cohort_week, l.offset_weeks, l.active_users,
       round(CAST(l.active_users AS DOUBLE) / s.cohort_users, 6) AS retention
FROM cells l JOIN sizes s ON l.cohort_week = s.cohort_week
ORDER BY l.cohort_week, l.offset_weeks
"""

# --- bucketed interval (range) join -------------------------------------------

# incident window each error event opens, and the bucket width the join
# hashes on — equal, so each interval lands in at most 2 buckets.
INCIDENT_US = 2 * 3600 * 1_000_000


def q_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval attribution via the bucketed range join
    (`operators/temporal.py:interval_join`): every error event opens a
    half-open 2 h incident window for its user; purchases of the same
    user falling inside any window are "attributed".  Output: per
    purchase-day pair count, distinct attributed purchases/users, and
    value over DISTINCT purchases (a purchase inside two overlapping
    windows counts once toward value).

    Scale shape: Spark has no range-join strategy — the naive theta
    join is a BroadcastNestedLoopJoin that dies when the interval side
    outgrows the broadcast threshold.  interval_join turns it into a
    (bucket, user) EQUI-join (shuffle-hash/SMJ, AQE-splittable) with
    replication factor ≤ 2 and an exact post-filter; both downstream
    aggs stay on the day key.  Timestamps compare as microsecond
    epochs (unix_micros ↔ DuckDB epoch_us) so sub-second order is
    exact."""
    from earcrawler_spark.operators.temporal import interval_join

    ev = table(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC (session.py:45, and
    # the driver-green sessionization query proves the same parity), so
    # the cast is an exact reinterpretation.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", us.alias("p_us")
    )
    ivl = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        us.alias("w_start"),
        (us + F.lit(INCIDENT_US)).alias("w_end"),
    )
    pairs = interval_join(
        pts, ivl, "p_us", "w_start", "w_end", INCIDENT_US, keys=("user_id",)
    ).withColumn("day", F.floor(F.col("p_us") / F.lit(86_400_000_000)))
    # reduce to purchase grain FIRST, carrying the pair count — the join
    # output is consumed exactly once (two separate day-aggs would
    # recompute the whole join per branch)
    per_purchase = pairs.groupBy("day", "event_id", "user_id", "value").agg(
        F.count(F.lit(1)).alias("n_p")
    )
    return (
        per_purchase.groupBy("day")
        .agg(
            F.sum("n_p").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .orderBy("day")
    )


_SQL_INTERVAL = f"""
WITH pts AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), ivl AS (
  SELECT user_id, epoch_us(ts) AS w_start,
         epoch_us(ts) + {INCIDENT_US} AS w_end
  FROM events WHERE event_type = 'error'
), pairs AS (
  SELECT p.event_id, p.user_id, p.value,
         CAST(floor(p.p_us / 86400000000) AS BIGINT) AS day
  FROM pts p JOIN ivl i
    ON p.user_id = i.user_id
   AND p.p_us >= i.w_start AND p.p_us < i.w_end
), per_pair AS (
  SELECT day, count(*) AS n_pairs FROM pairs GROUP BY day
), per_purchase AS (
  SELECT day, count(*) AS n_purchases,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 4) AS value_sum
  FROM (SELECT DISTINCT day, event_id, user_id, value FROM pairs)
  GROUP BY day
)
SELECT a.day, a.n_pairs, b.n_purchases, b.n_users, b.value_sum
FROM per_pair a JOIN per_purchase b ON a.day = b.day
ORDER BY a.day
"""


WINDOW_QUERIES = {
    "running_totals": q_running_totals,
    "sessionization": q_sessionization,
    "sales_rollup": q_sales_rollup,
    "event_pivot": q_event_pivot,
    "set_operations": q_set_operations,
    "funnel_conversion": q_funnel_conversion,
    "retention_cohorts": q_retention_cohorts,
    "interval_attribution": q_interval_attribution,
}

WINDOW_ORACLES = {
    "running_totals": _SQL_RUNNING,
    "sessionization": _SQL_SESSIONIZATION,
    "sales_rollup": _SQL_ROLLUP,
    "event_pivot": _SQL_PIVOT,
    "set_operations": _SQL_SET_OPS,
    "funnel_conversion": _SQL_FUNNEL,
    "retention_cohorts": _SQL_RETENTION,
    "interval_attribution": _SQL_INTERVAL,
}


# --- conversion latency percentiles -------------------------------------------

LAT_PS = (50, 90, 99)
_WEEK_US = 604_800 * 1_000_000


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles (first view → first subsequent
    purchase) per first-view-week cohort: p50/p90/p99 as EXACT k-th
    order statistics (k = ceil(p*n/100), the histogram_quantiles
    idiom) — integer-exact in µs, so both engines agree bit-for-bit;
    the one float is the hours conversion.

    Scale shape: two user-keyed partial aggs build (t_view,
    t_purchase); the rank window partitions by cohort week — never
    global — and the percentile join probes it with a broadcast of
    (week, p, k) targets."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_v"))
    )
    lat = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t_p"))
        .join(tv, "user_id")
        .filter(F.col("t_p") >= F.col("t_v"))
        .groupBy("user_id", "t_v")
        .agg(F.min("t_p").alias("t_p"))
        .select(
            "user_id",
            F.floor(F.col("t_v") / F.lit(_WEEK_US)).alias("week"),
            (F.col("t_p") - F.col("t_v")).alias("lat_us"),
        )
    )
    targets = (
        lat.groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_conv"))
        .select(
            "week",
            "n_conv",
            F.explode(F.array(*[F.lit(p) for p in LAT_PS])).alias("p"),
        )
        .withColumn("k", F.expr("(p * n_conv + 99) div 100"))
    )
    ranked = lat.select(
        F.col("week").alias("r_week"),
        "lat_us",
        F.row_number()
        .over(W.partitionBy("week").orderBy("lat_us", "user_id"))
        .alias("rn"),
    )
    return (
        ranked.join(
            F.broadcast(targets),
            (F.col("r_week") == F.col("week")) & (F.col("rn") == F.col("k")),
        )
        .select(
            "week",
            F.col("p").cast("long").alias("p"),
            "n_conv",
            F.col("lat_us").alias("latency_us"),
            F.round(F.col("lat_us").cast("double") / 3_600_000_000, 6).alias(
                "latency_h"
            ),
        )
        .orderBy("week", "p")
    )


_SQL_CONVERSION_LATENCY = f"""
WITH tv AS (
  SELECT user_id, min(epoch_us(ts)) AS t_v FROM events
  WHERE event_type = 'view' GROUP BY user_id
), lat AS (
  SELECT e.user_id, t_v // {_WEEK_US} AS week,
         min(epoch_us(e.ts)) - t_v AS lat_us
  FROM events e JOIN tv ON e.user_id = tv.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tv.t_v
  GROUP BY e.user_id, t_v
), targets AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n_conv, p.p,
         (p.p * count(*) + 99) // 100 AS k
  FROM lat, (SELECT unnest([{', '.join(str(p) for p in LAT_PS)}]) AS p) p
  GROUP BY week, p.p
), ranked AS (
  SELECT week, lat_us,
         row_number() OVER (PARTITION BY week ORDER BY lat_us, user_id) AS rn
  FROM lat
)
SELECT t.week, CAST(t.p AS BIGINT) AS p, t.n_conv,
       CAST(r.lat_us AS BIGINT) AS latency_us,
       round(CAST(r.lat_us AS DOUBLE) / 3600000000, 6) AS latency_h
FROM targets t JOIN ranked r ON r.week = t.week AND r.rn = t.k
ORDER BY t.week, t.p
"""

WINDOW_QUERIES["conversion_latency"] = q_conversion_latency
WINDOW_ORACLES["conversion_latency"] = _SQL_CONVERSION_LATENCY
