"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime skew-join splitting + partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for
every pandas-UDF boundary, UTC session time zone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "earcrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``).  ``shuffle_partitions`` defaults to the local
    parallelism so small-scale shuffles don't fan out into hundreds of
    empty tasks; on a real cluster this would be sized to
    2-3x total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        digits = "".join(c for c in master if c.isdigit())
        shuffle_partitions = int(digits) if digits else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Shared frames: one value per (applicationId, sf_dir, name), built by the
# first consumer and served to every later one -- the in-session mirror of
# the persisted tables (decisions, context bundle, trained quantizer, gate
# outputs) that consumers read at scale.
_SHARED: dict[tuple[str, str, str], object] = {}


def shared_frame(spark: SparkSession, sf_dir: str, name: str, build):
    """Return the shared value ``name`` for ``sf_dir``, calling ``build()``
    on a miss.  ``build`` pins its own result (localCheckpoint, cache +
    count, or the BPE (merges, words) tuple).  A miss drops the entries
    of other (ended) applications, whose JVM handles are dead, and evicts
    and unpersists this name's entries for other sf dirs, so a long-lived
    session never pins more than one sf_dir per name."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SHARED:
        for k in list(_SHARED):
            if k[0] != key[0]:
                del _SHARED[k]
            elif k[2] == name:
                stale = _SHARED.pop(k)
                # the BPE tuple has no unpersist; localCheckpoint blocks
                # are freed with the RDD's GC
                if hasattr(stale, "unpersist"):
                    stale.unpersist()
        _SHARED[key] = build()
    return _SHARED[key]


def cached(df):
    """Storage-level cache, materialized eagerly."""
    df = df.cache()
    df.count()
    return df


def shared_output(name: str, *order_cols: str):
    """Decorator: serve a query's small aggregate output as a shared
    frame, so composition queries (eval_report) read the pinned gate
    output instead of re-running its pipeline.  Re-ordered on every read
    so callers see the declared output order.  Only for metadata-scale
    outputs: the cache pins executor storage for the session."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            df = shared_frame(spark, sf_dir, name, lambda: cached(fn(spark, sf_dir)))
            return df.orderBy(*order_cols)

        return wrapped

    return deco
