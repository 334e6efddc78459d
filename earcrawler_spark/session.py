"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime skew-join splitting + partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for
every pandas-UDF boundary, UTC session time zone for deterministic
timestamp semantics.

The module also holds the one reader of the query tables (``table``, with
the declared ``TABLE_SCHEMAS``) and the shared-frame registry.
"""

from __future__ import annotations

import functools
import os

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generated classes Spark's codegen cache keeps (its default is 100).  A
# smaller cache than the engine's working set misses on every lookup and
# recompiles: a crawl pass (init_seeds + one wave) looks up ~145 distinct
# classes, so at 100 entries each pass recompiled ~129 of them, while the
# sf0.01 ``scripts/check_oracles.py`` sweep compiles 2899 distinct ones.
# 4096 holds both, so a steady-state crawl wave compiles only the ~10
# projections that carry its per-wave literals (``it``, ``max_seq``).
CODEGEN_CACHE_ENTRIES = 4096

# The static engine settings of every session this package builds:
# get_spark's and the spark-submit job's (scripts/crawl_job.py).
ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    extra = {**ENGINE_CONFS, **(extra_conf or {})}
    if master.startswith("local"):
        # Python workers import the installed pyspark, not Spark's zip
        # (see pyworker.py), and find this package from any working
        # directory.  A cluster job ships the package with --py-files,
        # which workers add only per task, so it keeps Spark's daemon.
        extra.setdefault("spark.python.daemon.module", "earcrawler_spark.pyworker")
        extra["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, [_PACKAGE_PARENT, extra.get("spark.executorEnv.PYTHONPATH")]))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The ten tables every query reads from ``sf_dir``, as parquet reads them
# back (every field nullable).  pyarrow writes naive timestamps, which
# Spark reads as timestamp_ntz: declaring them ``timestamp`` would shift
# their values by the session time zone.  tests/test_table_schemas.py pins
# the fixtures and perfbench's generated tables to these.
TABLE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
                "c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
            "p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
              "o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
              "value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` under ``sf_dir``, read with its declared schema, so
    the read starts no footer schema-inference job.  A declared read would
    fill a column the file lacks with NULLs, so the footer's column names
    are checked on the driver first (pyarrow, no Spark job); extra columns
    in the file are allowed.  An undeclared ``name`` raises KeyError."""
    ddl = TABLE_SCHEMAS[name]
    path = f"{sf_dir}/{name}.parquet"
    declared = [field.split(" ", 1)[0] for field in ddl.split(", ")]
    found = set(pads.dataset(path, format="parquet").schema.names)
    missing = [c for c in declared if c not in found]
    if missing:
        raise ValueError(f"table {name!r} at {path} lacks declared columns {missing}")
    return spark.read.schema(ddl).parquet(path)


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
