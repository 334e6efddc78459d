"""robots.txt cache — a new component the reference lacks entirely
(verified absent; SURVEY.md §2.10), required by the north rule.

The cache is a small dimension table (host, disallow_prefixes,
crawl_delay) broadcast-joined against the frontier at dequeue time.
Fetching robots for newly-discovered hosts is itself a (tiny) fetch wave;
in this sandbox it is fixture-backed by the synthetic web.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from earcrawler_spark.crawler.state import arrow_frame

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
    ]
)


def parse_robots_txt(
    txt: str, default_delay: float = 1.0, user_agent: str = "*"
) -> tuple[list[str], float]:
    """robots.txt parse with User-agent group scoping (RFC 9309 grouping):
    only Disallow / Crawl-delay rules inside a group whose User-agent line
    matches ``user_agent`` (or ``*``) apply. A group scoped to another bot
    must not deny URLs for this crawler — denied URLs drop out of the
    frontier permanently, so over-blocking is irreversible within a run.
    A specific-agent group overrides the ``*`` group entirely (standard
    most-specific-group-wins), including its crawl delay."""
    ua = user_agent.lower()
    groups: dict[str, tuple[list[str], float | None]] = {}
    cur_agents: list[str] = []
    in_group_body = False
    for line in (txt or "").splitlines():
        line = line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_group_body:
                cur_agents = []
                in_group_body = False
            agent = val.lower()
            cur_agents.append(agent)
            groups.setdefault(agent, ([], None))
            continue
        if not cur_agents:
            continue  # rules before any User-agent line have no group
        in_group_body = True
        if key == "disallow" and val:
            for agent in cur_agents:
                groups[agent][0].append(val)
        elif key == "crawl-delay":
            try:
                d = float(val)
            except ValueError:
                continue
            for agent in cur_agents:
                groups[agent] = (groups[agent][0], d)
    chosen = groups.get(ua, groups.get("*"))
    if chosen is None:
        return [], default_delay
    disallow, delay = chosen
    return list(disallow), default_delay if delay is None else delay


def fetch_robots(spark: SparkSession, hosts: list[str], fetcher) -> DataFrame:
    """Fetch + parse robots for the given hosts. ``fetcher(host) -> txt``
    is the pluggable transport (synthetic in tests, HTTP in production).

    Driver-side by design: the host set per wave is tiny (new hosts only)
    and the result is an Arrow-backed frame that is broadcast; at
    10^10-URL scale the host dimension is still ~10^6 rows — a trivially
    broadcastable table.
    """
    hosts = sorted(set(hosts))
    parsed = [parse_robots_txt(fetcher(h)) for h in hosts]
    return arrow_frame(
        spark,
        {
            "host": hosts,
            "disallow_prefixes": [dis for dis, _ in parsed],
            "crawl_delay": [delay for _, delay in parsed],
        },
        ROBOTS_SCHEMA,
    )


def allowed_filter(frontier: DataFrame, robots: DataFrame) -> tuple[DataFrame, Observation]:
    """The frontier's robots-allowed rows, via a broadcast robots join,
    and an Observation of the frontier rows it read (``frontier``) and
    denied (``denied``), which reports once the allowed rows are read.

    A URL is denied when its path starts with any disallow prefix of its
    host. `exists` over the (short) prefix array stays in codegen.
    """
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    joined = frontier.join(F.broadcast(robots), "host", "left").withColumn(
        "_denied",
        F.coalesce(
            F.exists(
                F.col("disallow_prefixes"),
                lambda p: path.startswith(p),
            ),
            F.lit(False),
        ),
    )
    counts = Observation()
    joined = joined.observe(
        counts, F.count(F.lit(1)).alias("frontier"), F.count_if("_denied").alias("denied")
    )
    return joined.filter(~F.col("_denied")).drop("_denied", "disallow_prefixes"), counts
