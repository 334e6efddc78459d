"""Query batch — link-graph analytics (beyond-reference web-scale op).

``link_pagerank``: fixed-iteration PageRank over a deterministic link
graph derived from the corpus — the centrality signal a web-scale
frontier uses to prioritize recrawl order (OPIC/PageRank scheduling;
the engine's frontier itself lives in crawler/runner.py).  The graph
is synthesized arithmetically from ``documents.doc_id`` (3 out-links
per node, modular stride), so the operator is testable at any SF with
no external data while the PLAN is the real distributed-PageRank
shape.

Scale notes (100 TB / 1000 executors):
- Each iteration is exactly one shuffle: edges(src,dst,outdeg) JOIN
  ranks ON src, then groupBy(dst) with a partial-agg-friendly SUM.
  That is the canonical relational PageRank — no driver-side state,
  no collect; rank updates stay JVM-side integer arithmetic.
- Iterations are unrolled (PR_ITERS=3), so Catalyst sees one DAG; at
  real scale you persist/localCheckpoint the edge table and each
  rank frontier per round exactly like the IVF Lloyd trainer
  (operators/similarity.py) — the 3-round lineage here is shallow
  enough not to need it.
- Dangling nodes (no out-edges after self-loop removal) leak their
  mass — the standard "PageRank with leak" simplification; both the
  engine and the oracle implement the identical recurrence so the
  comparison is exact.

Determinism / oracle stability: ranks are micro-integers (initial
1_000_000 per node).  One round is
    r' = 150_000 + (85 * sum(r div outdeg over in-edges)) div 100
— every operation is exact BIGINT arithmetic (Spark ``div`` ==
DuckDB ``//`` on non-negative operands), so the result is bit-stable
across engines, partitionings and cluster sizes.  The only float is
the final single division by 1e6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.session import table

GRAPH_QUERIES: dict = {}
GRAPH_ORACLES: dict = {}

PR_ITERS = 3          # unrolled power-iteration rounds
PR_FANOUT = 3         # candidate out-links per node (modular strides)
PR_BASE = 150_000     # (1 - d) * 1e6 with damping d = 0.85
PR_DAMP_NUM = 85      # d * 100 (integer damping: (85 * s) div 100)
_STRIDE = 7           # dst_j = (7 * src + 11 * j) % n,  j = 1..3


def _nodes_edges(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = (
        nodes.crossJoin(F.broadcast(nd))
        .select(
            F.col("node").alias("src"),
            F.explode(
                F.array(
                    *[
                        (F.col("node") * _STRIDE + 11 * j) % F.col("n")
                        for j in range(1, PR_FANOUT + 1)
                    ]
                )
            ).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
        .distinct()
    )
    return nodes, edges


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled rounds, micro-integer arithmetic) over the
    doc_id-derived link graph; per-node centrality + degrees.  See the
    module docstring for the scale shape and the exact recurrence."""
    nodes, edges = _nodes_edges(spark, sf_dir)
    # materialize the edge table once: every unrolled round re-reads it,
    # and would re-pay its distinct shuffle
    edges = edges.localCheckpoint()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    edges_deg = edges.join(out_deg, "src")

    ranks = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("r"))
    for _ in range(PR_ITERS):
        sums = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
            .select("dst", F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(PR_BASE)
                    + F.expr(f"({PR_DAMP_NUM} * coalesce(s, 0)) div 100")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
    return (
        ranks.join(out_deg, ranks["node"] == out_deg["src"], "left")
        .join(in_deg, ranks["node"] == in_deg["dst"], "left")
        .select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce(F.col("indeg"), F.lit(0)).cast("bigint").alias("in_deg"),
            F.col("r").alias("pr_micro"),
            (F.col("r").cast("double") / F.lit(1_000_000).cast("double")).alias(
                "pagerank"
            ),
        )
        .orderBy("node")
    )


def _rank_round_sql(prev: str, name: str) -> str:
    return f"""{name} AS (
  SELECT n.node,
         CAST({PR_BASE} + ({PR_DAMP_NUM} * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.r // e.outdeg) AS BIGINT) AS s
    FROM edges_deg e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst) s ON n.node = s.node
)"""


_SQL_LINK_PAGERANK = f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
nodes AS (SELECT doc_id AS node FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT node AS src, ({_STRIDE} * node + 11 * j) % n AS dst
    FROM nodes CROSS JOIN nd,
         unnest([{", ".join(str(j) for j in range(1, PR_FANOUT + 1))}]) AS u(j))
  WHERE dst <> src
), out_deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
), in_deg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS indeg FROM edges GROUP BY dst
), edges_deg AS (
  SELECT e.src, e.dst, o.outdeg FROM edges e JOIN out_deg o ON e.src = o.src
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
),
{_rank_round_sql("r0", "r1")},
{_rank_round_sql("r1", "r2")},
{_rank_round_sql("r2", "r3")}
SELECT n.node,
       coalesce(o.outdeg, 0) AS out_deg,
       coalesce(i.indeg, 0) AS in_deg,
       r3.r AS pr_micro,
       CAST(r3.r AS DOUBLE) / CAST(1000000 AS DOUBLE) AS pagerank
FROM nodes n
JOIN r3 ON n.node = r3.node
LEFT JOIN out_deg o ON n.node = o.src
LEFT JOIN in_deg i ON n.node = i.dst
ORDER BY n.node
"""


GRAPH_QUERIES["link_pagerank"] = q_link_pagerank
GRAPH_ORACLES["link_pagerank"] = _SQL_LINK_PAGERANK


# --- exact triangle count + global clustering ---------------------------------


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count and global clustering coefficient over the
    undirected form of the same doc_id-derived link graph — the graph-
    health statistic a crawl-analytics pipeline tracks (link farms and
    boilerplate navigation show up as clustering anomalies).

    Method: canonical-order orientation.  Every undirected edge is kept
    once as (u < v); a triangle a<b<c is counted exactly once as the
    wedge (a,b),(a,c) closed by (b,c) — two equi-joins, no dedup pass.
    Wedge count comes from the degree histogram (sum d*(d-1)/2), so
    clustering = 3T/W needs no second pass over pairs.

    Scale note: id-order orientation bounds wedge fan-out by per-node
    degree, which is ~2*PR_FANOUT here by construction.  On a real web
    graph you orient by (degree, id) instead — same plan, hub wedges
    collapse from deg(hub)^2 to near-linear — and pre-bucket the edge
    list by u for AQE skew splitting.  All counts are exact BIGINTs;
    the one float is the final clustering division."""
    _, edges = _nodes_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(d * (d - 1) div 2)").cast("long").alias("n_wedges"),
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        base.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                (F.col("n_triangles") * 3).cast("double") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


_SQL_GRAPH_TRIANGLES = f"""
WITH n AS (SELECT count(*) AS n FROM documents),
dirc AS (
  SELECT doc_id AS src, (doc_id * {_STRIDE} + 11 * j) % n.n AS dst
  FROM documents, n, (SELECT unnest([1, 2, 3]) AS j)
  WHERE (doc_id * {_STRIDE} + 11 * j) % n.n != doc_id
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM dirc
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT b.n_nodes, (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       b.n_wedges, t.n_triangles,
       round(CAST(t.n_triangles * 3 AS DOUBLE) / b.n_wedges, 6) AS clustering
FROM base b, tri t
"""


GRAPH_QUERIES["graph_triangles"] = q_graph_triangles
GRAPH_ORACLES["graph_triangles"] = _SQL_GRAPH_TRIANGLES
