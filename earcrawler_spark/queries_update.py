"""SPARQL UPDATE as a registered, oracled query.

The reference's update workload (loaders/ear_parts_loader.py:29-80 over
sparql/upsert_part.sparql + upsert_part_anchor.sparql via
kg/sparql.py:63-76) is part/anchor upserts: INSERT DATA for part nodes
(set-idempotent) and DELETE-then-INSERT for anchor edges. The query
applies that batch to a seeded base graph and emits the graph DELTA —
deletes that only re-insert net out, exactly like the reference's
delete+insert of the same edge; stale anchors with a different id
survive, because the template deletes only its own anchor id.

Batching note: the reference issues one HTTP update per part; applying
all deletes then all inserts in one MERGE is equivalent here because
every delete key is re-inserted by its own upsert and no upsert deletes
another's insert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.operators.kg import triple
from earcrawler_spark.session import table

UPDATE_QUERIES: dict = {}
UPDATE_ORACLES: dict = {}


def _parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 900)
    j = F.col("p_partkey")
    partno = F.lpad(j.cast("string"), 3, "0")
    title = F.concat(F.lit("Anchor "), F.col("p_name"))
    doc = F.concat(F.lit("D"), F.lpad(j.cast("string"), 6, "0"))
    anchor_id = F.substring(
        F.sha2(F.concat(partno, F.lit(":"), doc, F.lit(":"), title), 256), 1, 16
    )
    return p.select(
        j.alias("j"),
        partno.alias("partno"),
        F.concat(F.lit("part:"), partno).alias("part_iri"),
        F.concat(F.lit("anch:"), anchor_id).alias("anch_iri"),
        doc.alias("doc_id"),
        title.alias("title"),
        F.concat(F.lit("https://fr.example/d/"), j.cast("string")).alias("src"),
        F.concat(F.lit("snippet "), F.col("p_name")).alias("snippet"),
    )


def _part_node_triples(parts: DataFrame) -> DataFrame:
    spans = F.array(
        triple(F.col("part_iri"), "rdf:type", F.lit("ear:Part")),
        triple(F.col("part_iri"), "skos:notation", F.col("partno")),
        triple(
            F.col("part_iri"),
            "dct:title",
            F.concat(F.lit("15 CFR Part "), F.col("partno")),
        ),
    )
    return parts.select(F.explode(spans).alias("tr")).select("tr.*")


def _base_graph(parts: DataFrame) -> DataFrame:
    pre_parts = _part_node_triples(parts.filter(F.col("j") % 3 == 0))
    # same-id anchors whose edge the upsert deletes and re-inserts; their
    # stale title triples survive (reference template quirk, mirrored)
    same_id = parts.filter(F.col("j") % 7 == 0)
    same_edges = same_id.select(
        F.col("part_iri").alias("s"),
        F.lit("ear:hasAnchor").alias("p"),
        F.col("anch_iri").alias("o"),
    ).unionByName(
        same_id.select(
            F.col("anch_iri").alias("s"),
            F.lit("dct:title").alias("p"),
            F.lit("OLD TITLE").alias("o"),
        )
    )
    # different-id stale anchors the update never touches
    stale = parts.filter(F.col("j") % 5 == 0).select(
        F.col("part_iri").alias("s"),
        F.lit("ear:hasAnchor").alias("p"),
        F.concat(F.lit("anch:stale_"), F.col("partno")).alias("o"),
    )
    return pre_parts.unionByName(same_edges).unionByName(stale)


def _update_batch(parts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(inserts, deletes) for the full upsert batch."""

    anchor_spans = F.array(
        triple(F.col("part_iri"), "ear:hasAnchor", F.col("anch_iri")),
        triple(F.col("anch_iri"), "rdf:type", F.lit("ear:Anchor")),
        triple(F.col("anch_iri"), "ear:anchorDocument", F.col("doc_id")),
        triple(F.col("anch_iri"), "dct:title", F.col("title")),
        triple(F.col("anch_iri"), "dct:source", F.col("src")),
        triple(F.col("anch_iri"), "ear:anchorSnippet", F.col("snippet")),
    )
    inserts = _part_node_triples(parts).unionByName(
        parts.select(F.explode(anchor_spans).alias("tr")).select("tr.*")
    )
    deletes = parts.select(
        F.col("part_iri").alias("s"),
        F.lit("ear:hasAnchor").alias("p"),
        F.col("anch_iri").alias("o"),
    )
    return inserts, deletes


def q_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earcrawler_spark.operators.kg import apply_graph_update, graph_delta

    # The update algebra references each frame repeatedly (after embeds
    # before twice via kept, the delta reads before and after twice
    # each), so the raw composed plan re-derived the part synthesis ~80x
    # (208 Exchange / 242 parquet scans, a 200 KB plan whose planning +
    # codegen dominated the query).  The graph frames are update-batch
    # sized — checkpoint the narrow waists (guide §3.3: materialise an
    # intermediate to truncate a very wide plan); the delta then reads
    # materialized before/after exactly like the reference diffs two
    # graph snapshots.  9 Exchange / 0 re-scans after.  Pays at sf0.1:
    # without the three pins the row takes 2.69x as long, with `parts`
    # pinned alone 1.81x (same boot, 3 interleaved runs a side, A/A
    # spread 0.11).
    parts = _parts(spark, sf_dir).localCheckpoint()
    before = _base_graph(parts).localCheckpoint()
    inserts, deletes = _update_batch(parts)
    after = apply_graph_update(before, inserts, deletes).localCheckpoint()
    return graph_delta(before, after).orderBy("op", "s", "p", "o")


_SQL_SPARQL_UPDATE = """
WITH parts AS (
  SELECT p_partkey AS j,
         lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS partno,
         'part:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS part_iri,
         'anch:' || substr(sha256(
             lpad(CAST(p_partkey AS VARCHAR), 3, '0') || ':' ||
             'D' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') || ':' ||
             'Anchor ' || p_name), 1, 16) AS anch_iri,
         'D' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS doc_id,
         'Anchor ' || p_name AS title,
         'https://fr.example/d/' || CAST(p_partkey AS VARCHAR) AS src,
         'snippet ' || p_name AS snippet
  FROM part WHERE p_partkey < 900
), part_nodes AS (
  SELECT part_iri AS s, 'rdf:type' AS p, 'ear:Part' AS o, j FROM parts
  UNION ALL SELECT part_iri, 'skos:notation', partno, j FROM parts
  UNION ALL SELECT part_iri, 'dct:title', '15 CFR Part ' || partno, j FROM parts
), before_g AS (
  SELECT s, p, o FROM part_nodes WHERE j % 3 = 0
  UNION ALL SELECT part_iri, 'ear:hasAnchor', anch_iri FROM parts WHERE j % 7 = 0
  UNION ALL SELECT anch_iri, 'dct:title', 'OLD TITLE' FROM parts WHERE j % 7 = 0
  UNION ALL SELECT part_iri, 'ear:hasAnchor', 'anch:stale_' || partno
            FROM parts WHERE j % 5 = 0
), inserts AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT s, p, o FROM part_nodes
    UNION ALL SELECT part_iri, 'ear:hasAnchor', anch_iri FROM parts
    UNION ALL SELECT anch_iri, 'rdf:type', 'ear:Anchor' FROM parts
    UNION ALL SELECT anch_iri, 'ear:anchorDocument', doc_id FROM parts
    UNION ALL SELECT anch_iri, 'dct:title', title FROM parts
    UNION ALL SELECT anch_iri, 'dct:source', src FROM parts
    UNION ALL SELECT anch_iri, 'ear:anchorSnippet', snippet FROM parts
  )
), deletes AS (
  SELECT part_iri AS s, 'ear:hasAnchor' AS p, anch_iri AS o FROM parts
), kept AS (
  SELECT b.s, b.p, b.o FROM before_g b
  WHERE NOT EXISTS (SELECT 1 FROM deletes d
                    WHERE d.s = b.s AND d.p = b.p AND (d.o IS NULL OR d.o = b.o))
), after_g AS (
  SELECT s, p, o FROM kept
  UNION ALL
  SELECT i.s, i.p, i.o FROM inserts i
  WHERE NOT EXISTS (SELECT 1 FROM kept k
                    WHERE k.s = i.s AND k.p = i.p AND k.o = i.o)
)
SELECT op, s, p, o FROM (
  SELECT 'delete' AS op, b.s, b.p, b.o FROM before_g b
  WHERE NOT EXISTS (SELECT 1 FROM after_g a
                    WHERE a.s = b.s AND a.p = b.p AND a.o = b.o)
  UNION ALL
  SELECT 'insert', a.s, a.p, a.o FROM after_g a
  WHERE NOT EXISTS (SELECT 1 FROM before_g b
                    WHERE b.s = a.s AND b.p = a.p AND b.o = a.o)
)
ORDER BY op, s, p, o
"""


UPDATE_QUERIES["sparql_update"] = q_sparql_update
UPDATE_ORACLES["sparql_update"] = _SQL_SPARQL_UPDATE
