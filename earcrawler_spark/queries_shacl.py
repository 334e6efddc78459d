"""SHACL shape validation as a registered, oracled query.

The synthetic KG is derived from supplier + part rows with seeded
violations of every constraint class the reference shapes use
(validate_shapes.py + shapes/*.shacl.ttl): bad focus IRIs, missing and
duplicated required properties, duplicated optional properties, and
value-pattern breaks. A conforming graph yields 0 rows (pyshacl
conforms=True) — pinned by tests/test_shacl.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.operators.kg import triple
from earcrawler_spark.session import table

SHACL_QUERIES: dict = {}
SHACL_ORACLES: dict = {}


def _ear_triples(spark: SparkSession, sf_dir: str, seed_violations: bool = True) -> DataFrame:
    """ear:Entity triples from suppliers + ear:Part triples from parts
    (p_partkey < 900 so valid part IRIs stay inside the 3-digit
    namespace the shape demands)."""
    sup = table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    e_iri = F.when(
        (k % 31 == 3) & F.lit(seed_violations),
        F.concat(F.lit("https://bad.example/entity/"), k.cast("string")),
    ).otherwise(
        F.concat(F.lit("https://ear.example.org/entity/S"), k.cast("string"))
    )

    ent_spans = F.filter(
        F.array(
            triple(e_iri, "rdf:type", F.lit("ear:Entity")),
            F.when(
                ~((k % 23 == 5) & F.lit(seed_violations)),
                triple(e_iri, "ear:name", F.col("s_name")),
            ),
            F.when(
                (k % 29 == 7) & F.lit(seed_violations),
                triple(e_iri, "ear:name", F.concat(F.col("s_name"), F.lit(" DUP"))),
            ),
            triple(e_iri, "ear:source", F.lit("tradegov")),
            F.when(k % 2 == 0, triple(e_iri, "ear:country", F.concat(F.lit("C"), (k % 5).cast("string")))),
            F.when(
                (k % 19 == 4) & F.lit(seed_violations),
                triple(e_iri, "ear:country", F.lit("C9")),
            ),
            F.when(k % 3 == 0, triple(e_iri, "ear:programs", F.lit("p1,p2"))),
        ),
        lambda x: x.isNotNull(),
    )
    ents = sup.select(F.explode(ent_spans).alias("tr")).select("tr.*")

    part = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 900)
    j = F.col("p_partkey")
    notation = F.lpad(j.cast("string"), 3, "0")
    p_iri = F.when(
        (j % 41 == 0) & F.lit(seed_violations),
        F.concat(F.lit("https://ear.example.org/part/"), (j + 1000).cast("string")),
    ).otherwise(F.concat(F.lit("https://ear.example.org/part/"), notation))
    bad_notation = F.concat(F.lit("x"), j.cast("string"))
    part_spans = F.filter(
        F.array(
            triple(p_iri, "rdf:type", F.lit("ear:Part")),
            F.when(
                ~((j % 43 == 0) & F.lit(seed_violations)),
                triple(
                    p_iri,
                    "ear:notation",
                    F.when((j % 37 == 0) & F.lit(seed_violations), bad_notation).otherwise(notation),
                ),
            ),
            triple(p_iri, "ear:title", F.col("p_name")),
            F.when(
                (j % 47 == 0) & F.lit(seed_violations),
                triple(p_iri, "ear:title", F.concat(F.col("p_name"), F.lit(" DUP"))),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    parts = part.select(F.explode(part_spans).alias("tr")).select("tr.*")
    return ents.unionByName(parts)


def q_shape_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL validation (validate_shapes.py:1-50 semantics over
    shapes/entities.shacl.ttl + parts.shacl.ttl) compiled to set
    algebra: focus selection by rdf:type, node IRI patterns,
    min/max cardinalities, value patterns — one property-aggregation
    pass for all shapes (operators/shacl.py)."""
    from earcrawler_spark.operators.shacl import shape_violations

    return shape_violations(_ear_triples(spark, sf_dir))


_SQL_SHAPE_VIOLATIONS = """
WITH sup AS (
  SELECT s_suppkey AS k, s_name,
         CASE WHEN s_suppkey % 31 = 3
              THEN 'https://bad.example/entity/' || CAST(s_suppkey AS VARCHAR)
              ELSE 'https://ear.example.org/entity/S' || CAST(s_suppkey AS VARCHAR) END AS iri
  FROM supplier
), prt AS (
  SELECT p_partkey AS j, p_name,
         lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS notation,
         CASE WHEN p_partkey % 41 = 0
              THEN 'https://ear.example.org/part/' || CAST(p_partkey + 1000 AS VARCHAR)
              ELSE 'https://ear.example.org/part/' || lpad(CAST(p_partkey AS VARCHAR), 3, '0') END AS iri
  FROM part WHERE p_partkey < 900
), triples AS (
  SELECT iri AS s, 'rdf:type' AS p, 'ear:Entity' AS o FROM sup
  UNION ALL SELECT iri, 'ear:name', s_name FROM sup WHERE k % 23 <> 5
  UNION ALL SELECT iri, 'ear:name', s_name || ' DUP' FROM sup WHERE k % 29 = 7
  UNION ALL SELECT iri, 'ear:source', 'tradegov' FROM sup
  UNION ALL SELECT iri, 'ear:country', 'C' || CAST(k % 5 AS VARCHAR) FROM sup WHERE k % 2 = 0
  UNION ALL SELECT iri, 'ear:country', 'C9' FROM sup WHERE k % 19 = 4
  UNION ALL SELECT iri, 'ear:programs', 'p1,p2' FROM sup WHERE k % 3 = 0
  UNION ALL SELECT iri, 'rdf:type', 'ear:Part' FROM prt
  UNION ALL SELECT iri, 'ear:notation',
         CASE WHEN j % 37 = 0 THEN 'x' || CAST(j AS VARCHAR) ELSE notation END
         FROM prt WHERE j % 43 <> 0
  UNION ALL SELECT iri, 'ear:title', p_name FROM prt
  UNION ALL SELECT iri, 'ear:title', p_name || ' DUP' FROM prt WHERE j % 47 = 0
), shapes(shape, tc, node_pattern) AS (
  VALUES ('EntityShape', 'ear:Entity', '^https://ear\\.example\\.org/entity/.+'),
         ('PartShape', 'ear:Part', '^https://ear\\.example\\.org/part/\\d{3}$')
), props(shape, tc, path, min_count, max_count, vpattern) AS (
  VALUES ('EntityShape', 'ear:Entity', 'ear:name', 1, 1, NULL),
         ('EntityShape', 'ear:Entity', 'ear:source', 1, 1, NULL),
         ('EntityShape', 'ear:Entity', 'ear:country', 0, 1, NULL),
         ('EntityShape', 'ear:Entity', 'ear:programs', 0, 1, NULL),
         ('PartShape', 'ear:Part', 'ear:notation', 1, 1, '^[0-9]{3}$'),
         ('PartShape', 'ear:Part', 'ear:title', 1, 1, NULL)
), focus AS (
  SELECT sh.shape, sh.tc, sh.node_pattern, t.s AS focus
  FROM triples t JOIN shapes sh ON t.p = 'rdf:type' AND t.o = sh.tc
), node_viol AS (
  SELECT shape, focus, 'node_pattern' AS violation, CAST(NULL AS VARCHAR) AS path,
         node_pattern AS detail
  FROM focus
  WHERE node_pattern IS NOT NULL AND NOT regexp_matches(focus, node_pattern)
), counts AS (
  SELECT f.shape, f.tc, f.focus, pr.path,
         count(*) AS n,
         sum(CASE WHEN pr.vpattern IS NOT NULL
                   AND NOT regexp_matches(t.o, pr.vpattern) THEN 1 ELSE 0 END) AS n_bad
  FROM triples t
  JOIN props pr ON t.p = pr.path
  JOIN focus f ON f.shape = pr.shape AND f.tc = pr.tc AND f.focus = t.s
  GROUP BY f.shape, f.tc, f.focus, pr.path
), carded AS (
  SELECT f.shape, f.focus, pr.path, pr.min_count, pr.max_count,
         coalesce(c.n, 0) AS n, coalesce(c.n_bad, 0) AS n_bad
  FROM focus f
  JOIN props pr ON pr.shape = f.shape AND pr.tc = f.tc
  LEFT JOIN counts c ON c.shape = f.shape AND c.focus = f.focus AND c.path = pr.path
)
SELECT shape, focus, violation, path, detail FROM (
  SELECT * FROM node_viol
  UNION ALL
  SELECT shape, focus, 'min_count', path, 'have ' || CAST(n AS VARCHAR)
  FROM carded WHERE n < min_count
  UNION ALL
  SELECT shape, focus, 'max_count', path, 'have ' || CAST(n AS VARCHAR)
  FROM carded WHERE max_count IS NOT NULL AND n > max_count
  UNION ALL
  SELECT shape, focus, 'value_pattern', path, 'bad ' || CAST(n_bad AS VARCHAR)
  FROM carded WHERE n_bad > 0
)
ORDER BY shape, focus, violation, path
"""


SHACL_QUERIES["shape_violations"] = q_shape_violations
SHACL_ORACLES["shape_violations"] = _SQL_SHAPE_VIOLATIONS
