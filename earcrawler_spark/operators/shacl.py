"""SHACL-style shape validation over a triples table.

Reference: earCrawler/validation/validate_shapes.py:1-50 runs pyshacl
over shapes/entities.shacl.ttl + shapes/parts.shacl.ttl. The constraint
vocabulary those shapes actually use — sh:targetClass focus selection,
node sh:pattern on the focus IRI, per-property sh:minCount/sh:maxCount,
and property value sh:pattern — maps exactly onto DataFrame set algebra:

- focus nodes: one filter of the rdf:type triples joined to the
  (broadcast) shape-spec table on target class;
- property cardinalities: ONE groupBy(s, path) count over the triples
  filtered to constrained paths, left-joined back to focus × spec (a
  missing group is count 0 -> min_count violation);
- value patterns: the same pass marks non-matching objects, so pattern
  violations fall out of the identical aggregate (sum of bad values);
- node patterns: a filter on the focus set.

One scan of the triples table for type selection + one for property
aggregation, regardless of shape count — the shape spec rides along as
a broadcast dimension, which is the layout that survives a 100 TB KG.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RDF_TYPE = "rdf:type"


@dataclass(frozen=True)
class PropertyConstraint:
    path: str
    min_count: int = 0
    max_count: int | None = None
    pattern: str | None = None


@dataclass(frozen=True)
class NodeShape:
    shape: str
    target_class: str
    node_pattern: str | None = None
    properties: tuple[PropertyConstraint, ...] = field(default_factory=tuple)


# shapes/entities.shacl.ttl + shapes/parts.shacl.ttl, verbatim semantics
ENTITY_SHAPE = NodeShape(
    shape="EntityShape",
    target_class="ear:Entity",
    node_pattern=r"^https://ear\.example\.org/entity/.+",
    properties=(
        PropertyConstraint("ear:name", min_count=1, max_count=1),
        PropertyConstraint("ear:source", min_count=1, max_count=1),
        PropertyConstraint("ear:country", max_count=1),
        PropertyConstraint("ear:programs", max_count=1),
    ),
)
PART_SHAPE = NodeShape(
    shape="PartShape",
    target_class="ear:Part",
    node_pattern=r"^https://ear\.example\.org/part/\d{3}$",
    properties=(
        PropertyConstraint("ear:notation", min_count=1, max_count=1, pattern=r"^[0-9]{3}$"),
        PropertyConstraint("ear:title", min_count=1, max_count=1),
    ),
)
REFERENCE_SHAPES = (ENTITY_SHAPE, PART_SHAPE)


def _spec_frames(spark: SparkSession, shapes) -> tuple[DataFrame, DataFrame]:
    shape_rows = [
        (s.shape, s.target_class, s.node_pattern) for s in shapes
    ]
    prop_rows = [
        (s.shape, s.target_class, p.path, p.min_count, p.max_count, p.pattern)
        for s in shapes
        for p in s.properties
    ]
    shape_df = spark.createDataFrame(
        shape_rows, "shape string, tc string, node_pattern string"
    )
    prop_df = spark.createDataFrame(
        prop_rows,
        "shape string, tc string, path string, min_count int, "
        "max_count int, vpattern string",
    )
    return shape_df, prop_df


def shape_violations(
    triples: DataFrame, shapes=REFERENCE_SHAPES
) -> DataFrame:
    """Violations of `shapes` in triples(s, p, o):
    (shape, focus, violation, path, detail) — empty on a conforming
    graph, exactly like pyshacl's conforms=True."""
    spark = triples.sparkSession
    shape_df, prop_df = _spec_frames(spark, shapes)

    focus = (
        triples.filter(F.col("p") == RDF_TYPE)
        .join(F.broadcast(shape_df), F.col("o") == F.col("tc"))
        .select("shape", "tc", "node_pattern", F.col("s").alias("focus"))
    )

    node_viol = focus.filter(
        F.col("node_pattern").isNotNull()
        & ~F.regexp_like(F.col("focus"), F.col("node_pattern"))
    ).select(
        "shape",
        "focus",
        F.lit("node_pattern").alias("violation"),
        F.lit(None).cast("string").alias("path"),
        F.col("node_pattern").alias("detail"),
    )

    # one aggregation over the constrained property triples: cardinality
    # AND bad-pattern counts per (focus, shape, path)
    prop_triples = (
        triples.join(
            F.broadcast(prop_df.select("shape", "tc", "path", "vpattern")),
            triples["p"] == F.col("path"),
        )
        .join(
            focus.select("shape", "tc", F.col("focus")).withColumnRenamed(
                "focus", "s"
            ),
            ["shape", "tc", "s"],
        )
    )
    counts = prop_triples.groupBy("shape", "tc", F.col("s").alias("focus"), "path").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("vpattern").isNotNull()
                & ~F.regexp_like(F.col("o"), F.col("vpattern")),
                1,
            ).otherwise(0)
        ).alias("n_bad"),
    )

    expected = focus.select("shape", "tc", "focus").join(
        F.broadcast(prop_df), ["shape", "tc"]
    )
    carded = expected.join(counts, ["shape", "tc", "focus", "path"], "left").select(
        "shape",
        "focus",
        "path",
        "min_count",
        "max_count",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("n_bad", F.lit(0)).alias("n_bad"),
    )
    # the three per-property checks read ``carded`` once: each yields a
    # (violation, detail) struct or NULL, exploded into rows
    n, n_bad = F.col("n"), F.col("n_bad")

    def check(cond, violation, detail):
        return F.when(cond, F.struct(F.lit(violation).alias("violation"), detail.alias("detail")))

    checks = F.array(
        check(n < F.col("min_count"), "min_count", F.concat(F.lit("have "), n.cast("string"))),
        check(
            F.col("max_count").isNotNull() & (n > F.col("max_count")),
            "max_count",
            F.concat(F.lit("have "), n.cast("string")),
        ),
        check(n_bad > 0, "value_pattern", F.concat(F.lit("bad "), n_bad.cast("string"))),
    )
    prop_viol = carded.select(
        "shape", "focus", "path", F.explode(F.filter(checks, lambda c: c.isNotNull())).alias("c")
    ).select("shape", "focus", "c.violation", "path", "c.detail")
    return node_viol.unionByName(prop_viol).orderBy("shape", "focus", "violation", "path")
