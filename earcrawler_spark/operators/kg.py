"""KG-side bookkeeping operators: provenance-gated upsert and the part
anchor index.

Reference:
- ProvenanceRecorder.record (kg/provenance_store.py:85-131): per subject,
  compare the new content hash against the previous manifest; only
  changed subjects regenerate downstream artefacts; the new manifest is
  exactly this run's entries; date-only retrieved_at values get
  'T00:00:00Z' appended.
- AnchorIndex.update_part (kg/anchors.py:43-59): anchors normalize
  (title/url strip, snippet whitespace collapse, empty publication date
  -> null) and sort by (document_id, lower(title)) within their part.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def triple(s: Column, p: str, o: Column) -> Column:
    """One (s, p, o) triple struct with a literal predicate."""
    return F.struct(s.alias("s"), F.lit(p).alias("p"), o.alias("o"))


def provenance_upsert(prev: DataFrame | None, current: DataFrame) -> DataFrame:
    """Hash-gated provenance MERGE: `current(subject, source_url,
    provider, retrieved_at, content_hash, request_url)` against the
    previous manifest. Output = the new manifest rows + `changed`
    (no previous entry, or the content hash differs). Iceberg MERGE INTO
    in production; the join is subject-keyed, same bucketing as every
    other identity join here."""
    ts = F.col("retrieved_at")
    cur = current.withColumn(
        "retrieved_at",
        F.when(
            ts.isNotNull() & (ts != "") & ~ts.contains("T"),
            F.concat(ts, F.lit("T00:00:00Z")),
        ).otherwise(ts),
    )
    if prev is None:
        return cur.withColumn("changed", F.lit(True))
    p = prev.select("subject", F.col("content_hash").alias("_prev_hash"))
    return (
        cur.join(p, "subject", "left")
        .withColumn(
            "changed",
            F.col("_prev_hash").isNull()
            | (F.col("_prev_hash") != F.col("content_hash")),
        )
        .drop("_prev_hash")
    )


def apply_graph_update(
    graph: DataFrame, inserts: DataFrame, deletes: DataFrame | None = None
) -> DataFrame:
    """SPARQL UPDATE semantics (kg/sparql.py:63-76 carries the verb; the
    reference's actual update workload is DELETE/INSERT upserts like
    sparql/upsert_part_anchor.sparql): apply a batch of deletes then
    inserts to a triples graph, returning the new graph state.

    ``deletes(s, p, o)`` rows are patterns — a null ``o`` is a wildcard
    (DELETE WHERE { s p ?o }). The graph is a SET, so inserts that
    already exist are no-ops (INSERT DATA idempotence). Iceberg MERGE
    INTO in production; here delete = broadcast-pattern anti-join,
    insert = anti-join union — both keyed joins, no full-graph shuffle
    beyond the delete probe."""
    kept = graph
    if deletes is not None:
        pat = deletes.select(
            F.col("s").alias("_ds"),
            F.col("p").alias("_dp"),
            F.col("o").alias("_do"),
        ).distinct()
        cond = (
            (F.col("s") == F.col("_ds"))
            & (F.col("p") == F.col("_dp"))
            & (F.col("_do").isNull() | (F.col("o") == F.col("_do")))
        )
        kept = graph.join(F.broadcast(pat), cond, "left_anti")
    new_triples = inserts.select("s", "p", "o").distinct().join(
        kept.select("s", "p", "o"), ["s", "p", "o"], "left_anti"
    )
    return kept.unionByName(new_triples)


def graph_delta(before: DataFrame, after: DataFrame) -> DataFrame:
    """(op, s, p, o) delta between two graph states — 'delete' rows
    vanished, 'insert' rows appeared (both via set anti-joins)."""
    gone = before.join(after, ["s", "p", "o"], "left_anti").select(
        F.lit("delete").alias("op"), "s", "p", "o"
    )
    added = after.join(before, ["s", "p", "o"], "left_anti").select(
        F.lit("insert").alias("op"), "s", "p", "o"
    )
    return gone.unionByName(added)


def anchor_index(anchors: DataFrame) -> DataFrame:
    """Normalize + deterministically order anchors within each part:
    `anchors(part, document_id, title, source_url, snippet,
    publication_date)` -> the same rows normalized with a 1-based
    `ordinal` following the reference's (document_id, lower(title))
    sort."""
    # str.strip() parity: ALL whitespace, not F.trim's 0x20-only. And the
    # reference's `pd.strip() if pd else None` keeps '' for a truthy
    # whitespace-only date (strip -> '') and yields None only for falsy
    # input — preserve that ''-vs-null distinction for byte-for-byte
    # manifest comparisons.
    strip = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")
    normed = anchors.select(
        "part",
        F.col("document_id"),
        strip("title").alias("title"),
        strip("source_url").alias("source_url"),
        strip(F.regexp_replace("snippet", r"\s+", " ")).alias("snippet"),
        F.when(
            F.col("publication_date").isNotNull()
            & (F.col("publication_date") != ""),
            strip("publication_date"),
        ).alias("publication_date"),
    )
    w = W.partitionBy("part").orderBy("document_id", F.lower("title"))
    return normed.withColumn("ordinal", F.row_number().over(w))
