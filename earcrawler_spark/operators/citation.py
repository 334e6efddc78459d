"""Citation-boost policy: explicit CFR citations in the prompt force
their sections into the top-k retrieval results.

Reference: earCrawler/rag/retriever_citation_policy.py —
- extract_ear_section_targets (:12-31): `(?:§\\s*)?(\\d{3}\\.\\d+
  (?:\\([A-Za-z0-9]+\\))*)` matches in prompt order; each match yields an
  exact `EAR-<sec>` target and, when parenthesised, the `EAR-<base>`
  fallback, de-duplicated keeping first occurrence;
- canonical_section_id (:34-46): section_id/section/doc_id/id fallback
  chain, `EAR-` prefixed values keep their `#`-stripped head, everything
  else is None;
- _best_metadata_row_for_section (:49-86): among metadata rows whose
  canonical section equals the target, score +100 doc_id==target /
  +60 doc_id startswith target+'#' / +10 chunk_kind=='section' /
  +5 ordinal==0; strictly-greater wins, so ties keep the earliest row;
- apply_citation_boost (:89-137): targets already present in the results
  are skipped; surviving targets' best rows are prepended with
  score = max(result scores)+1.0 - idx*0.001 and
  boost_reason='explicit_citation'; output truncated to k.

Spark shape: the prompt is a query-time scalar, so target extraction is
a 1-row plan (regexp_extract_all + posexplode + keep-first groupBy) that
broadcasts everywhere downstream. The best-row argmax is a broadcast
join of the tiny target set against metadata + a struct-min aggregate —
metadata is never collected, so the boost works when metadata is the
full 100 TB chunk table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# Java and RE2 compatible; group 1 is the section body.
CITATION_PATTERN = r"(?:§\s*)?(\d{3}\.\d+(?:\([A-Za-z0-9]+\))*)"
BOOST_REASON = "explicit_citation"


def extract_targets(spark: SparkSession, prompt: str) -> DataFrame:
    """(target, tpos) rows in the reference's first-seen order: per match
    the exact `EAR-<sec>` target, then the parenthesis-stripped base."""
    pairs = F.flatten(
        F.transform(
            F.regexp_extract_all(F.lit(prompt), F.lit(CITATION_PATTERN), F.lit(1)),
            lambda m: F.array(
                F.concat(F.lit("EAR-"), m),
                F.when(
                    m.contains("("),
                    F.concat(F.lit("EAR-"), F.substring_index(m, "(", 1)),
                ),
            ),
        )
    )
    return (
        spark.range(1)
        .select(F.posexplode(pairs).alias("pos", "target"))
        .filter(F.col("target").isNotNull())
        .groupBy("target")
        .agg(F.min("pos").alias("tpos"))
    )


def targets_sql(prompt_expr: str) -> str:
    """The identical extraction as a DuckDB fragment producing
    (target, tpos); `prompt_expr` must be a SQL string expression."""
    return f"""
  SELECT target, min(pos) AS tpos FROM (
    SELECT generate_subscripts(pairs, 1) AS pos, unnest(pairs) AS target
    FROM (SELECT flatten(list_transform(
            regexp_extract_all({prompt_expr}, '{CITATION_PATTERN}', 1),
            m -> ['EAR-' || m,
                  CASE WHEN position('(' IN m) > 0
                       THEN 'EAR-' || split_part(m, '(', 1) END])) AS pairs)
  ) WHERE target IS NOT NULL GROUP BY target
"""


def canonical_section(raw: Column) -> Column:
    """canonical_section_id over an already-coalesced raw id column:
    `EAR-` prefixed (any case) values keep the `#`-stripped stripped
    head; everything else is null."""
    s = F.regexp_replace(raw, r"^\s+|\s+$", "")
    head = F.regexp_replace(F.substring_index(s, "#", 1), r"^\s+|\s+$", "")
    return F.when(
        s.isNotNull() & F.upper(s).startswith("EAR-"), head
    ).otherwise(F.lit(None).cast("string"))


SECTION_BODY_PATTERN = r"(?i)^(?:15\s*CFR\s*)?(?:§+\s*)?(\d{3}(?:\.\S+)?)$"


def normalize_section_full(raw: Column) -> Column:
    """The FULL normalize_section_id (retrieval_runtime.py:134-148):
    EAR-prefixed values keep their '#'-stripped head; otherwise trailing
    punctuation and leading '§' strip and a bare `ddd[.suffix]` (with
    optional '15 CFR' prefix) canonicalizes to 'EAR-<section>'; anything
    else passes through stripped; empty -> null."""
    s = F.regexp_replace(F.coalesce(raw, F.lit("")), r"^\s+|\s+$", "")
    head = F.regexp_replace(F.substring_index(s, "#", 1), r"^\s+|\s+$", "")
    cleaned = F.regexp_replace(
        F.regexp_replace(s, r"[.,;:]+$", ""), r"^§+\s*", ""
    )
    cleaned = F.regexp_replace(cleaned, r"^\s+|\s+$", "")
    body = F.regexp_extract(cleaned, SECTION_BODY_PATTERN, 1)
    return (
        F.when(s == "", F.lit(None).cast("string"))
        .when(F.upper(s).startswith("EAR-"), head)
        .when(body != "", F.concat(F.lit("EAR-"), body))
        .otherwise(s)
    )


def normalize_section_full_sql(raw_expr: str) -> str:
    s = f"regexp_replace(coalesce({raw_expr}, ''), '^\\s+|\\s+$', '', 'g')"
    head = f"regexp_replace(split_part({s}, '#', 1), '^\\s+|\\s+$', '', 'g')"
    cleaned = (
        f"regexp_replace(regexp_replace(regexp_replace({s}, '[.,;:]+$', ''), "
        f"'^§+\\s*', ''), '^\\s+|\\s+$', '', 'g')"
    )
    body = f"regexp_extract({cleaned}, '(?i)^(?:15\\s*CFR\\s*)?(?:§+\\s*)?(\\d{{3}}(?:\\.\\S+)?)$', 1)"
    return (
        f"CASE WHEN {s} = '' THEN NULL "
        f"WHEN upper({s}) LIKE 'EAR-%' THEN {head} "
        f"WHEN {body} <> '' THEN 'EAR-' || {body} "
        f"ELSE {s} END"
    )


def canonical_section_sql(raw_expr: str) -> str:
    s = f"regexp_replace({raw_expr}, '^\\s+|\\s+$', '', 'g')"
    return (
        f"CASE WHEN upper({s}) LIKE 'EAR-%' THEN "
        f"regexp_replace(split_part({s}, '#', 1), '^\\s+|\\s+$', '', 'g') END"
    )


def apply_citation_boost(
    results: DataFrame,
    metadata: DataFrame,
    targets: DataFrame,
    k: int,
) -> DataFrame:
    """results(rank, doc_id, section_id, score) + metadata(row_id,
    mdoc_id, section_id, chunk_kind, ordinal) + targets(target, tpos) ->
    the boosted top-k with (rank, doc_id, section_id, score,
    boost_reason).

    Scale: targets and the ≤k results are broadcast; metadata is only
    touched by one broadcast-joined filter + per-target struct-min
    aggregate (no collect, no window over metadata)."""
    # reference: canonical_section_id(row) or canonical_section_id(
    # {"doc_id": row["doc_id"]}) — the second call matters when the
    # row's section_id is truthy but not EAR-prefixed.
    present = results.select(
        F.coalesce(
            canonical_section(
                F.coalesce(
                    F.nullif(F.col("section_id"), F.lit("")),
                    F.nullif(F.col("doc_id").cast("string"), F.lit("")),
                )
            ),
            canonical_section(F.nullif(F.col("doc_id").cast("string"), F.lit(""))),
        ).alias("sec")
    ).filter(F.col("sec").isNotNull()).distinct()

    missing = targets.join(
        present, targets["target"] == present["sec"], "left_anti"
    )

    msec = canonical_section(
        F.coalesce(
            F.nullif(F.col("section_id"), F.lit("")),
            F.nullif(F.col("mdoc_id"), F.lit("")),
        )
    )
    cand = metadata.withColumn("_msec", msec).join(
        F.broadcast(missing), F.col("_msec") == F.col("target"), "inner"
    )
    row_score = (
        F.when(F.col("mdoc_id") == F.col("target"), F.lit(100))
        .when(
            F.col("mdoc_id").startswith(F.concat(F.col("target"), F.lit("#"))),
            F.lit(60),
        )
        .otherwise(F.lit(0))
        + F.when(F.col("chunk_kind") == "section", F.lit(10)).otherwise(F.lit(0))
        + F.when(F.col("ordinal") == 0, F.lit(5)).otherwise(F.lit(0))
    )
    best = (
        cand.select(
            "target",
            "tpos",
            F.struct(
                (-row_score).alias("neg"),
                F.col("row_id").alias("row_id"),
                F.col("mdoc_id").alias("mdoc_id"),
                F.col("section_id").alias("section_id"),
                F.col("chunk_kind").alias("chunk_kind"),
                F.col("ordinal").alias("ordinal"),
            ).alias("srow"),
        )
        .groupBy("target", "tpos")
        .agg(F.min("srow").alias("b"))
    )
    # `best` (≤ #targets rows) feeds both the boosted rows and the
    # boost-fired count — un-checkpointed, each reference re-runs the
    # metadata argmax scan.  Pays at sf0.1 beside citation_boost's results
    # pin: 1.10x as long without it (see q_citation_boost).
    best = best.localCheckpoint()

    # reference floors the bump baseline at 0.0 (initial value with a
    # strict >): all-negative result scores still bump from 0.0, not
    # from the negative max.  greatest() skips the null of an empty
    # results set.
    max_score = results.agg(
        F.greatest(F.max("score"), F.lit(0.0)).alias("mx")
    )
    # boost index = position among surviving targets in prompt order;
    # the window runs over <= #targets rows (see topk_ranked's note on
    # the non-foldable constant partition key).
    pk = (F.crc32(F.col("target")) * F.lit(0)).alias("_pk")
    widx = W.partitionBy(pk).orderBy("tpos")
    boosted = (
        best.withColumn("bidx", F.row_number().over(widx) - 1)
        .crossJoin(F.broadcast(max_score))
        .select(
            F.lit(0).alias("_grp"),
            F.col("bidx").cast("long").alias("_ord"),
            F.col("b.mdoc_id").alias("doc_id"),
            # reference: chosen.setdefault('section_id', target) — an
            # existing (even empty-string) section_id is kept; only a
            # missing one takes the target.
            F.coalesce(F.col("b.section_id"), F.col("target")).alias("section_id"),
            F.round(F.col("mx") + 1.0 - F.col("bidx") * 0.001, 6).alias("score"),
            F.lit(BOOST_REASON).alias("boost_reason"),
            F.col("b.row_id").cast("string").alias("ref_id"),
        )
    )
    base = results.select(
        F.lit(1).alias("_grp"),
        F.col("rank").cast("long").alias("_ord"),
        F.col("doc_id").cast("string").alias("doc_id"),
        "section_id",
        "score",
        F.lit(None).cast("string").alias("boost_reason"),
        F.col("doc_id").cast("string").alias("ref_id"),
    )
    # reference passthrough: with no surviving boost rows the results
    # come back UNTRUNCATED (`return results`, before the [:k] slice) —
    # the k-cap applies only when a boost actually fired.  _nb is a
    # 1-row aggregate over the ≤#targets best rows, broadcast.
    # (Ranks are still re-derived here, so a non-contiguous input rank
    # sequence would be re-numbered; callers feed contiguous top-k.)
    nb = best.agg(F.count(F.lit(1)).alias("_nb"))
    out = boosted.unionByName(base).crossJoin(F.broadcast(nb))
    pk2 = (F.crc32(F.col("doc_id")) * F.lit(0)).alias("_pk")
    w = W.partitionBy(pk2).orderBy("_grp", "_ord")
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter((F.col("_nb") == 0) | (F.col("rank") <= max(1, k)))
        .select("rank", "doc_id", "section_id", "score", "boost_reason", "ref_id")
    )
