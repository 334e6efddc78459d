"""BM25 scoring + reciprocal-rank fusion — the reference's retrieval core
re-expressed relationally.

Reference: BM25 statistics + scoring at rag/retriever_ranking.py:109-177
(k1=1.5, b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)), positive-score filter,
deterministic top-k via score bucketing at 1e-6 + stable tie key,
retriever_ranking.py:29-40); RRF fusion Σ 1/(60+rank) with per-signal rank
detail at retriever_ranking.py:190-245.

Plan shape at scale: tokenize+explode → two hash aggregations (postings tf,
doc lengths) + a tiny df aggregate that is broadcast; scoring is a join of
the postings against the (broadcast) query-term idf table; final top-k is
TakeOrderedAndProject. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens

K1 = 1.5
B = 0.75


def topk_ranked(
    df: DataFrame, order_cols: list, k: int, rank_name: str = "rank",
    tie_col: str = "doc_id",
) -> DataFrame:
    """Distributed deterministic top-k with a 1-based rank column.

    `orderBy(...).limit(k)` compiles to TakeOrderedAndProject — per-partition
    bounded heaps, no shuffle of the full set — and ONLY the ≤k survivors see
    the rank window. The naive `row_number().over(W.orderBy(...))` funnels
    every row through a single partition (WindowExec "No Partition Defined"),
    which is the scale-killer at 100 TB. The window here partitions on a
    constant-valued but non-foldable key (a plain literal is folded away and
    re-triggers the empty-partition-spec warning) so the ≤k-row exchange is
    deliberate, not accidental.
    """
    survivors = df.orderBy(*order_cols).limit(k)
    part_key = (F.crc32(F.col(tie_col).cast("string")) * F.lit(0)).alias("_pk")
    w = W.partitionBy(part_key).orderBy(*order_cols)
    return survivors.withColumn(rank_name, F.row_number().over(w))


def bm25_scores(
    docs: DataFrame, query_terms: list[str], k: int = 20, tokenizer=None
) -> DataFrame:
    """Deterministic BM25 top-k of `docs(doc_id, text)` for query_terms.

    ``tokenizer`` maps a text Column to an array<string> (default: the
    whitespace tokenizer; pass functions.text.bm25_tokens for the
    reference's TOKEN_RE + plural-stripping normalizer).

    Plan shape (checked with .explain): ONE corpus scan — per-doc length
    and per-query-term tf come out of a single explode+groupBy(doc_id)
    with pivoted tf columns (query terms are few and fixed), then one
    tiny corpus-stats aggregate (n_docs, avgdl, per-term df) broadcast
    back. The naive formulation (separate tf/df/doc-length aggregations)
    re-scans the corpus per aggregate — 8 scans at 100 TB.
    """
    tokenize = tokenizer or tokens
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    term_scores = []
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term_scores.append(
            F.when(
                tf > 0,
                idf
                * (tf * (K1 + 1))
                / (tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
            ).otherwise(F.lit(0.0))
        )
    total = term_scores[0]
    for ts in term_scores[1:]:
        total = total + ts
    scored = scored.select(
        "doc_id", F.round(total, 6).alias("score")
    ).filter(F.col("score") > 0)
    return topk_ranked(scored, [F.desc("score"), F.col("doc_id")], k).orderBy("rank")


def bm25_sql(
    query_terms: list[str], k: int = 20, table: str = "documents",
    tokenizer_sql: str | None = None,
) -> str:
    toks = tokenizer_sql or TOKENS_SQL
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term IN ({terms})
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5))
             * (tf * ({K1} + 1)) / (tf + {K1} * (1 - {B} + {B} * dl/avgdl))), 6) AS score
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id
  HAVING score > 0
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def rrf_fuse(
    ranking_a: DataFrame, ranking_b: DataFrame, k: int = 20, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of two (doc_id, rank) rankings.

    Full-outer join on doc_id; missing signals contribute nothing (the
    reference sums only present signals, retriever_ranking.py:201-223);
    per-signal ranks kept as detail columns."""
    a = ranking_a.select("doc_id", F.col("rank").alias("rank_a"))
    b = ranking_b.select("doc_id", F.col("rank").alias("rank_b"))
    fused = (
        a.join(b, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (F.lit(c) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(c) + F.col("rank_b")), F.lit(0.0)),
                6,
            ),
        )
    )
    return (
        topk_ranked(fused, [F.desc("rrf"), F.col("doc_id")], k, "fused_rank")
        .select("doc_id", "rank_a", "rank_b", "rrf", "fused_rank")
        .orderBy("fused_rank")
    )
