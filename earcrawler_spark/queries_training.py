"""Query batch — training-data PIPELINE operators, part 2 (brief
§LLM-pipeline: operations a large-scale training-data pipeline needs
beyond the reference's own surface; part 1 is queries_curation.py).

- ``shard_packing``      greedy token-budget shard assignment (prefix sum)
- ``temperature_mix``    temperature-scaled source sampling weights
- ``chunk_dedup``        C4-style duplicated-span (8-token chunk) audit
- ``unigram_quality``    corpus unigram-LM per-doc quality scoring
- ``semdedup``           semantic dedup inside trained IVF clusters
- ``embedding_outliers`` mean-direction embedding outlier detection

Scale notes (100 TB / 1000 executors):
- shard_packing's prefix sum is windowed PER LANGUAGE (the shard streams
  are per-lang), so no global sort — at real scale each lang partition
  range-partitions by doc_id and the classic two-phase prefix sum
  (per-partition totals -> broadcast offsets) keeps it one shuffle.
- temperature_mix / unigram_quality reduce to a tiny per-source / vocab
  aggregate that is broadcast back; the corpus side streams once.
- chunk_dedup shuffles once on the chunk hash (same key pattern as
  dedup_exact); chunk texts are fixed-width so skew is bounded.
- semdedup confines the quadratic cosine join to WITHIN a coarse
  k-means cluster (the SemDedup recipe): pair count drops from O(n^2)
  to sum_c |c|^2, and each cluster's pairs co-locate under one shuffle
  key. embedding_outliers is a broadcast of one 64-float mean vector.

Determinism / oracle stability: every float that reaches the hash is
either a single IEEE operation on exact integers, an ordered array fold
(Spark F.aggregate == DuckDB list_aggregate, element order fixed), or a
fixed-point micro-integer sum (round(x,6)*1e6 -> BIGINT) so sums are
exact and order-independent on both engines (round-5 version-stable SQL
rules: no DECIMAL literals, no median/ROLLUP/list-aggregate chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens
from earcrawler_spark.session import table

TRAINING_QUERIES: dict = {}
TRAINING_ORACLES: dict = {}



# --- shard_packing ----------------------------------------------------------
SHARD_BUDGET = 1024  # tokens per shard


def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into fixed-token-budget
    shards, one shard stream per language: a doc goes to the shard its
    cumulative-token prefix starts in (docs may overflow the boundary —
    the standard deterministic packing that needs no bin-packing state).
    Pure function of (lang, doc_id, n_tok): stable under re-runs and
    cluster size. Emits per-shard manifests."""
    docs = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = docs.select(
        "lang",
        "doc_id",
        "n_tok",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")).cast("double")
            / F.lit(SHARD_BUDGET).cast("double")
        )
        .cast("bigint")
        .alias("shard_no"),
    )
    return (
        packed.groupBy("lang", "shard_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "lang",
            "shard_no",
            "n_docs",
            "shard_tokens",
            "first_doc",
            "last_doc",
            F.round(
                F.col("shard_tokens").cast("double")
                / F.lit(SHARD_BUDGET).cast("double"),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("lang", "shard_no")
    )


_SQL_SHARD_PACKING = f"""
WITH toks AS (
  SELECT lang, doc_id, len({TOKENS_SQL}) AS n_tok FROM documents
), packed AS (
  SELECT lang, doc_id, n_tok,
         CAST(floor(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS DOUBLE)
              / CAST({SHARD_BUDGET} AS DOUBLE)) AS BIGINT) AS shard_no
  FROM toks
)
SELECT lang, shard_no, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(CAST(sum(n_tok) AS DOUBLE) / CAST({SHARD_BUDGET} AS DOUBLE), 6) AS fill_ratio
FROM packed GROUP BY lang, shard_no
ORDER BY lang, shard_no
"""


# --- temperature_mix --------------------------------------------------------
MIX_TARGET_TOKENS = 1_000_000  # tokens drawn per sampling epoch


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (alpha = 0.5, i.e. sqrt
    up/down-weighting — the multilingual-corpus sampling standard):
    per-source token counts c_i -> weight sqrt(c_i) / sum_j sqrt(c_j),
    sampled tokens for a 1M-token epoch, and the implied epochs-over-
    source rate (>1 = the source repeats). sqrt is IEEE-exact and the
    weight denominator is a fixed-point micro-integer sum, so every
    emitted float is engine-stable."""
    per_src = (
        table(spark, sf_dir, "documents")
        .select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tokens"))
        .withColumn(
            "sw",
            F.round(
                F.sqrt(F.col("tokens").cast("double")) * F.lit(1_000_000.0), 0
            ).cast("bigint"),
        )
    )
    total = per_src.agg(F.sum("sw").alias("total_sw"))
    wgt = F.col("sw").cast("double") / F.col("total_sw")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(wgt, 6).alias("mix_weight"),
            F.round(wgt * F.lit(float(MIX_TARGET_TOKENS)), 0)
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .withColumn(
            "epochs",
            F.round(
                F.col("sampled_tokens").cast("double") / F.col("tokens"), 4
            ),
        )
        .orderBy("source")
    )


_SQL_TEMPERATURE_MIX = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), sw AS (
  SELECT source, n_docs, tokens,
         CAST(round(sqrt(CAST(tokens AS DOUBLE)) * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS sw
  FROM per_src
), tot AS (
  SELECT CAST(sum(sw) AS BIGINT) AS total_sw FROM sw
)
SELECT source, n_docs, tokens,
       round(CAST(sw AS DOUBLE) / total_sw, 6) AS mix_weight,
       CAST(round(CAST(sw AS DOUBLE) / total_sw * CAST({MIX_TARGET_TOKENS} AS DOUBLE), 0) AS BIGINT)
         AS sampled_tokens,
       round(CAST(CAST(round(CAST(sw AS DOUBLE) / total_sw * CAST({MIX_TARGET_TOKENS} AS DOUBLE), 0) AS BIGINT) AS DOUBLE)
             / tokens, 4) AS epochs
FROM sw CROSS JOIN tot
ORDER BY source
"""


# --- chunk_dedup ------------------------------------------------------------
CHUNK_TOKENS = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span audit: split each doc into
    non-overlapping 8-token chunks; a chunk occurrence is a duplicate
    when the same 8-token text already occurred earlier in (doc_id,
    chunk_no) order anywhere in the corpus. Emits the per-doc duplicate
    load (the rows a span-dedup pass would rewrite). One shuffle on the
    chunk text — the exact-dedup key pattern at corpus scale."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    ).withColumn("chunk_no", F.floor(F.col("pos") / F.lit(CHUNK_TOKENS)))
    chunks = (
        tk.groupBy("doc_id", "chunk_no")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "t"))).alias("ps"))
        .filter(F.size("ps") == CHUNK_TOKENS)
        .select(
            "doc_id",
            "chunk_no",
            F.array_join(
                F.transform(F.col("ps"), lambda s: s["t"]), " "
            ).alias("chunk_text"),
        )
    )
    occ = chunks.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("chunk_text").orderBy("doc_id", "chunk_no")
        ),
    )
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            F.round(
                F.col("dup_chunks").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


_SQL_CHUNK_DEDUP = f"""
WITH tk AS (
  SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS t
  FROM (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents)
), chunks AS (
  SELECT doc_id, CAST(floor(pos / {CHUNK_TOKENS}) AS BIGINT) AS chunk_no,
         string_agg(t, ' ' ORDER BY pos) AS chunk_text,
         count(*) AS n_tok
  FROM tk GROUP BY doc_id, CAST(floor(pos / {CHUNK_TOKENS}) AS BIGINT)
), occ AS (
  SELECT doc_id, chunk_no, chunk_text,
         row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_no) AS rn
  FROM chunks WHERE n_tok = {CHUNK_TOKENS}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
FROM occ GROUP BY doc_id
ORDER BY doc_id
"""


# --- unigram_quality --------------------------------------------------------
# Quality bands on avg token log-prob (natural log); thresholds sized on
# the synthetic corpus so all three bands are populated.
QUALITY_HI = -3.4
QUALITY_LO = -3.41


def q_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM quality score per document: build the unigram
    LM over the whole corpus (token -> ln(count/total)), score each doc
    by its mean token log-prob, band into high/mid/low. The LM is a
    broadcast dim (vocab aggregate); per-token log-probs are fixed-point
    micro-integers so the per-doc sum is exact on both engines. At 100 TB
    the vocab gets a min-count threshold + OOV floor — same plan shape."""
    tk = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    vocab = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    lm = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "t",
            F.round(
                F.log(F.col("c").cast("double") / F.col("total"))
                * F.lit(1_000_000.0),
                0,
            )
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    avg_lp = (
        F.col("s").cast("double")
        / F.col("n_tok").cast("double")
        / F.lit(1_000_000.0)
    )
    return (
        tk.join(F.broadcast(lm), "t")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("lp_micro").alias("s"))
        .select(
            "doc_id",
            "n_tok",
            F.round(avg_lp, 6).alias("avg_logp"),
            F.when(F.round(avg_lp, 6) >= QUALITY_HI, "high")
            .when(F.round(avg_lp, 6) >= QUALITY_LO, "mid")
            .otherwise("low")
            .alias("band"),
        )
        .orderBy("doc_id")
    )


_SQL_UNIGRAM_QUALITY = f"""
WITH tk AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents
), vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY t
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab
), lm AS (
  SELECT t, CAST(round(ln(CAST(c AS DOUBLE) / total) * CAST(1000000 AS DOUBLE), 0) AS BIGINT)
           AS lp_micro
  FROM vocab CROSS JOIN tot
), scored AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(lm.lp_micro) AS BIGINT) AS s
  FROM tk JOIN lm ON tk.t = lm.t
  GROUP BY tk.doc_id
)
SELECT doc_id, n_tok,
       round(CAST(s AS DOUBLE) / CAST(n_tok AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) AS avg_logp,
       CASE WHEN round(CAST(s AS DOUBLE) / CAST(n_tok AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
                 >= {QUALITY_HI} THEN 'high'
            WHEN round(CAST(s AS DOUBLE) / CAST(n_tok AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
                 >= {QUALITY_LO} THEN 'mid'
            ELSE 'low' END AS band
FROM scored
ORDER BY doc_id
"""


# --- semdedup ---------------------------------------------------------------
SEMDEDUP_T = 0.35


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023 recipe): train the coarse quantizer
    (same deterministic spherical k-means as ann_ivf_lists), then do the
    quadratic cosine comparison only WITHIN each cluster; a vector is
    removed when a lower-id cluster-mate has cosine >= 0.35. Emits the
    removal list with its best keeper. At 100 TB the within-cluster join
    co-locates on centroid_id (one shuffle) and per-cluster pair counts
    replace the corpus-wide O(n^2)."""
    from earcrawler_spark.operators.similarity import dot, ivf_assign
    from earcrawler_spark.queries_tokens import trained_centroids

    emb = table(spark, sf_dir, "embeddings")
    cents = trained_centroids(spark, sf_dir)
    assigned = ivf_assign(emb, cents).select("vec_id", "centroid_id")
    # per-vector norm computed ONCE (sqrt(dot(v,v)) is deterministic per
    # vector, so dot/(a.nrm*b.nrm) is float-identical to the inline
    # cosine the oracle uses, at a third of the per-pair fold work)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .join(assigned, "vec_id")
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.centroid_id").alias("centroid_id"),
            F.col("a.vec_id").alias("partner"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_T)
    )
    return (
        pairs.groupBy("vec_id", "centroid_id")
        .agg(
            F.min("partner").alias("keeper"),
            F.max("cos").alias("max_cos"),
            F.count(F.lit(1)).alias("n_partners"),
        )
        .orderBy("vec_id")
    )


def _semdedup_sql() -> str:
    from earcrawler_spark.queries_tokens import IVF_ITERS, IVF_K, kmeans_cents_sql

    chain, cents = kmeans_cents_sql(k=IVF_K, iters=IVF_ITERS)

    def dot(x: str, y: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({x})+1), "
            f"i -> {x}[i]*{y}[i]), 'sum')"
        )

    def cos(x: str, y: str) -> str:
        return f"({dot(x, y)} / (sqrt({dot(x, x)}) * sqrt({dot(y, y)})))"

    return f"""
WITH {chain},
raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT raw.vec_id, raw.v, c.centroid_id AS cid,
           row_number() OVER (PARTITION BY raw.vec_id
             ORDER BY round({cos('raw.v', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
    FROM raw, {cents} c) WHERE rn = 1
), pairs AS (
  SELECT b.vec_id AS vec_id, b.centroid_id AS centroid_id,
         a.vec_id AS partner, round({cos('a.v', 'b.v')}, 6) AS cos
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({cos('a.v', 'b.v')}, 6) >= {SEMDEDUP_T}
)
SELECT vec_id, centroid_id, min(partner) AS keeper,
       max(cos) AS max_cos, CAST(count(*) AS BIGINT) AS n_partners
FROM pairs GROUP BY vec_id, centroid_id
ORDER BY vec_id
"""


# --- curriculum_order -------------------------------------------------------


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule over the packed shards: score each
    (lang, shard) by its token-weighted unigram-LM log-prob (the
    unigram_quality signal — higher = more typical = easier), rank
    shards easiest-first WITHIN each language, and band into
    easy/medium/hard terciles — the standard easy-to-hard data
    curriculum, derived entirely from corpus statistics.

    Scale shape: reuses shard_packing's per-lang prefix-sum window and
    unigram_quality's broadcast vocab LM; the per-shard rollup is one
    small aggregate and the rank window is partitioned by lang."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "lang", "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    vocab = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(
            F.log(F.col("c").cast("double") / F.col("total"))
            * F.lit(1_000_000.0),
            0,
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    per_doc = (
        tk.join(F.broadcast(lm), "t")
        .groupBy("lang", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("lp_micro").alias("s"))
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = per_doc.select(
        "lang",
        "n_tok",
        "s",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")).cast("double")
            / F.lit(SHARD_BUDGET).cast("double")
        )
        .cast("bigint")
        .alias("shard_no"),
    )
    avg_lp = (
        F.col("s_sum").cast("double")
        / F.col("tok_sum").cast("double")
        / F.lit(1_000_000.0)
    )
    shards = packed.groupBy("lang", "shard_no").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tok_sum"),
        F.sum("s").alias("s_sum"),
    )
    rank_w = W.partitionBy("lang").orderBy(
        F.desc(F.round(avg_lp, 6)), "shard_no"
    )
    n_w = W.partitionBy("lang")
    ranked = shards.select(
        "lang",
        "shard_no",
        "n_docs",
        F.col("tok_sum").alias("shard_tokens"),
        F.round(avg_lp, 6).alias("avg_logp"),
        F.row_number().over(rank_w).alias("curriculum_rank"),
        F.count(F.lit(1)).over(n_w).alias("n_shards"),
    )
    phase = (
        F.when(
            F.col("curriculum_rank") * 3 <= F.col("n_shards"), "easy"
        )
        .when(F.col("curriculum_rank") * 3 <= F.col("n_shards") * 2, "medium")
        .otherwise("hard")
    )
    return (
        ranked.select(
            "lang",
            "shard_no",
            "n_docs",
            "shard_tokens",
            "avg_logp",
            "curriculum_rank",
            phase.alias("phase"),
        )
        .orderBy("lang", "curriculum_rank")
    )


_SQL_CURRICULUM = f"""
WITH tk AS (
  SELECT lang, doc_id, unnest({TOKENS_SQL}) AS t FROM documents
), vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY t
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab
), lm AS (
  SELECT t, CAST(round(ln(CAST(c AS DOUBLE) / total) * CAST(1000000 AS DOUBLE), 0) AS BIGINT)
           AS lp_micro
  FROM vocab CROSS JOIN tot
), per_doc AS (
  SELECT tk.lang, tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(lm.lp_micro) AS BIGINT) AS s
  FROM tk JOIN lm ON tk.t = lm.t
  GROUP BY tk.lang, tk.doc_id
), packed AS (
  SELECT lang, n_tok, s,
         CAST(floor(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS DOUBLE)
              / CAST({SHARD_BUDGET} AS DOUBLE)) AS BIGINT) AS shard_no
  FROM per_doc
), shards AS (
  SELECT lang, shard_no, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tok_sum, CAST(sum(s) AS BIGINT) AS s_sum
  FROM packed GROUP BY lang, shard_no
), ranked AS (
  SELECT lang, shard_no, n_docs, tok_sum AS shard_tokens,
         round(CAST(s_sum AS DOUBLE) / CAST(tok_sum AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
           AS avg_logp,
         row_number() OVER (PARTITION BY lang
           ORDER BY round(CAST(s_sum AS DOUBLE) / CAST(tok_sum AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) DESC,
                    shard_no) AS curriculum_rank,
         count(*) OVER (PARTITION BY lang) AS n_shards
  FROM shards
)
SELECT lang, shard_no, n_docs, shard_tokens, avg_logp, curriculum_rank,
       CASE WHEN curriculum_rank * 3 <= n_shards THEN 'easy'
            WHEN curriculum_rank * 3 <= n_shards * 2 THEN 'medium'
            ELSE 'hard' END AS phase
FROM ranked
ORDER BY lang, curriculum_rank
"""


# --- semantic_decontamination ----------------------------------------------
SEM_DECON_T = 0.35


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic twin of
    the n-gram `decontamination` query: flag pool vectors whose cosine
    to ANY eval-slice vector (vec_id % 37 == 0, the slice the n-gram
    check protects) reaches 0.35, with the closest eval item and hit
    count.  Catches paraphrased leakage that shingle overlap misses.

    Scale shape: the eval side is the benchmark suite — bounded and
    small by construction — so it broadcasts and the pool streams once
    (knn_bruteforce's plan shape); per-vector norms are precomputed so
    each pair costs one fold."""
    from earcrawler_spark.operators.similarity import dot

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    ev = e.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev"),
        F.col("nrm").alias("enrm"),
    )
    pool = e.filter(F.col("vec_id") % 37 != 0)
    hits = (
        pool.crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            "eval_id",
            F.round(
                dot(F.col("v"), F.col("ev"))
                / (F.col("nrm") * F.col("enrm")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEM_DECON_T)
    )
    return (
        hits.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
            F.min(
                F.struct((-F.col("cos")).alias("negcos"), "eval_id")
            ).alias("best"),
        )
        .select(
            "vec_id",
            "n_eval_hits",
            "max_cos",
            F.col("best.eval_id").alias("closest_eval"),
        )
        .orderBy("vec_id")
    )


def _sem_decon_sql() -> str:
    d = ("list_aggregate(list_transform(range(1, len({a})+1), "
         "i -> {a}[i]*{b}[i]), 'sum')")
    cos = (f"round({d.format(a='p.v', b='q.v')} / "
           f"(sqrt({d.format(a='p.v', b='p.v')}) * "
           f"sqrt({d.format(a='q.v', b='q.v')})), 6)")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), hits AS (
  SELECT p.vec_id, q.vec_id AS eval_id, {cos} AS cos
  FROM e p JOIN e q
    ON p.vec_id % 37 <> 0 AND q.vec_id % 37 = 0
  WHERE {cos} >= {SEM_DECON_T}
), ranked AS (
  SELECT vec_id, eval_id,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY cos DESC, eval_id) AS rn
  FROM hits
), agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
         max(cos) AS max_cos
  FROM hits GROUP BY vec_id
)
SELECT a.vec_id, a.n_eval_hits, a.max_cos, r.eval_id AS closest_eval
FROM agg a JOIN ranked r ON r.vec_id = a.vec_id AND r.rn = 1
ORDER BY a.vec_id
"""


# --- embedding_outliers -----------------------------------------------------
OUTLIER_COS_T = -0.2


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-direction embedding outliers: vectors whose cosine to the
    corpus mean direction is <= -0.2 (anti-aligned with the bulk — the
    cheap first-pass filter for corrupt / off-distribution embeddings
    before ANN indexing). The mean vector is a 64-float broadcast; the
    corpus side streams once. Mean components are rounded to 6 dp before
    the (ordered-fold, engine-exact) cosine so the hash is stable."""
    from earcrawler_spark.operators.similarity import cosine

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    mean_vec = (
        e.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("mv")
        )
    )
    return (
        e.crossJoin(F.broadcast(mean_vec))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("mv")), 6).alias("cos_mean"),
        )
        .filter(F.col("cos_mean") <= OUTLIER_COS_T)
        .orderBy("vec_id")
    )


_SQL_EMBEDDING_OUTLIERS = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
), m AS (
  SELECT list(m ORDER BY dim) AS mv
  FROM (SELECT dim, round(avg(x), 6) AS m FROM dims GROUP BY dim)
), scored AS (
  SELECT vec_id, label,
         round(list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*mv[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), 'sum'))
                * sqrt(list_aggregate(list_transform(range(1, len(mv)+1), i -> mv[i]*mv[i]), 'sum'))), 6)
           AS cos_mean
  FROM e CROSS JOIN m
)
SELECT vec_id, label, cos_mean FROM scored
WHERE cos_mean <= {OUTLIER_COS_T}
ORDER BY vec_id
"""


# --- bpe_merges -------------------------------------------------------------
BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    the first 8 merge rules over the corpus word-count table.  Words are
    represented as bracket-wrapped symbol strings ``(c)(h)(a)(r)(</w>)``
    so non-overlapping left-to-right ``replace`` of ``(l)(r)`` with
    ``(lr)`` is EXACTLY BPE's greedy merge application (no shared
    boundary chars between adjacent matches, no cross-symbol substring
    collisions — symbols never contain parens because words are
    pre-filtered to ``[a-z0-9]+``).

    Scale shape: classic distributed BPE trains on the DISTINCT-word
    count table (vocab-sized, not corpus-sized — the corpus is touched
    once to build it); each round is one partial-aggregated pair count
    plus a 1-row argmax collected to the driver (the merge rule is a
    scalar, same contract as k-means centroids), then a codegen'd
    string replace over the vocab.  localCheckpoint per round keeps
    lineage flat.  Emits the ordered merge table."""
    merges, _ = _train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("merge_rank")


def _bpe_syms():  # lazy: F.expr needs an active SparkContext
    return F.split(F.expr("substring(repr, 2, length(repr)-2)"), r"\)\(")


def _train_bpe(spark: SparkSession, sf_dir: str):
    """Run the merge-learning loop once per (session, sf_dir); both
    bpe_merges and bpe_segment serve off the result.  Returns
    (merge list, final vocab DataFrame (w, repr, cnt))."""
    from earcrawler_spark.session import shared_frame

    return shared_frame(
        spark, sf_dir, "bpe_train", lambda: _bpe_train_pass(spark, sf_dir)
    )


def _bpe_train_pass(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = wc.select(
        "w",
        F.expr(
            "concat(array_join(transform(sequence(1, length(w)), "
            "i -> concat('(', substr(w, i, 1), ')')), ''), '(</w>)')"
        ).alias("repr"),
        "cnt",
    ).localCheckpoint()
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        syms = _bpe_syms()
        n_pairs = F.greatest(F.size(syms) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(syms, 1, n_pairs),
            F.slice(syms, 2, n_pairs),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        top = (
            words.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.desc("total"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:  # vocab fully merged — mirrors the oracle's empty best_r
            break
        (best,) = top
        l, r = best["l"], best["r"]
        merges.append((rank, l, r, l + r, best["total"]))
        words = words.select(
            "w",
            F.replace(
                F.col("repr"), F.lit(f"({l})({r})"), F.lit(f"({l + r})")
            ).alias("repr"),
            "cnt",
        ).localCheckpoint()
    return merges, words


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation under the trained tokenizer: apply the learned
    merges (shared with bpe_merges off one training pass) and emit
    per-document subword statistics — alnum word count, subword count
    (incl. the ``</w>`` marker when unmerged, the standard BPE
    end-of-word convention), chars-per-subword compression.  Scale
    shape: the segmented vocab is a broadcast dim (distinct words);
    the corpus side explodes once and aggregates by doc_id."""
    _, words = _train_bpe(spark, sf_dir)
    word_sub = words.select("w", F.size(_bpe_syms()).alias("n_sub"))
    tk = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
    )
    ratio_sub = F.col("n_subwords").cast("double") / F.col("n_words").cast(
        "double"
    )
    ratio_cmp = F.col("n_chars").cast("double") / F.col("n_subwords").cast(
        "double"
    )
    return (
        tk.join(F.broadcast(word_sub), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.sum(F.length("w")).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subwords",
            "n_chars",
            F.round(ratio_sub, 6).alias("subwords_per_word"),
            F.round(ratio_cmp, 6).alias("chars_per_subword"),
        )
        .orderBy("doc_id")
    )


def _bpe_chain_sql(n_merges: int = BPE_MERGES) -> str:
    """The merge rounds unrolled as CTEs (shared by the bpe_merges and
    bpe_segment oracles) — each round recomputes pair totals from the
    current vocab, picks the (total DESC, l, r) argmax, and applies the
    bracket-replace.  Ends with words{n_merges} = (w, repr, cnt)."""
    head = f"""toks AS (
  SELECT unnest({TOKENS_SQL}) AS w FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks
  WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w
), words0 AS (
  SELECT w, array_to_string(list_transform(range(1, len(w)+1),
           i -> '(' || substr(w, i, 1) || ')'), '') || '(</w>)' AS repr, cnt
  FROM wc
)"""
    rounds = []
    for r in range(1, n_merges + 1):
        prev = f"words{r - 1}"
        rounds.append(f""", syms{r} AS (
  SELECT string_split(substr(repr, 2, len(repr) - 2), ')(') AS syms, cnt
  FROM {prev}
), pairs{r} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS total
  FROM syms{r}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY syms[i], syms[i+1]
), best{r} AS (
  SELECT l, r, total FROM pairs{r} ORDER BY total DESC, l, r LIMIT 1
), words{r} AS (
  SELECT v.w, replace(v.repr, '(' || b.l || ')(' || b.r || ')',
                 '(' || b.l || b.r || ')') AS repr, v.cnt
  FROM {prev} v CROSS JOIN best{r} b
)""")
    return head + "".join(rounds)


def _bpe_sql(n_merges: int = BPE_MERGES) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, total AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "\nWITH " + _bpe_chain_sql(n_merges) + "\n" + union
        + "\nORDER BY merge_rank"
    )


def _bpe_segment_sql(n_merges: int = BPE_MERGES) -> str:
    return f"""
WITH {_bpe_chain_sql(n_merges)},
word_sub AS (
  SELECT w, CAST(len(string_split(substr(repr, 2, len(repr) - 2), ')(')) AS INT)
           AS n_sub
  FROM words{n_merges}
), tk AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS w FROM documents
), agg AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(ws.n_sub) AS BIGINT) AS n_subwords,
         CAST(sum(len(tk.w)) AS BIGINT) AS n_chars
  FROM tk JOIN word_sub ws ON tk.w = ws.w
  WHERE regexp_matches(tk.w, '^[a-z0-9]+$')
  GROUP BY tk.doc_id
)
SELECT doc_id, n_words, n_subwords, n_chars,
       round(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         AS subwords_per_word,
       round(CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE), 6)
         AS chars_per_subword
FROM agg
ORDER BY doc_id
"""


# --- dsir_weights -----------------------------------------------------------
DSIR_B = 256  # hashed feature buckets (first two sha256 hex digits)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, *Data Selection for
    Language Models via Importance Resampling*): hashed n-gram features
    (unigrams + bigrams -> 256 sha-derived buckets), bucket unigram LMs
    for the target domain (the eval slice, doc_id % 37 == 0 — the same
    slice `decontamination` protects) and the raw source pool, and a
    per-document log importance weight
    ``sum_f count(f) * (ln p_target(f) - ln p_source(f))`` with add-one
    smoothing.  Docs banded target_like/source_like at the zero
    crossing; downstream sampling keeps weight-proportional draws.

    Scale shape: the bucket LM is a 256-row broadcast dim; the corpus
    side streams once through explode -> join -> per-doc sum (one
    shuffle on doc_id).  Per-bucket log-probs are fixed-point
    micro-integers so the per-doc sum is exact on both engines."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 37 == 0).alias("is_target"),
        tokens(F.col("text")).alias("ts"),
    )
    n1 = F.col("ts")
    n2 = F.zip_with(
        F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))),
        F.slice(F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    occ = docs.select(
        "doc_id",
        "is_target",
        F.explode(F.concat(n1, n2)).alias("f"),
    ).select(
        "doc_id",
        "is_target",
        F.conv(F.substring(F.sha2(F.col("f"), 256), 1, 2), 16, 10)
        .cast("bigint")
        .alias("bucket"),
    )
    stats = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("c_s"),
    )
    totals = stats.agg(
        F.sum("c_t").alias("tot_t"), F.sum("c_s").alias("tot_s")
    )

    def lp(c: str, tot: str):  # noqa: ANN202
        return F.round(
            F.log(
                (F.col(c) + 1).cast("double")
                / (F.col(tot) + DSIR_B).cast("double")
            )
            * F.lit(1_000_000.0),
            0,
        ).cast("bigint")

    lm = stats.crossJoin(F.broadcast(totals)).select(
        "bucket", (lp("c_t", "tot_t") - lp("c_s", "tot_s")).alias("d_micro")
    )
    ratio = F.col("s").cast("double") / F.lit(1_000_000.0)
    return (
        occ.filter(~F.col("is_target"))
        .join(F.broadcast(lm), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("d_micro").alias("s"))
        .select(
            "doc_id",
            "n_feats",
            F.round(ratio, 6).alias("log_ratio"),
            F.when(F.round(ratio, 6) > 0, "target_like")
            .otherwise("source_like")
            .alias("band"),
        )
        .orderBy("doc_id")
    )


_DSIR_BUCKET = (
    "(16 * (strpos('0123456789abcdef', substr(sha, 1, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(sha, 2, 1)) - 1))"
)

_SQL_DSIR = f"""
WITH base AS (
  SELECT doc_id, (doc_id % 37 = 0) AS is_target, {TOKENS_SQL} AS ts
  FROM documents
), feats AS (
  SELECT doc_id, is_target, unnest(ts) AS f FROM base
  UNION ALL
  SELECT doc_id, is_target,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS f
  FROM base
), occ AS (
  SELECT doc_id, is_target,
         CAST({_DSIR_BUCKET} AS BIGINT) AS bucket
  FROM (SELECT doc_id, is_target, sha256(f) AS sha FROM feats)
), stats AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS c_s
  FROM occ GROUP BY bucket
), tot AS (
  SELECT CAST(sum(c_t) AS BIGINT) AS tot_t, CAST(sum(c_s) AS BIGINT) AS tot_s
  FROM stats
), lm AS (
  SELECT bucket,
         CAST(round(ln(CAST(c_t + 1 AS DOUBLE) / CAST(tot_t + {DSIR_B} AS DOUBLE))
                    * CAST(1000000 AS DOUBLE), 0) AS BIGINT)
         - CAST(round(ln(CAST(c_s + 1 AS DOUBLE) / CAST(tot_s + {DSIR_B} AS DOUBLE))
                      * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS d_micro
  FROM stats CROSS JOIN tot
), scored AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(lm.d_micro) AS BIGINT) AS s
  FROM occ o JOIN lm ON o.bucket = lm.bucket
  WHERE NOT o.is_target
  GROUP BY o.doc_id
)
SELECT doc_id, n_feats,
       round(CAST(s AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) AS log_ratio,
       CASE WHEN round(CAST(s AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) > 0
            THEN 'target_like' ELSE 'source_like' END AS band
FROM scored
ORDER BY doc_id
"""


TRAINING_QUERIES.update(
    {
        "shard_packing": q_shard_packing,
        "temperature_mix": q_temperature_mix,
        "chunk_dedup": q_chunk_dedup,
        "unigram_quality": q_unigram_quality,
        "semdedup": q_semdedup,
        "semantic_decontamination": q_semantic_decontamination,
        "curriculum_order": q_curriculum_order,
        "embedding_outliers": q_embedding_outliers,
        "dsir_weights": q_dsir_weights,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
    }
)

TRAINING_ORACLES.update(
    {
        "shard_packing": _SQL_SHARD_PACKING,
        "temperature_mix": _SQL_TEMPERATURE_MIX,
        "chunk_dedup": _SQL_CHUNK_DEDUP,
        "unigram_quality": _SQL_UNIGRAM_QUALITY,
        "semdedup": _semdedup_sql(),
        "semantic_decontamination": _sem_decon_sql(),
        "curriculum_order": _SQL_CURRICULUM,
        "embedding_outliers": _SQL_EMBEDDING_OUTLIERS,
        "dsir_weights": _SQL_DSIR,
        "bpe_merges": _bpe_sql(),
        "bpe_segment": _bpe_segment_sql(),
    }
)
