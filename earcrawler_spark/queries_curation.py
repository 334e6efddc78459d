"""Query batch — training-data CURATION operators (brief §LLM-pipeline:
the operations a large-scale training-data pipeline needs beyond the
reference's own surface).  First-class ops over `documents`:

- ``dataset_split``     deterministic hash split (train/val/test) + stats
- ``decontamination``   benchmark-overlap check (8-gram shingle join)
- ``repetition_quality`` Gopher-style repetition filters per document
- ``stratified_sample`` deterministic per-language quota sample
- ``source_mix``        per-source corpus composition / dup-rate audit
- ``weighted_sample``   Efraimidis-Spirakis deterministic weighted sample
- round-6 reporting batch: ``token_length_histogram`` (packing planning),
  ``ttr_hapax`` (per-source vocabulary health),
  ``contamination_by_source`` (decontamination rollup at drop/keep
  granularity), ``lang_source_matrix`` (mix report)

All plans are shuffle-minimal: per-doc work is key-partitioned
(posexplode + windows partitioned by doc_id — no global sorts), the
benchmark side of the decontamination join is broadcast (eval sets stay
small even at 100 TB corpora), and corpus totals enter via a broadcast
1-row aggregate.  Oracles follow the round-5 version-stable SQL rules
(CAST(x AS DOUBLE) single divisions, no list-aggregate chains in
hash-relevant positions, no median/ROLLUP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens, tokens_sql
from earcrawler_spark.operators.similarity import shingle_rows
from earcrawler_spark.session import table

CURATION_QUERIES: dict = {}
CURATION_ORACLES: dict = {}


# --- dataset_split ---------------------------------------------------------
# First hex byte of sha256(doc_id) → 256 buckets; lexicographic compare on
# fixed-width lowercase hex equals numeric compare, so ONE string predicate
# runs identically in Spark and DuckDB.  cc=204 → ~79.7% train, e6=230 →
# ~10.2% val, rest test.
_TRAIN_HI = "cc"
_VAL_HI = "e6"


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-free id hash —
    the standard reproducible-split op for training corpora.  The split
    is a pure function of doc_id (stable under re-partitioning, re-runs
    and cluster size), so downstream epochs see an identical split with
    zero coordination state."""
    docs = table(spark, sf_dir, "documents")
    h = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    split = (
        F.when(h < _TRAIN_HI, "train").when(h < _VAL_HI, "val").otherwise("test")
    )
    per_split = (
        docs.select(
            split.alias("split"),
            F.size(tokens(F.col("text"))).alias("n_tok"),
            F.col("n_chars"),
            F.col("lang"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("ws_tokens"),
            F.countDistinct("lang").alias("distinct_langs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )
    total = per_split.agg(F.sum("ws_tokens").alias("total_tokens"))
    return (
        per_split.crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_docs",
            "ws_tokens",
            "distinct_langs",
            "avg_chars",
            F.round(
                F.col("ws_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("token_share"),
        )
        .orderBy("split")
    )


_SQL_DATASET_SPLIT = f"""
WITH tagged AS (
  SELECT CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_HI}' THEN 'train'
              WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_HI}' THEN 'val'
              ELSE 'test' END AS split,
         len({TOKENS_SQL}) AS n_tok, n_chars, lang
  FROM documents
), per_split AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS ws_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS distinct_langs,
         round(avg(n_chars), 4) AS avg_chars
  FROM tagged GROUP BY split
), tot AS (
  SELECT CAST(sum(ws_tokens) AS BIGINT) AS total_tokens FROM per_split
)
SELECT split, n_docs, ws_tokens, distinct_langs, avg_chars,
       round(CAST(ws_tokens AS DOUBLE) / total_tokens, 6) AS token_share
FROM per_split CROSS JOIN tot
ORDER BY split
"""


# --- decontamination -------------------------------------------------------
DECON_N = 8
_EVAL_MOD = 37


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-gram word shingle with the held-out eval slice (doc_id % 37 == 0
    models the benchmark set).  The eval side is broadcast — benchmark
    suites stay O(10^4-10^5) documents even when the training corpus is
    100 TB, so the contamination check is one broadcast-hash probe per
    training-doc shingle, no shuffle of the big side."""
    docs = table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, DECON_N)
    is_eval = (F.col("doc_id") % _EVAL_MOD) == 0
    ev = sh.filter(is_eval).select(
        F.col("s"), F.col("doc_id").alias("eval_id")
    )
    tr = sh.filter(~is_eval)
    tr_tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("hit_shingles"),
            F.countDistinct("eval_id").alias("eval_docs_hit"),
        )
    )
    return (
        hits.join(tr_tot, "doc_id")
        .select(
            "doc_id",
            "hit_shingles",
            "eval_docs_hit",
            F.round(
                F.col("hit_shingles").cast("double") / F.col("n_shingles"), 6
            ).alias("severity"),
        )
        .orderBy("doc_id")
    )


_SQL_DECONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(tk) - {DECON_N - 1}, 0) + 1),
               i -> array_to_string(list_slice(tk, i, i + {DECON_N - 1}), ' '))) AS s
    FROM toks)
), ev AS (
  SELECT s, doc_id AS eval_id FROM sh WHERE doc_id % {_EVAL_MOD} = 0
), tr AS (
  SELECT doc_id, s FROM sh WHERE doc_id % {_EVAL_MOD} <> 0
), tr_tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM tr GROUP BY doc_id
), hits AS (
  SELECT tr.doc_id,
         CAST(count(DISTINCT tr.s) AS BIGINT) AS hit_shingles,
         CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS eval_docs_hit
  FROM tr JOIN ev ON tr.s = ev.s
  GROUP BY tr.doc_id
)
SELECT h.doc_id, h.hit_shingles, h.eval_docs_hit,
       round(CAST(h.hit_shingles AS DOUBLE) / t.n_shingles, 6) AS severity
FROM hits h JOIN tr_tot t ON h.doc_id = t.doc_id
ORDER BY h.doc_id
"""


# --- repetition_quality ----------------------------------------------------
_TOP_BIGRAM_MAX = 0.18
_DISTINCT_MIN = 0.20


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per document: type/token ratio,
    mass of the most frequent word, and token mass of the most frequent
    bigram; `repetitive` applies the standard thresholds (top-bigram
    fraction > 0.18 — counting only bigrams that actually repeat — or
    distinct ratio < 0.2).  All per-doc work is
    key-partitioned (groupBy doc_id / window over doc_id) — partial
    aggregation keeps the shuffle at one row per (doc, term)."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t"))
    word_counts = tk.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.max("c").alias("max_word"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tk.select(
            "doc_id",
            F.concat_ws(" ", F.col("t"), F.lead("t", 1).over(w)).alias("b"),
            F.lead("t", 1).over(w).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram"))
    )
    distinct_ratio = F.round(
        F.col("distinct_tokens").cast("double") / F.col("n_tokens"), 6
    )
    top_word = F.round(F.col("max_word").cast("double") / F.col("n_tokens"), 6)
    top_bigram = F.round(
        (F.coalesce(F.col("max_bigram"), F.lit(0)) * 2).cast("double")
        / F.col("n_tokens"),
        6,
    )
    return (
        per_doc.join(bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            distinct_ratio.alias("distinct_ratio"),
            top_word.alias("top_word_frac"),
            top_bigram.alias("top_bigram_frac"),
            (
                (
                    (F.coalesce(F.col("max_bigram"), F.lit(0)) >= 2)
                    & (top_bigram > F.lit(_TOP_BIGRAM_MAX).cast("double"))
                )
                | (distinct_ratio < F.lit(_DISTINCT_MIN).cast("double"))
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


_SQL_REPETITION = f"""
WITH tk AS (
  SELECT doc_id, t, CAST(pos AS BIGINT) AS pos FROM (
    SELECT doc_id, unnest({TOKENS_SQL}) AS t,
           generate_subscripts({TOKENS_SQL}, 1) AS pos
    FROM documents)
), wc AS (
  SELECT doc_id, t, count(*) AS c FROM tk GROUP BY doc_id, t
), per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS distinct_tokens,
         CAST(max(c) AS BIGINT) AS max_word
  FROM wc GROUP BY doc_id
), bg_rows AS (
  SELECT doc_id, t || ' ' || lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
         lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS tail
  FROM tk
), bg AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bigram FROM (
    SELECT doc_id, b, count(*) AS c FROM bg_rows WHERE tail IS NOT NULL
    GROUP BY doc_id, b)
  GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens,
       round(CAST(p.distinct_tokens AS DOUBLE) / p.n_tokens, 6) AS distinct_ratio,
       round(CAST(p.max_word AS DOUBLE) / p.n_tokens, 6) AS top_word_frac,
       round(CAST(coalesce(bg.max_bigram, 0) * 2 AS DOUBLE) / p.n_tokens, 6) AS top_bigram_frac,
       ((coalesce(bg.max_bigram, 0) >= 2
         AND round(CAST(coalesce(bg.max_bigram, 0) * 2 AS DOUBLE) / p.n_tokens, 6)
           > CAST({_TOP_BIGRAM_MAX} AS DOUBLE))
        OR round(CAST(p.distinct_tokens AS DOUBLE) / p.n_tokens, 6)
          < CAST({_DISTINCT_MIN} AS DOUBLE)) AS repetitive
FROM per_doc p LEFT JOIN bg ON p.doc_id = bg.doc_id
ORDER BY p.doc_id
"""


# --- stratified_sample -----------------------------------------------------
SAMPLE_K = 20


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample: rank documents inside
    each language stratum by a content-free salted hash and keep the
    first K.  Reproducible under any partitioning/cluster size (pure
    function of (doc_id, lang)); the window is stratum-partitioned so
    there is no global sort."""
    docs = table(spark, sf_dir, "documents")
    hk = F.sha2(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("lang")), 256
    )
    w = W.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= SAMPLE_K)
        .orderBy("lang", "sample_rank")
    )


_SQL_STRATIFIED = f"""
SELECT lang, doc_id, CAST(sample_rank AS INTEGER) AS sample_rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':' || lang), doc_id
         ) AS sample_rank
  FROM documents)
WHERE sample_rank <= {SAMPLE_K}
ORDER BY lang, sample_rank
"""


# --- source_mix ------------------------------------------------------------
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition audit: document and distinct-text
    counts (exact-dup rate via sha256 content hash), token totals and
    each source's share of the corpus token budget — the curation view
    used to rebalance a source mix before training.  One groupBy on
    source; the corpus total enters as a broadcast 1-row aggregate."""
    docs = table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.sha2(F.col("text"), 256).alias("h"),
            F.size(tokens(F.col("text"))).alias("n_tok"),
            "n_chars",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("distinct_texts"),
            F.sum("n_tok").alias("ws_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )
    total = per_src.agg(F.sum("ws_tokens").alias("total_tokens"))
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "distinct_texts",
            F.round(
                (F.col("n_docs") - F.col("distinct_texts")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("exact_dup_rate"),
            "ws_tokens",
            F.round(
                F.col("ws_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("token_share"),
            "avg_chars",
        )
        .orderBy("source")
    )


_SQL_SOURCE_MIX = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT sha256(text)) AS BIGINT) AS distinct_texts,
         CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS ws_tokens,
         round(avg(n_chars), 4) AS avg_chars
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(ws_tokens) AS BIGINT) AS total_tokens FROM per_src
)
SELECT source, n_docs, distinct_texts,
       round(CAST(n_docs - distinct_texts AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
       ws_tokens,
       round(CAST(ws_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       avg_chars
FROM per_src CROSS JOIN tot
ORDER BY source
"""


WS_K = 8  # weighted sample size per source stratum


def _hex_int_sql(sha: str, digits: int) -> str:
    """DuckDB mirror of Spark conv(substr(sha,1,digits),16,10): the
    hex prefix as an integer via per-digit strpos arithmetic."""
    terms = [
        f"{16 ** (digits - i)} * (strpos('0123456789abcdef', substr({sha}, {i}, 1)) - 1)"
        for i in range(1, digits + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample (Efraimidis–Spirakis A-ES, the
    one-pass distributed weighted-sampling scheme): per source keep
    the top-8 documents by priority u^(1/w) — realized as
    ln(u)/w with u a sha-derived uniform and w the document's token
    count, so longer documents are proportionally likelier while
    selection stays a pure function of (doc_id, text).  This is the
    quality-weighted sampler a training-data mixer runs instead of
    uniform sampling; the per-stratum top-k is a partitioned
    row_number (no global sort), one corpus scan.

    Determinism: u = (hex32(sha256(doc_id||':ws')) + 1) / 2^32 is an
    exact-integer division; ln(u) is micro-rounded to a BIGINT so a
    1-ulp libm-vs-JVM difference cannot change it; the ordering key is
    one IEEE division of two exact integers (l_micro / w) — bit-stable
    across engines, with a doc_id tie-break."""
    docs = table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(
            F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":ws")), 256),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (u32 + 1).cast("double") / F.lit(4294967296).cast("double")
    base = docs.select(
        "source",
        "doc_id",
        F.greatest(F.size(tokens(F.col("text"))), F.lit(1))
        .cast("bigint")
        .alias("w"),
        F.round(F.log(u) * 1_000_000, 0).cast("bigint").alias("l_micro"),
    ).withColumn(
        "priority", F.col("l_micro").cast("double") / F.col("w")
    )
    win = W.partitionBy("source").orderBy(F.col("priority").desc(), "doc_id")
    return (
        base.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= WS_K)
        .select("source", "sample_rank", "doc_id", "w", "priority")
        .orderBy("source", "sample_rank")
    )


_SQL_WEIGHTED_SAMPLE = f"""
WITH base AS (
  SELECT source, doc_id,
         CAST(greatest(len({TOKENS_SQL}), 1) AS BIGINT) AS w,
         CAST(round(ln(CAST({_hex_int_sql("sha", 8)} + 1 AS DOUBLE)
                       / CAST(4294967296 AS DOUBLE)) * 1000000, 0) AS BIGINT)
             AS l_micro
  FROM (SELECT source, doc_id, text,
               sha256(CAST(doc_id AS VARCHAR) || ':ws') AS sha
        FROM documents)
), keyed AS (
  SELECT source, doc_id, w,
         CAST(l_micro AS DOUBLE) / w AS priority
  FROM base
), ranked AS (
  SELECT source, doc_id, w, priority,
         row_number() OVER (PARTITION BY source
                            ORDER BY priority DESC, doc_id) AS sample_rank
  FROM keyed
)
SELECT source, CAST(sample_rank AS INTEGER) AS sample_rank, doc_id, w, priority
FROM ranked WHERE sample_rank <= {WS_K}
ORDER BY source, sample_rank
"""


CURATION_QUERIES.update(
    {
        "dataset_split": q_dataset_split,
        "decontamination": q_decontamination,
        "repetition_quality": q_repetition_quality,
        "stratified_sample": q_stratified_sample,
        "source_mix": q_source_mix,
        "weighted_sample": q_weighted_sample,
    }
)
CURATION_ORACLES.update(
    {
        "dataset_split": _SQL_DATASET_SPLIT,
        "decontamination": _SQL_DECONTAMINATION,
        "repetition_quality": _SQL_REPETITION,
        "stratified_sample": _SQL_STRATIFIED,
        "source_mix": _SQL_SOURCE_MIX,
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
    }
)


# --- round-6 curation-reporting batch ---------------------------------------
# Four source/shape reporting ops a curation run reads before committing a
# training mix: sequence-length histogram (packing planning), per-source
# vocabulary health (TTR/hapax), the decontamination rollup by source
# (drop/keep decisions happen at source granularity), and the lang-x-source
# composition matrix.


def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of per-document token counts with doc and
    token-mass shares plus the cumulative token share — the view packing
    planners read to size max_seq_len (what fraction of the token budget
    lives in docs longer than 2^k?).

    Cross-engine floor(log2(n)) without float logs: both engines render
    a binary literal (Spark ``bin``, DuckDB ``bin``) whose length-1 is
    the exponent — integer-exact, no 1-ulp boundary risk.  One partial
    aggregation on a tiny key space (≤64 buckets at any corpus size),
    then a window over the bucket axis."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.greatest(F.size(tokens(F.col("text"))), F.lit(1))
    per_bucket = (
        docs.select((F.length(F.bin(n_tok)) - 1).cast("long").alias("bucket_exp"),
                    n_tok.alias("n_tok"))
        .groupBy("bucket_exp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("token_mass"),
        )
    )
    total = per_bucket.agg(
        F.sum("n_docs").alias("t_docs"), F.sum("token_mass").alias("t_tok")
    )
    # bounded global ordering (<= 64 bucket rows at any corpus size):
    # partition on t_docs — a real data column that is constant across
    # rows — so the single partition group is deliberate and the
    # optimizer cannot fold the key away (crc32(x)*0 got folded here)
    w = (
        W.partitionBy("t_docs")
        .orderBy("bucket_exp")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        per_bucket.crossJoin(F.broadcast(total))
        .withColumn("cum_mass", F.sum("token_mass").over(w))
        .select(
            "bucket_exp",
            "n_docs",
            "token_mass",
            F.round(F.col("n_docs").cast("double") / F.col("t_docs"), 6)
            .alias("doc_share"),
            F.round(F.col("token_mass").cast("double") / F.col("t_tok"), 6)
            .alias("token_share"),
            F.round(F.col("cum_mass").cast("double") / F.col("t_tok"), 6)
            .alias("cum_token_share"),
        )
        .orderBy("bucket_exp")
    )


_SQL_TOKEN_LENGTH_HISTOGRAM = f"""
WITH lens AS (
  SELECT greatest(len({TOKENS_SQL}), 1) AS n_tok FROM documents
), b AS (
  SELECT CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket_exp,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS token_mass
  FROM lens GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
         CAST(sum(token_mass) AS BIGINT) AS t_tok FROM b
)
SELECT bucket_exp, n_docs, token_mass,
       round(CAST(n_docs AS DOUBLE) / t_docs, 6) AS doc_share,
       round(CAST(token_mass AS DOUBLE) / t_tok, 6) AS token_share,
       round(CAST(sum(token_mass) OVER (ORDER BY bucket_exp
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t_tok, 6)
         AS cum_token_share
FROM b CROSS JOIN tot
ORDER BY bucket_exp
"""


def q_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus vocabulary health: distinct terms, type/token
    ratio, hapax-legomena share, and the mass of the most frequent term
    — corpus-level signals (repetition_quality is the per-document twin)
    curation runs use to spot template-y or boilerplate-heavy sources.
    Plan: one (source, term) partial-agg shuffle, then a per-source
    rollup on the already-small key space."""
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).alias("distinct_terms"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax_terms"),
            F.max("c").cast("long").alias("top_term_count"),
        )
        .select(
            "source",
            "total_tokens",
            "distinct_terms",
            "hapax_terms",
            F.round(
                F.col("distinct_terms").cast("double") / F.col("total_tokens"), 6
            ).alias("type_token_ratio"),
            F.round(
                F.col("hapax_terms").cast("double") / F.col("distinct_terms"), 6
            ).alias("hapax_share"),
            F.round(
                F.col("top_term_count").cast("double") / F.col("total_tokens"), 6
            ).alias("top_term_mass"),
        )
        .orderBy("source")
    )


_SQL_TTR_HAPAX = f"""
WITH tc AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({TOKENS_SQL}) AS t FROM documents
  ) GROUP BY source, t
), per_src AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS distinct_terms,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms,
         CAST(max(c) AS BIGINT) AS top_term_count
  FROM tc GROUP BY source
)
SELECT source, total_tokens, distinct_terms, hapax_terms,
       round(CAST(distinct_terms AS DOUBLE) / total_tokens, 6) AS type_token_ratio,
       round(CAST(hapax_terms AS DOUBLE) / distinct_terms, 6) AS hapax_share,
       round(CAST(top_term_count AS DOUBLE) / total_tokens, 6) AS top_term_mass
FROM per_src
ORDER BY source
"""


def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination verdict rolled up to source granularity —
    where the actual drop/keep decision happens (a source with 30%
    contaminated token mass gets cut; one leaky doc gets filtered).
    Reuses the 8-gram broadcast-probe pipeline: per source, training-doc
    totals, contaminated-doc counts and token-mass share, and the worst
    per-doc severity."""
    docs = table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, DECON_N)
    is_eval = (F.col("doc_id") % _EVAL_MOD) == 0
    ev = sh.filter(is_eval).select("s")
    tr = sh.filter(~is_eval)
    tr_tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        tr.join(F.broadcast(ev.distinct()), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("hit_shingles"))
    )
    per_doc = (
        docs.filter((F.col("doc_id") % _EVAL_MOD) != 0)
        .select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .join(tr_tot, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "source",
            "n_tok",
            F.coalesce("hit_shingles", F.lit(0)).alias("hit_shingles"),
            F.when(
                F.col("n_shingles").isNotNull() & (F.col("hit_shingles") > 0),
                F.col("hit_shingles").cast("double") / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("severity"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("train_docs"),
            F.sum(F.when(F.col("hit_shingles") > 0, 1).otherwise(0))
            .cast("long")
            .alias("contaminated_docs"),
            F.sum("n_tok").cast("long").alias("train_tokens"),
            F.sum(F.when(F.col("hit_shingles") > 0, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("contaminated_tokens"),
            F.round(F.max("severity"), 6).alias("max_severity"),
        )
        .select(
            "source",
            "train_docs",
            "contaminated_docs",
            F.round(
                F.col("contaminated_docs").cast("double") / F.col("train_docs"), 6
            ).alias("doc_contamination_rate"),
            "train_tokens",
            "contaminated_tokens",
            F.round(
                F.col("contaminated_tokens").cast("double")
                / F.col("train_tokens"),
                6,
            ).alias("token_contamination_share"),
            "max_severity",
        )
        .orderBy("source")
    )


_SQL_CONTAMINATION_BY_SOURCE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(tk) - {DECON_N - 1}, 0) + 1),
               i -> array_to_string(list_slice(tk, i, i + {DECON_N - 1}), ' '))) AS s
    FROM toks)
), ev AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {_EVAL_MOD} = 0
), tr AS (
  SELECT doc_id, s FROM sh WHERE doc_id % {_EVAL_MOD} <> 0
), tr_tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM tr GROUP BY doc_id
), hits AS (
  SELECT tr.doc_id, CAST(count(DISTINCT tr.s) AS BIGINT) AS hit_shingles
  FROM tr JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id
), per_doc AS (
  SELECT d.source,
         len({tokens_sql('d.text')}) AS n_tok,
         coalesce(h.hit_shingles, 0) AS hit_shingles,
         CASE WHEN t.n_shingles IS NOT NULL AND coalesce(h.hit_shingles, 0) > 0
              THEN CAST(h.hit_shingles AS DOUBLE) / t.n_shingles
              ELSE CAST(0.0 AS DOUBLE) END AS severity
  FROM documents d
  LEFT JOIN tr_tot t ON d.doc_id = t.doc_id
  LEFT JOIN hits h ON d.doc_id = h.doc_id
  WHERE d.doc_id % {_EVAL_MOD} <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS train_docs,
       CAST(sum(CASE WHEN hit_shingles > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS contaminated_docs,
       round(CAST(sum(CASE WHEN hit_shingles > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS doc_contamination_rate,
       CAST(sum(n_tok) AS BIGINT) AS train_tokens,
       CAST(sum(CASE WHEN hit_shingles > 0 THEN n_tok ELSE 0 END) AS BIGINT)
         AS contaminated_tokens,
       round(CAST(sum(CASE WHEN hit_shingles > 0 THEN n_tok ELSE 0 END) AS DOUBLE)
             / sum(n_tok), 6) AS token_contamination_share,
       round(max(severity), 6) AS max_severity
FROM per_doc
GROUP BY source
ORDER BY source
"""


def q_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language x source composition matrix with each cell's char-mass
    share within its source — the mix report a multilingual curation run
    reads before setting per-language sampling temperatures.  One
    groupBy on the (source, lang) key, shares via a window over the
    already-aggregated rows (no second shuffle of the corpus)."""
    docs = table(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    w = W.partitionBy("source")
    return (
        cell.withColumn("src_chars", F.sum("chars").over(w))
        .select(
            "source",
            "lang",
            "n_docs",
            "chars",
            F.round(F.col("chars").cast("double") / F.col("src_chars"), 6)
            .alias("share_in_source"),
        )
        .orderBy("source", "lang")
    )


_SQL_LANG_SOURCE_MATRIX = """
WITH cell AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, chars,
       round(CAST(chars AS DOUBLE) /
             sum(chars) OVER (PARTITION BY source), 6) AS share_in_source
FROM cell
ORDER BY source, lang
"""


CURATION_QUERIES.update(
    {
        "token_length_histogram": q_token_length_histogram,
        "ttr_hapax": q_ttr_hapax,
        "contamination_by_source": q_contamination_by_source,
        "lang_source_matrix": q_lang_source_matrix,
    }
)
CURATION_ORACLES.update(
    {
        "token_length_histogram": _SQL_TOKEN_LENGTH_HISTOGRAM,
        "ttr_hapax": _SQL_TTR_HAPAX,
        "contamination_by_source": _SQL_CONTAMINATION_BY_SOURCE,
        "lang_source_matrix": _SQL_LANG_SOURCE_MATRIX,
    }
)


# --- distribution drift (PSI) --------------------------------------------------

PSI_BINS = 10          # fixed-width value bins, 50-wide, last bin open
PSI_BIN_W = 50
PSI_SPLIT_DAY = 19738  # 2024-01-16 as epoch-day: period A is days before
PSI_MICRO = 100_000_000  # per-bin PSI terms frozen at 1e-8 (ln-parity idiom)
PSI_DRIFT_MICRO = 20_000_000  # flag threshold 0.2, compared in exact integers


def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor between two halves of the
    events timeline, per event_type — the standard check a training-data
    pipeline runs between dataset snapshots before retraining.

    value is bucketed into 10 fixed-width bins (integer-exact floor, last
    bin open); each (type, period) histogram is Laplace-smoothed
    ((c+1)/(n+10)) so empty bins contribute; the per-bin term
    (pA-pB)*ln(pA/pB) is frozen to a 1e-8 micro-integer (the zipf_fit /
    tfidf_topk ln-parity idiom) so the cross-bin sum is exact-integer in
    both engines, and the drift flag compares micro-integers.

    Scale shape: one (type, bin, period) partial-count shuffle over the
    fact table, then everything is per-type arithmetic over ≤ 10·types
    rows; the dense bin frame comes from a sequence explode over the
    distinct types, never from the fact table."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
    binned = ev.select(
        "event_type",
        F.when(day < PSI_SPLIT_DAY, F.lit("a")).otherwise(F.lit("b")).alias("period"),
        F.least(
            F.lit(PSI_BINS - 1), F.floor(F.col("value") / PSI_BIN_W).cast("int")
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = (
        binned.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("bin"))
    )
    cells = (
        dense.join(
            counts.filter(F.col("period") == "a").select(
                "event_type", "bin", F.col("c").alias("ca")
            ),
            ["event_type", "bin"],
            "left",
        )
        .join(
            counts.filter(F.col("period") == "b").select(
                "event_type", "bin", F.col("c").alias("cb")
            ),
            ["event_type", "bin"],
            "left",
        )
        .na.fill(0, ["ca", "cb"])
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + PSI_BINS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + PSI_BINS)
    term = F.round((pa - pb) * F.log(pa / pb) * PSI_MICRO, 0).cast("long")
    return (
        cells.join(totals, "event_type")
        .select("event_type", "na", "nb", term.alias("t"))
        .groupBy("event_type")
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.sum("t").alias("psi_micro"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            "psi_micro",
            F.round(F.col("psi_micro").cast("double") / PSI_MICRO, 6).alias("psi"),
            (F.col("psi_micro") > PSI_DRIFT_MICRO).alias("drift_flag"),
        )
        .orderBy("event_type")
    )


_SQL_FEATURE_DRIFT = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN floor(epoch(ts) / 86400) < {PSI_SPLIT_DAY}
              THEN 'a' ELSE 'b' END AS period,
         LEAST({PSI_BINS - 1}, CAST(floor(value / {PSI_BIN_W}) AS INTEGER)) AS bin
  FROM events
), counts AS (
  SELECT event_type, period, bin, count(*) AS c
  FROM binned GROUP BY event_type, period, bin
), dense AS (
  SELECT t.event_type, s.bin
  FROM (SELECT DISTINCT event_type FROM binned) t,
       (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) s
), cells AS (
  SELECT d.event_type, d.bin,
         coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
  FROM dense d
  LEFT JOIN counts a ON a.event_type = d.event_type AND a.bin = d.bin
                    AND a.period = 'a'
  LEFT JOIN counts b ON b.event_type = d.event_type AND b.bin = d.bin
                    AND b.period = 'b'
), totals AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
         CAST(sum(cb) AS BIGINT) AS nb
  FROM cells GROUP BY event_type
), terms AS (
  SELECT c.event_type, t.na, t.nb,
         CAST(round(
           (CAST(c.ca + 1 AS DOUBLE) / (t.na + {PSI_BINS})
            - CAST(c.cb + 1 AS DOUBLE) / (t.nb + {PSI_BINS}))
           * ln((CAST(c.ca + 1 AS DOUBLE) / (t.na + {PSI_BINS}))
                / (CAST(c.cb + 1 AS DOUBLE) / (t.nb + {PSI_BINS})))
           * {PSI_MICRO}, 0) AS BIGINT) AS t
  FROM cells c JOIN totals t ON c.event_type = t.event_type
)
SELECT event_type,
       CAST(min(na) AS BIGINT) AS n_a,
       CAST(min(nb) AS BIGINT) AS n_b,
       CAST(sum(t) AS BIGINT) AS psi_micro,
       round(CAST(sum(t) AS DOUBLE) / {PSI_MICRO}, 6) AS psi,
       CAST(sum(t) AS BIGINT) > {PSI_DRIFT_MICRO} AS drift_flag
FROM terms
GROUP BY event_type
ORDER BY event_type
"""


# --- inter-annotator agreement (Cohen's kappa) ---------------------------------

KAPPA_CLASSES = 10


def q_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the embeddings label column and a
    deterministic pseudo-second-annotator (label shifted by one class on
    every 7th item) — the label-quality audit run before trusting a
    labeled training set.  po and pe derive from EXACT integer counts
    (pe's numerator is an integer dot product of the two marginal
    histograms), so every double is a single CAST division — no float
    aggregation at all.

    Scale shape: one pass for the confusion diagonal + two marginal
    histograms (10 classes each); the kappa arithmetic runs on a
    broadcast-sized frame."""
    emb = table(spark, sf_dir, "embeddings")
    lab = emb.select(
        F.col("label").alias("l1"),
        F.pmod(
            F.col("label")
            + F.when(F.pmod(F.col("vec_id"), F.lit(7)) == 0, 1).otherwise(0),
            F.lit(KAPPA_CLASSES),
        ).alias("l2"),
    )
    base = lab.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.when(F.col("l1") == F.col("l2"), 1).otherwise(0)).alias("n_agree"),
    )
    m1 = lab.groupBy(F.col("l1").alias("c")).agg(F.count(F.lit(1)).alias("n1"))
    m2 = lab.groupBy(F.col("l2").alias("c")).agg(F.count(F.lit(1)).alias("n2"))
    pe_num = (
        m1.join(m2, "c")
        .select((F.col("n1") * F.col("n2")).alias("p"))
        .agg(F.sum("p").alias("pe_num"))
    )
    po = F.col("n_agree").cast("double") / F.col("n_items")
    pe = F.col("pe_num").cast("double") / (F.col("n_items") * F.col("n_items"))
    return (
        base.crossJoin(F.broadcast(pe_num))
        .select(
            "n_items",
            "n_agree",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


_SQL_KAPPA = f"""
WITH lab AS (
  SELECT label AS l1,
         (label + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
           % {KAPPA_CLASSES} AS l2
  FROM embeddings
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM lab
), m1 AS (SELECT l1 AS c, count(*) AS n1 FROM lab GROUP BY l1),
m2 AS (SELECT l2 AS c, count(*) AS n2 FROM lab GROUP BY l2),
pe AS (
  SELECT CAST(sum(n1 * n2) AS BIGINT) AS pe_num
  FROM m1 JOIN m2 ON m1.c = m2.c
)
SELECT b.n_items, b.n_agree,
       round(CAST(b.n_agree AS DOUBLE) / b.n_items, 6) AS po,
       round(CAST(p.pe_num AS DOUBLE) / (b.n_items * b.n_items), 6) AS pe,
       round((CAST(b.n_agree AS DOUBLE) / b.n_items
              - CAST(p.pe_num AS DOUBLE) / (b.n_items * b.n_items))
             / (1 - CAST(p.pe_num AS DOUBLE) / (b.n_items * b.n_items)), 6)
         AS kappa
FROM base b, pe p
"""


CURATION_QUERIES.update(
    {
        "feature_drift": q_feature_drift,
        "annotator_agreement": q_annotator_agreement,
    }
)
CURATION_ORACLES.update(
    {
        "feature_drift": _SQL_FEATURE_DRIFT,
        "annotator_agreement": _SQL_KAPPA,
    }
)


# --- exact two-sample KS drift -------------------------------------------------


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the same two
    event-timeline halves as feature_drift, per event_type — the
    bin-free companion statistic (PSI needs a binning choice; KS does
    not).  KS = max_x |F_a(x) - F_b(x)| evaluated at every distinct
    value; cross-multiplying the step CDFs makes the whole computation
    INTEGER-exact: d_num = max |cum_a*n_b - cum_b*n_a|, ks = d_num /
    (n_a*n_b) as one cast division.

    Scale shape: ties collapse at (type, value) grain first (one
    key-partitioned shuffle), then a single window ordered by value
    WITHIN each event_type partition builds both step CDFs in one pass;
    nothing is global — skew is bounded by the largest single type."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
    per_value = (
        ev.select(
            "event_type",
            "value",
            F.when(day < PSI_SPLIT_DAY, 1).otherwise(0).alias("in_a"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.sum("in_a").alias("ca"),
            F.sum(1 - F.col("in_a")).alias("cb"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wt = W.partitionBy("event_type")
    stepped = per_value.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
    )
    return (
        stepped.groupBy("event_type")
        .agg(
            F.min("na").alias("n_a"),
            F.min("nb").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
            ).alias("d_num"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            "d_num",
            F.round(
                F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("ks"),
        )
        .orderBy("event_type")
    )


_SQL_KS_DRIFT = f"""
WITH per_value AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN floor(epoch(ts) / 86400) < {PSI_SPLIT_DAY}
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN floor(epoch(ts) / 86400) < {PSI_SPLIT_DAY}
                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM events GROUP BY event_type, value
), stepped AS (
  SELECT event_type, ca, cb,
         CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b,
         CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
         CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
  FROM per_value
)
SELECT event_type,
       CAST(min(na) AS BIGINT) AS n_a,
       CAST(min(nb) AS BIGINT) AS n_b,
       CAST(max(abs(cum_a * nb - cum_b * na)) AS BIGINT) AS d_num,
       round(CAST(max(abs(cum_a * nb - cum_b * na)) AS DOUBLE)
             / (min(na) * min(nb)), 6) AS ks
FROM stepped
GROUP BY event_type
ORDER BY event_type
"""


CURATION_QUERIES.update({"ks_drift": q_ks_drift})
CURATION_ORACLES.update({"ks_drift": _SQL_KS_DRIFT})
