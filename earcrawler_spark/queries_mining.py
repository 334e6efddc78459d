"""Query batch — corpus MINING & audit operators (brief §LLM-pipeline,
part 3; parts 1-2 are queries_curation.py / queries_training.py).  Six
first-class ops a web-scale training-data pipeline runs over its corpus:

- ``dup_span_coverage``   Lee-et-al.-style duplicated-substring audit:
                          fraction of each doc's tokens inside a
                          duplicated >=8-token span (rolling windows +
                          gaps-and-islands interval union) — the
                          shift-invariant complement of chunk_dedup's
                          disjoint-chunk view.
- ``ngram_novelty``       per-doc fraction of 5-gram shingles whose
                          corpus-earliest occurrence is this doc (the
                          "new content" curve curriculum/sampling uses).
- ``tfidf_topk``          per-doc top-3 TF-IDF keywords (corpus DF dim
                          broadcast; deterministic micro-int scores).
- ``curation_verdict``    final keep/drop ladder per document with the
                          first-failing reason (the decision stage that
                          consumes the upstream quality signals).
- ``zipf_fit``            per-language vocabulary statistics + Zipf
                          slope via integer-exact least squares.
- ``cross_source_overlap`` shared-shingle matrix between source pairs
                          (content-level mixing audit), boilerplate-
                          capped so hot shingles can't go quadratic.

Scale notes (100 TB / 1000 executors):
- Rolling shingles are window-lead concats partitioned by doc_id — a
  narrow per-doc computation, no shuffle until the gram-key groupBy
  (the exact-dedup key pattern; fixed-width grams bound skew).
- dup_span_coverage's interval union is the classic gaps-and-islands
  window, partitioned per doc_id — no global sort.
- tfidf's DF table and zipf's per-lang top-64 are tiny aggregates that
  broadcast back; the corpus side streams once.
- cross_source_overlap caps a gram's source fan-out at 8 (observed max
  on this corpus family is 3), so the per-gram pair expansion is <= 28
  rows — boilerplate n-grams shared by hundreds of sources (nav chrome,
  license footers) are exactly the ones a mixing audit must exclude,
  and excluding them is also what keeps the self-join linear.

Determinism / oracle stability (round-5 version-stable SQL rules): all
hash-relevant floats are either a single IEEE division of exact BIGINTs
or micro-integers (round(ln(x)*1e6) -> BIGINT) whose sums/products stay
exact; no median/ROLLUP/list-aggregate chains; threshold compares are
pure integer arithmetic (6*mc >= n, 3*dn < n), never float equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens
from earcrawler_spark.session import table

MINING_QUERIES: dict = {}
MINING_ORACLES: dict = {}


SPAN_N = 8        # dup_span_coverage / cross_source_overlap window width
NOVELTY_N = 5     # ngram_novelty shingle width
TFIDF_K = 3       # keywords kept per document
ZIPF_RANK_CAP = 64  # frequency ranks used for the Zipf least-squares fit
OVERLAP_SRC_CAP = 8  # boilerplate cap: grams in more sources are excluded

# curation_verdict ladder thresholds (integer-exact forms):
# too_short       n_tok < 15
# high_repeat     6 * max_token_count >= n_tok   (top token >= 1/6 of doc)
# low_diversity   3 * distinct_tokens < n_tok    (type/token ratio < 1/3)
VERDICT_MIN_TOK = 15


def _pos_grams(docs: DataFrame, n: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """Rolling n-token shingles with 0-based start position: posexplode
    + window-lead concat (JVM codegen; the minhash-lane shingling shape).
    Rows where fewer than n tokens remain are dropped (last lead null)."""
    tk = docs.select(
        *extra, "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, n)]
    return (
        tk.select(*extra, "doc_id", "pos", *[p.alias(f"_t{i}") for i, p in enumerate(parts)])
        .filter(F.col(f"_t{n - 1}").isNotNull())
        .select(
            *extra,
            "doc_id",
            "pos",
            F.concat_ws(" ", *[F.col(f"_t{i}") for i in range(n)]).alias("gram"),
        )
    )


def _grams_sql(n: int, cols: str = "doc_id") -> str:
    """DuckDB lateral-unnest equivalent of _pos_grams (pos is 0-based)."""
    return f"""
  SELECT {cols}, i - 1 AS pos,
         array_to_string(list_slice(tk, i, i + {n - 1}), ' ') AS gram
  FROM (SELECT {cols}, {TOKENS_SQL} AS tk FROM documents) toks,
       unnest(range(1, greatest(len(tk) - {n - 1}, 0) + 1)) AS u(i)
"""


# --- dup_span_coverage --------------------------------------------------------


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring coverage (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    covered when it lies inside an 8-token window whose text occurs at
    more than one (doc, pos) in the corpus.  Overlapping duplicated
    windows are merged per doc with the gaps-and-islands window pattern,
    so ``covered_tok`` is the EXACT interval-union size, not a window
    count.  Unlike chunk_dedup's disjoint 8-token chunks this view is
    shift-invariant: a copy offset by one token still scores.

    100 TB shape: ONE pass over a single window lineage — the
    occurrence count is a window over the gram key (one shuffle, no
    join-back that would recompute the shingling), islands are per-doc
    windows (second shuffle), and the per-island + per-doc rollup is
    one aggregation chain.  No global sort anywhere."""
    docs = table(spark, sf_dir, "documents")
    wins = _pos_grams(docs, SPAN_N)
    occ = F.count(F.lit(1)).over(W.partitionBy("gram"))
    dup_wins = (
        wins.withColumn("occ", occ)
        .filter(F.col("occ") > 1)
        .select("doc_id", "pos", (F.col("pos") + SPAN_N - 1).alias("end"))
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(W.unboundedPreceding, -1))
    isl = dup_wins.select(
        "doc_id",
        "pos",
        "end",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        )
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("island"),
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg(
            F.count(F.lit(1)).alias("wins_in_island"),
            (F.max("end") - F.min("pos") + 1).alias("span_tok"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("wins_in_island").alias("dup_windows"),
            F.sum("span_tok").alias("covered_tok"),
        )
    )
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    ).select(
        "doc_id",
        "n_tok",
        F.greatest(F.col("n_tok") - (SPAN_N - 1), F.lit(0)).alias("n_windows"),
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "n_windows",
            F.coalesce(F.col("dup_windows"), F.lit(0)).cast("bigint").alias(
                "dup_windows"
            ),
            F.coalesce(F.col("covered_tok"), F.lit(0)).cast("bigint").alias(
                "covered_tok"
            ),
            F.round(
                F.coalesce(F.col("covered_tok"), F.lit(0)).cast("double")
                / F.col("n_tok"),
                6,
            ).alias("coverage"),
        )
        .orderBy("doc_id")
    )


_SQL_DUP_SPAN_COVERAGE = f"""
WITH wins AS ({_grams_sql(SPAN_N)}),
dup_grams AS (
  SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1
), dup_wins AS (
  SELECT w.doc_id, w.pos, w.pos + {SPAN_N - 1} AS "end"
  FROM wins w JOIN dup_grams d ON w.gram = d.gram
), isl AS (
  SELECT doc_id, pos, "end",
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT doc_id, pos, "end",
           max("end") OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM dup_wins)
), cov AS (
  SELECT doc_id, CAST(sum(span_tok) AS BIGINT) AS covered_tok FROM (
    SELECT doc_id, island, max("end") - min(pos) + 1 AS span_tok
    FROM isl GROUP BY doc_id, island)
  GROUP BY doc_id
), dupcnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows FROM dup_wins GROUP BY doc_id
), base AS (
  SELECT doc_id, len({TOKENS_SQL}) AS n_tok,
         greatest(len({TOKENS_SQL}) - {SPAN_N - 1}, 0) AS n_windows
  FROM documents
)
SELECT b.doc_id, b.n_tok, b.n_windows,
       coalesce(d.dup_windows, 0) AS dup_windows,
       coalesce(c.covered_tok, 0) AS covered_tok,
       round(CAST(coalesce(c.covered_tok, 0) AS DOUBLE) / b.n_tok, 6) AS coverage
FROM base b
LEFT JOIN dupcnt d ON b.doc_id = d.doc_id
LEFT JOIN cov c ON b.doc_id = c.doc_id
ORDER BY b.doc_id
"""


# --- ngram_novelty ------------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: of the doc's distinct 5-gram shingles, the
    fraction whose corpus-earliest occurrence (min doc_id over all docs
    containing the gram) is this doc — i.e. how much genuinely new
    n-gram content the doc contributes in ingestion order.  Dedup-aware
    samplers and curriculum builders consume exactly this curve.

    100 TB shape: distinct (doc, gram) -> min-doc attribution as a
    WINDOW over the gram key (one shuffle, single lineage — a groupBy +
    join-back would recompute the shingling for each side) -> per-doc
    rollup."""
    sh = _pos_grams(table(spark, sf_dir, "documents"), NOVELTY_N).select(
        "doc_id", "gram"
    ).distinct()
    return (
        sh.withColumn(
            "first_doc", F.min("doc_id").over(W.partitionBy("gram"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            F.round(
                F.col("novel_grams").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_SQL_NGRAM_NOVELTY = f"""
WITH sh AS (SELECT DISTINCT doc_id, gram FROM ({_grams_sql(NOVELTY_N)})),
first_occ AS (
  SELECT gram, min(doc_id) AS first_doc FROM sh GROUP BY gram
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams,
       round(CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh JOIN first_occ f ON sh.gram = f.gram
GROUP BY sh.doc_id
ORDER BY sh.doc_id
"""


# --- tfidf_topk ---------------------------------------------------------------


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords.  idf = ln(N/df) is frozen as
    a micro-integer (round(ln*1e6) -> BIGINT) so score = tf * idf_micro
    is exact integer arithmetic on both engines; ranking ties break on
    the term string.  The DF table is a vocab-sized aggregate broadcast
    back over one corpus scan — the 100 TB keyword-extraction shape."""
    tk = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    tf = tk.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df_tbl = (
        tf.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df"))
                * F.lit(1_000_000.0),
                0,
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(df_tbl), "t").select(
        "doc_id",
        F.col("t").alias("term"),
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_K)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            F.round(
                F.col("score_micro").cast("double") / F.lit(1_000_000.0), 6
            ).alias("score"),
        )
        .orderBy("doc_id", "rank")
    )


_SQL_TFIDF_TOPK = f"""
WITH tk AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents
), tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, t
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), df_tbl AS (
  SELECT t, CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * CAST(1000000 AS DOUBLE), 0)
               AS BIGINT) AS idf_micro
  FROM (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t) CROSS JOIN nd
), scored AS (
  SELECT tf.doc_id, tf.t AS term, tf.tf, tf.tf * d.idf_micro AS score_micro
  FROM tf JOIN df_tbl d ON tf.t = d.t
), ranked AS (
  SELECT doc_id, term, tf, score_micro,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf,
       round(CAST(score_micro AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) AS score
FROM ranked WHERE rank <= {TFIDF_K}
ORDER BY doc_id, rank
"""


# --- curation_verdict -----------------------------------------------------------


def q_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final keep/drop decision per document with the FIRST failing
    reason — the ladder stage that turns upstream quality signals into
    the curated corpus (ladder order: too_short -> high_repeat ->
    low_diversity -> ok).  Thresholds are integer-exact multiples
    (6*max_count >= n, 3*distinct < n), so the verdict is a pure
    function of token counts — stable across engines, runs and cluster
    size.  One token scan; per-doc aggregates only."""
    tf = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sig = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.max("c").alias("max_tok"),
        F.count(F.lit(1)).alias("distinct_tok"),
    )
    reason = (
        F.when(F.col("n_tok") < VERDICT_MIN_TOK, "too_short")
        .when(6 * F.col("max_tok") >= F.col("n_tok"), "high_repeat")
        .when(3 * F.col("distinct_tok") < F.col("n_tok"), "low_diversity")
        .otherwise("ok")
    )
    return (
        sig.select(
            "doc_id",
            "n_tok",
            F.round(F.col("max_tok").cast("double") / F.col("n_tok"), 6).alias(
                "top_frac"
            ),
            F.round(
                F.col("distinct_tok").cast("double") / F.col("n_tok"), 6
            ).alias("distinct_frac"),
            reason.alias("reason"),
        )
        .select(
            "doc_id",
            "n_tok",
            "top_frac",
            "distinct_frac",
            F.when(F.col("reason") == "ok", "keep").otherwise("drop").alias(
                "verdict"
            ),
            "reason",
        )
        .orderBy("doc_id")
    )


_SQL_CURATION_VERDICT = f"""
WITH tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents)
  GROUP BY doc_id, t
), sig AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, CAST(max(c) AS BIGINT) AS max_tok,
         CAST(count(*) AS BIGINT) AS distinct_tok
  FROM tf GROUP BY doc_id
), lad AS (
  SELECT doc_id, n_tok, max_tok, distinct_tok,
         CASE WHEN n_tok < {VERDICT_MIN_TOK} THEN 'too_short'
              WHEN 6 * max_tok >= n_tok THEN 'high_repeat'
              WHEN 3 * distinct_tok < n_tok THEN 'low_diversity'
              ELSE 'ok' END AS reason
  FROM sig
)
SELECT doc_id, n_tok,
       round(CAST(max_tok AS DOUBLE) / n_tok, 6) AS top_frac,
       round(CAST(distinct_tok AS DOUBLE) / n_tok, 6) AS distinct_frac,
       CASE WHEN reason = 'ok' THEN 'keep' ELSE 'drop' END AS verdict,
       reason
FROM lad
ORDER BY doc_id
"""


# --- zipf_fit -------------------------------------------------------------------


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary statistics + Zipf slope: least-squares
    fit of ln(freq) on ln(rank) over the top-64 frequency ranks (ties
    on the term string).  x and y are micro-integers, so every sum and
    product in the normal equations is EXACT integer arithmetic; the
    slope is one IEEE division of two exact BIGINTs — bit-stable across
    engines.  The fit side is a per-lang top-64 aggregate (tiny); vocab
    / hapax / total come from the same single token scan."""
    tf = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum("c").alias("total_tok"),
    )
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("t"))
    micro = F.lit(1_000_000.0)
    fit = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_RANK_CAP)
        .select(
            "lang",
            F.round(F.log(F.col("rank").cast("double")) * micro, 0)
            .cast("bigint")
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")) * micro, 0)
            .cast("bigint")
            .alias("y"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .select(
            "lang",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("zipf_slope"),
        )
    )
    return (
        stats.join(fit, "lang")
        .select(
            "lang",
            "vocab_size",
            "hapax",
            "total_tok",
            F.round(
                F.col("hapax").cast("double") / F.col("vocab_size"), 6
            ).alias("hapax_frac"),
            "zipf_slope",
        )
        .orderBy("lang")
    )


_SQL_ZIPF_FIT = f"""
WITH tf AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest({TOKENS_SQL}) AS t FROM documents)
  GROUP BY lang, t
), stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(sum(c) AS BIGINT) AS total_tok
  FROM tf GROUP BY lang
), ranked AS (
  SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rank
  FROM tf
), pts AS (
  SELECT lang,
         CAST(round(ln(CAST(rank AS DOUBLE)) * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)) * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS y
  FROM ranked WHERE rank <= {ZIPF_RANK_CAP}
), fit AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY lang
)
SELECT s.lang, s.vocab_size, s.hapax, s.total_tok,
       round(CAST(s.hapax AS DOUBLE) / s.vocab_size, 6) AS hapax_frac,
       round(CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
             / (f.n * f.sxx - f.sx * f.sx), 6) AS zipf_slope
FROM stats s JOIN fit f ON s.lang = f.lang
ORDER BY s.lang
"""


# --- cross_source_overlap --------------------------------------------------------


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-overlap matrix between source pairs: for every pair of
    sources sharing at least one 8-token shingle, the count of shared
    distinct shingles and the Jaccard overlap of their shingle sets.
    Shingles present in more than 8 distinct sources are excluded as
    boilerplate (nav chrome / license footers) — the exclusion is both
    the honest mixing-audit semantics AND the bound that keeps the
    gram self-join linear (<= C(8,2)=28 pair rows per gram) at 100 TB."""
    gs = (
        _pos_grams(table(spark, sf_dir, "documents"), SPAN_N, extra=("source",))
        .select("source", "gram")
        .distinct()
    )
    kept = (
        gs.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ns"))
        .filter(F.col("ns") <= OVERLAP_SRC_CAP)
        .select("gram")
    )
    gk = gs.join(kept, "gram")
    totals = gk.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = gk.select(F.col("source").alias("src_a"), "gram")
    b = gk.select(F.col("source").alias("src_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ta = totals.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("na")
    )
    tb = totals.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("nb")
    )
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "na",
            "nb",
            F.round(
                F.col("shared_grams").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


_SQL_CROSS_SOURCE_OVERLAP = f"""
WITH gs AS (
  SELECT DISTINCT source, gram FROM ({_grams_sql(SPAN_N, cols="doc_id, source")})
), kept AS (
  SELECT gram FROM gs GROUP BY gram HAVING count(*) <= {OVERLAP_SRC_CAP}
), gk AS (
  SELECT gs.source, gs.gram FROM gs JOIN kept k ON gs.gram = k.gram
), totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM gk GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_grams
  FROM gk a JOIN gk b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b, p.shared_grams,
       ta.n_grams AS na, tb.n_grams AS nb,
       round(CAST(p.shared_grams AS DOUBLE)
             / (ta.n_grams + tb.n_grams - p.shared_grams), 6) AS jaccard
FROM pairs p
JOIN totals ta ON p.src_a = ta.source
JOIN totals tb ON p.src_b = tb.source
ORDER BY p.src_a, p.src_b
"""


MINING_QUERIES.update(
    {
        "dup_span_coverage": q_dup_span_coverage,
        "ngram_novelty": q_ngram_novelty,
        "tfidf_topk": q_tfidf_topk,
        "curation_verdict": q_curation_verdict,
        "zipf_fit": q_zipf_fit,
        "cross_source_overlap": q_cross_source_overlap,
    }
)
MINING_ORACLES.update(
    {
        "dup_span_coverage": _SQL_DUP_SPAN_COVERAGE,
        "ngram_novelty": _SQL_NGRAM_NOVELTY,
        "tfidf_topk": _SQL_TFIDF_TOPK,
        "curation_verdict": _SQL_CURATION_VERDICT,
        "zipf_fit": _SQL_ZIPF_FIT,
        "cross_source_overlap": _SQL_CROSS_SOURCE_OVERLAP,
    }
)
