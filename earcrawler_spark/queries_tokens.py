"""Query batch 6 — training-data tokenization + fingerprinting + IVF ANN
(brief-named operators: "token counting (whitespace + a BPE-ish regex)",
"document fingerprinting (rolling hash)", "IVF … variant as the scale
path").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.session import table

# BPE-ish pre-tokenizer (GPT-2-style split classes, ASCII-safe so the same
# pattern runs under Java regex and DuckDB's RE2): letter runs, digit runs,
# single punctuation marks.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
CHAR_NGRAM = 5
BOTTOM_K = 8


def q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting per source next to whitespace counts — the
    two token budgets a training pipeline tracks."""
    docs = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), F.lit(0))
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    per_doc = docs.select(
        "source", F.size(bpe).alias("n_bpe"), F.size(ws).alias("n_ws")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_ws").alias("ws_tokens"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe_per_doc"),
        )
        .orderBy("source")
    )


_SQL_TOKEN_BPE = f"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS n_bpe,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_ws
  FROM documents
)
SELECT source, CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       round(avg(n_bpe), 4) AS avg_bpe_per_doc
FROM per_doc GROUP BY source ORDER BY source
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via character n-gram hashing with bottom-k
    sampling (winnowing-style rolling-hash sketch): the 8 smallest
    sha256(5-gram) values identify a document robustly under small edits.
    Emitted as the concatenated sketch hash per doc."""
    docs = table(spark, sf_dir, "documents")
    grams = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.length("text") - (CHAR_NGRAM - 1), F.lit(1)),
        ),
        lambda i: F.sha2(F.substring(F.col("text"), i, CHAR_NGRAM), 256),
    )
    sketch = F.slice(F.array_sort(F.array_distinct(grams)), 1, BOTTOM_K)
    return docs.select(
        "doc_id",
        F.sha2(F.array_join(sketch, ""), 256).alias("fingerprint"),
    ).orderBy("doc_id")


_SQL_ROLLING_FP = f"""
WITH grams AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
             range(1, greatest(length(text) - {CHAR_NGRAM - 1}, 1) + 1),
             i -> sha256(substr(text, i, {CHAR_NGRAM}))))) AS g
  FROM documents
)
SELECT doc_id,
       sha256(array_to_string(list_slice(g, 1, {BOTTOM_K}), '')) AS fingerprint
FROM grams
ORDER BY doc_id
"""


IVF_K = 10
IVF_ITERS = 4


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (IVF_K, IVF_ITERS) quantizer trained once per (session, sf_dir)
    and shared by ann_ivf_lists, ann_ivf_search and semdedup — the three
    queries run the IDENTICAL deterministic Lloyd loop, so the sweep
    paid for it three times.  kmeans_train already ends in a
    localCheckpoint, so the shared frame is materialized k-row data."""
    from earcrawler_spark.operators.similarity import kmeans_train
    from earcrawler_spark.session import shared_frame

    def build():
        emb = table(spark, sf_dir, "embeddings")
        return kmeans_train(emb, k=IVF_K, iters=IVF_ITERS)

    return shared_frame(spark, sf_dir, "ivf_centroids", build)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with TRAINED coarse quantizer: deterministic
    spherical k-means (seedless init, 4 Lloyd rounds, all DataFrame ops)
    replaces the earlier every-50th-vector subset; each vector goes to
    its nearest centroid's inverted list; search probes only the query's
    nearest lists. Emits list sizes + assignment quality. Rows-only
    check; recall vs brute force (trained >= untrained) is
    pytest-verified."""
    from earcrawler_spark.operators.similarity import ivf_assign

    emb = table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, trained_centroids(spark, sf_dir))
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("list_size"),
            F.round(F.avg("sim"), 4).alias("avg_sim_to_centroid"),
        )
        .orderBy("centroid_id")
    )


NEARDUP_COSINE_T = 0.4


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.4), exact all-pairs —
    the correctness oracle for the bucketed ANN paths (ann_lsh_buckets /
    ann_ivf_lists are the scale shapes; this is the dedup-family
    ground truth, same role ngram_jaccard_pairs plays for MinHash-LSH)."""
    from earcrawler_spark.operators.similarity import cosine

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_COSINE_T)
        .orderBy("vec_a", "vec_b")
    )


_SQL_COSINE_NEARDUP = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i]), 'sum'))
                * sqrt(list_aggregate(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i]), 'sum'))), 6)
         AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {NEARDUP_COSINE_T}
ORDER BY vec_a, vec_b
"""


NPROBE = 3
SEARCH_K = 10
SEARCH_QUERY_IDS = [0, 1, 2, 3, 4]


def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-probe top-k retrieval — the similarity-search
    SCALE path (brute-force `knn_bruteforce` is the baseline): train the
    coarse quantizer, probe each query's nprobe=3 nearest inverted
    lists, rank candidates inside the probed lists only, and carry an
    `in_exact_topk` flag against the exact brute-force top-10 so every
    row is its own recall evidence.

    Scale shape (100 TB): the probed-lists join keys on centroid_id —
    the big side is the (vec_id, centroid_id) assignment co-located by
    one shuffle, the probe side is |Q|*nprobe rows broadcast; scoring
    touches only sum_probed |list| candidates instead of |Q|*N. The
    exact leg exists for recall accounting and stays a broadcast of |Q|
    rows over one corpus scan."""
    from earcrawler_spark.operators.similarity import (
        cosine,
        cosine_topk,
        ivf_assign,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = trained_centroids(spark, sf_dir)
    assigned = ivf_assign(emb, cents).select("vec_id", "centroid_id")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id").isin(SEARCH_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "centroid_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("psim"),
        )
        .withColumn(
            "pr",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("psim"), "centroid_id")
            ),
        )
        .filter(F.col("pr") <= NPROBE)
        .select("query_id", "qv", "centroid_id")
    )
    scored = (
        e.join(assigned, "vec_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
        )
    )
    hits = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        ),
    ).filter(F.col("rank") <= SEARCH_K)
    exact = cosine_topk(emb, SEARCH_QUERY_IDS, k=SEARCH_K).select(
        "query_id", "neighbor_id", F.lit(True).alias("hit")
    )
    return (
        hits.join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "cosine",
            F.coalesce("hit", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("query_id", "rank")
    )


TOKEN_QUERIES = {
    "token_stats_bpe": q_token_stats_bpe,
    "rolling_fingerprint": q_rolling_fingerprint,
    "ann_ivf_lists": q_ann_ivf,
    "ann_ivf_search": q_ann_ivf_search,
    "cosine_neardup": q_cosine_neardup,
}

def _sql_dot(a: str, b: str) -> str:
    return (f"list_aggregate(list_transform(range(1, len({a})+1), "
            f"i -> {a}[i]*{b}[i]), 'sum')")


def _sql_cos(a: str, b: str) -> str:
    return (f"({_sql_dot(a, b)} / "
            f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))")


def _sql_norm(v: str) -> str:
    return (f"CASE WHEN sqrt({_sql_dot(v, v)}) > 0 "
            f"THEN list_transform({v}, x -> x / sqrt({_sql_dot(v, v)})) "
            f"ELSE {v} END")


def kmeans_cents_sql(
    k: int,
    iters: int,
    vec_expr: str = "CAST(embedding AS DOUBLE[])",
    prefix: str = "",
) -> tuple[str, str]:
    """The deterministic spherical k-means rounds UNROLLED as DuckDB
    CTEs (init = k smallest vec_ids, per-round argmin on round(cos, 6)
    + centroid-id tie-break, per-dim means, renormalize, empty clusters
    keep the previous centroid) — mirrors operators/similarity.
    kmeans_train exactly. Returns (cte_chain, final_cents_name) so the
    ann_ivf_lists / ann_ivf_search / semdedup oracles share one
    trained-quantizer definition.  ``vec_expr``/``prefix`` let pq_codes
    train one chain per subvector slice without CTE-name collisions."""
    cos, norm = _sql_cos, _sql_norm
    p = prefix
    rounds = []
    for r in range(1, iters + 1):
        prev = f"{p}cents{r - 1}"
        rounds.append(f"""{p}best{r} AS (
  SELECT vid, v, cid FROM (
    SELECT e.vid, e.v, c.centroid_id AS cid,
           row_number() OVER (PARTITION BY e.vid
             ORDER BY round({cos('e.v', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
    FROM {p}e e, {prev} c) WHERE rn = 1
), {p}cvec{r} AS (
  SELECT centroid_id, list(m ORDER BY dim) AS cv_raw FROM (
    SELECT cid AS centroid_id, dim, avg(x) AS m
    FROM (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x
          FROM {p}best{r})
    GROUP BY cid, dim)
  GROUP BY centroid_id
), {p}cents{r} AS (
  SELECT p.centroid_id, coalesce({norm('n.cv_raw')}, p.cv) AS cv
  FROM {prev} p LEFT JOIN {p}cvec{r} n ON p.centroid_id = n.centroid_id
)""")
    rounds_sql = ",\n".join(rounds)
    chain = f"""{p}e0 AS (
  SELECT vec_id AS vid, {vec_expr} AS v FROM embeddings
), {p}e AS (
  SELECT vid, {norm('v')} AS v FROM {p}e0
), {p}cents0 AS (
  SELECT vid AS centroid_id, v AS cv FROM {p}e ORDER BY vid LIMIT {k}
),
{rounds_sql}"""
    return chain, f"{p}cents{iters}"


def _ivf_sql(k: int = IVF_K, iters: int = IVF_ITERS) -> str:
    """ann_ivf_lists oracle: the shared trained-quantizer CTE chain
    (kmeans_cents_sql) followed by the assignment + inverted-list stage
    — the whole trained path has an oracle row instead of rows-only
    (VERDICT r4 #7)."""
    cos = _sql_cos
    chain, cents = kmeans_cents_sql(k, iters)
    return f"""
WITH {chain},
e2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, cid AS centroid_id, sim FROM (
    SELECT e2.vec_id, c.centroid_id AS cid,
           round({cos('e2.v', 'c.cv')}, 6) AS sim,
           row_number() OVER (PARTITION BY e2.vec_id
             ORDER BY round({cos('e2.v', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
    FROM e2, {cents} c) WHERE rn = 1
)
SELECT centroid_id, count(*) AS list_size,
       CAST(round(avg(sim), 4) AS DOUBLE) AS avg_sim_to_centroid
FROM assigned GROUP BY centroid_id
ORDER BY centroid_id
"""


def _ivf_search_sql(
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = NPROBE,
    topk: int = SEARCH_K,
) -> str:
    """ann_ivf_search oracle: shared trained-quantizer CTE chain +
    assignment, nprobe-list probing, in-list ranking, and the exact
    brute-force top-k leg for the in_exact_topk flag."""
    cos = _sql_cos
    chain, cents = kmeans_cents_sql(k, iters)
    qids = ", ".join(str(i) for i in SEARCH_QUERY_IDS)
    return f"""
WITH {chain},
e2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT e2.vec_id, c.centroid_id AS cid,
           row_number() OVER (PARTITION BY e2.vec_id
             ORDER BY round({cos('e2.v', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
    FROM e2, {cents} c) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e2 WHERE vec_id IN ({qids})
), probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({cos('q.qv', 'c.cv')}, 6) DESC, c.centroid_id) AS pr
    FROM q, {cents} c) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.query_id, e2.vec_id AS neighbor_id,
         round({cos('p.qv', 'e2.v')}, 6) AS cosine
  FROM probes p
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN e2 ON e2.vec_id = a.vec_id
  WHERE e2.vec_id <> p.query_id
), hits AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored QUALIFY rank <= {topk}
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({cos('q.qv', 'e2.v')}, 6) DESC, e2.vec_id) AS rk
    FROM q, e2 WHERE e2.vec_id <> q.query_id) WHERE rk <= {topk}
)
SELECT h.query_id, h.rank, h.neighbor_id, h.cosine,
       (x.neighbor_id IS NOT NULL) AS in_exact_topk
FROM hits h LEFT JOIN exact x
  ON x.query_id = h.query_id AND x.neighbor_id = h.neighbor_id
ORDER BY h.query_id, h.rank
"""


TOKEN_ORACLES = {
    "token_stats_bpe": _SQL_TOKEN_BPE,
    "rolling_fingerprint": _SQL_ROLLING_FP,
    "ann_ivf_lists": _ivf_sql(),
    "ann_ivf_search": _ivf_search_sql(),
    "cosine_neardup": _SQL_COSINE_NEARDUP,
}


PQ_M = 8        # subspaces (64-dim vectors -> 8 dims each)
PQ_K = 4        # centroids per subspace -> 2-bit codes
PQ_ITERS = 2
PQ_SUBDIM = 8


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011, spherical variant):
    split each 64-dim embedding into 8 subvectors, train an independent
    k=4 quantizer per subspace (same deterministic Lloyd loop as the IVF
    family), and emit each vector's (subspace, code, sim) assignments —
    the 8x2-bit compressed representation an ANN index stores instead
    of raw floats.  Code labels are the quantizer's centroid ids.

    Scale shape: the 8 sub-quantizers train JOINTLY in one lineage
    (kmeans_train_grouped, subspace as the grouping key) — one
    vector-slice explode, then per Lloyd round ONE broadcast-32-
    centroid assignment and ONE (subspace, cid, dim) partial-avg
    shuffle covering all subspaces, instead of 8 sequential per-slice
    trainings; assignment is the same grouped broadcast argmax."""
    from earcrawler_spark.operators.similarity import (
        ivf_assign_grouped,
        kmeans_train_grouped,
    )

    emb = table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    sub_all = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice(vec, s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
                    )
                    for s in range(PQ_M)
                ]
            )
        ).alias("p"),
    ).select("vec_id", F.col("p.subspace").alias("subspace"), F.col("p.sub").alias("sub"))
    cents = kmeans_train_grouped(
        sub_all, k=PQ_K, iters=PQ_ITERS, group_col="subspace", vec_col="sub"
    )
    return (
        ivf_assign_grouped(sub_all, cents, group_col="subspace", vec_col="sub")
        .select(
            "vec_id",
            "subspace",
            F.col("centroid_id").alias("code"),
            "sim",
        )
        .orderBy("vec_id", "subspace")
    )


def _pq_sql() -> str:
    cos = _sql_cos
    chains, branches = [], []
    for s in range(PQ_M):
        vec = (f"list_slice(CAST(embedding AS DOUBLE[]), "
               f"{s * PQ_SUBDIM + 1}, {(s + 1) * PQ_SUBDIM})")
        chain, cents = kmeans_cents_sql(
            PQ_K, PQ_ITERS, vec_expr=vec, prefix=f"s{s}_"
        )
        chains.append(chain)
        branches.append(f"""SELECT vec_id, {s} AS subspace, cid AS code, sim FROM (
  SELECT r.vec_id, c.centroid_id AS cid, round({cos('r.v', 'c.cv')}, 6) AS sim,
         row_number() OVER (PARTITION BY r.vec_id
           ORDER BY round({cos('r.v', 'c.cv')}, 6) DESC, c.centroid_id) AS rn
  FROM (SELECT vec_id, {vec} AS v FROM embeddings) r, {cents} c) WHERE rn = 1""")
    return (
        "\nWITH " + ",\n".join(chains) + "\n"
        + "\nUNION ALL\n".join(branches)
        + "\nORDER BY vec_id, subspace"
    )


TOKEN_QUERIES["pq_codes"] = q_pq_codes
TOKEN_ORACLES["pq_codes"] = _pq_sql()
