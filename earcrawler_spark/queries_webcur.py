"""Query batch — web-curation ops (beyond-reference, training-data tier).

Four operators a web-scale crawl→training-data pipeline runs between
the frontier (crawler/runner.py) and the dedup/curation families:

- ``gopher_rules``   — the published Gopher-style per-document quality
  rule ladder (word count, mean word length, symbol ratio, bullet /
  ellipsis line ratios, alpha-word ratio, stopword presence), emitted
  as per-doc metrics + a fixed-order failed-rule string.  Reference
  precedent for rule-gating is the min-length gate at
  nsf_case_parser.py:56-64; the rule set itself is the standard
  public Gopher/C4 filter battery.
- ``domain_quota``   — per-source quota sampling (keep the top-K docs
  per source by size, deterministic tie-break), the diversity cap a
  crawler applies so one hot domain can't dominate the corpus.
- ``hits_scores``    — HITS hub/authority over the same deterministic
  doc_id-derived link graph as ``link_pagerank`` (queries_graph),
  micro-integer arithmetic with max-normalization so every round is
  exact BIGINT and bit-stable across engines and partitionings.
- ``span_integrity`` — per-row span-sequence audit of the interleaved
  text+media table (the north-rule input shape): per doc the span
  count, media count, order invariant (offset == array position,
  text-first) and a sha256 digest of the full (kind, text, media_ref,
  offset) sequence — the query form of the reference's span-sequence
  equality check (earCrawler parser fixtures; engine twin pinned by
  tests/test_spans.py).

Scale notes (100 TB / 1000 executors):
- gopher_rules is two partial-agg-friendly explode→groupBy passes
  (tokens, lines) joined on doc_id — the canonical distributed shape;
  no interpreted higher-order functions in the hot path.
- domain_quota is one hash-partitioned window by source; a skewed
  mega-domain is exactly what the quota bounds, and the rank prune
  happens before any wide output.
- hits_scores is one shuffle per half-round (join ranks on one side,
  groupBy the other); the normalizing max is a broadcast one-row agg.
- span_integrity is a pure per-row projection over the span array —
  no shuffle at all until the final orderBy for output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from earcrawler_spark.functions import text as TXT
from earcrawler_spark.functions.text import STOPWORDS_SQL, TOKENS_SQL
from earcrawler_spark.session import table

WEBCUR_QUERIES: dict = {}
WEBCUR_ORACLES: dict = {}



# --- gopher_rules -------------------------------------------------------

_RULES = [
    # (code, sql_condition_for_FAIL) — fixed order defines the
    # failed_rules string on both engines.
    ("W", "n_words < 50 OR n_words > 100000"),
    ("L", "mean_word_len < 3.0 OR mean_word_len > 10.0"),
    ("S", "symbol_ratio > 0.1"),
    ("B", "bullet_ratio > 0.9"),
    ("E", "ellipsis_ratio > 0.3"),
    ("A", "alpha_ratio < 0.8"),
    ("T", "stop_hits < 2"),
]


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule ladder (public filter battery; reference
    gate precedent nsf_case_parser.py:56-64): per-doc token and line
    statistics, seven pass/fail rules, fixed-order failure codes."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("tok"))
    st = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("tok")).alias("sum_chars"),
        F.sum(
            F.when(F.col("tok").rlike("[a-z]"), F.lit(1)).otherwise(F.lit(0))
        ).alias("alpha_words"),
        F.sum(
            F.when(
                (F.col("tok") == "#") | F.col("tok").contains("..."),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("symbol_words"),
        F.count_distinct(
            F.when(F.col("tok").isin(*TXT.EN_STOPWORDS), F.col("tok"))
        ).alias("stop_hits"),
    )
    lines = docs.select("doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line"))
    lst = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(
                F.col("line").startswith("- ") | F.col("line").startswith("* "),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("bullet_lines"),
        F.sum(
            F.when(F.col("line").endswith("..."), F.lit(1)).otherwise(F.lit(0))
        ).alias("ellipsis_lines"),
    )
    feats = (
        st.join(lst, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(
                F.col("sum_chars").cast("double") / F.col("n_words"), 6
            ).alias("mean_word_len"),
            F.round(
                F.col("symbol_words").cast("double") / F.col("n_words"), 6
            ).alias("symbol_ratio"),
            F.round(
                F.col("alpha_words").cast("double") / F.col("n_words"), 6
            ).alias("alpha_ratio"),
            F.col("stop_hits").cast("bigint").alias("stop_hits"),
            F.round(
                F.col("bullet_lines").cast("double") / F.col("n_lines"), 6
            ).alias("bullet_ratio"),
            F.round(
                F.col("ellipsis_lines").cast("double") / F.col("n_lines"), 6
            ).alias("ellipsis_ratio"),
        )
    )
    failed = F.concat(
        *[
            F.when(F.expr(cond), F.lit(code)).otherwise(F.lit(""))
            for code, cond in _RULES
        ]
    )
    return (
        feats.withColumn("failed_rules", failed)
        .withColumn("passes", F.col("failed_rules") == "")
        .orderBy("doc_id")
    )


_FAILED_SQL = " || ".join(
    f"(CASE WHEN {cond} THEN '{code}' ELSE '' END)" for code, cond in _RULES
)

_SQL_GOPHER_RULES = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
), st AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(tok)) AS BIGINT) AS sum_chars,
         CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
         CAST(sum(CASE WHEN tok = '#' OR contains(tok, '...') THEN 1 ELSE 0 END) AS BIGINT) AS symbol_words,
         CAST(count(DISTINCT CASE WHEN list_contains({STOPWORDS_SQL}, tok) THEN tok END) AS BIGINT) AS stop_hits
  FROM toks GROUP BY doc_id
), ln AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
), lst AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN line LIKE '- %' OR line LIKE '* %' THEN 1 ELSE 0 END) AS BIGINT) AS bullet_lines,
         CAST(sum(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END) AS BIGINT) AS ellipsis_lines
  FROM ln GROUP BY doc_id
), feats AS (
  SELECT s.doc_id, s.n_words,
         round(CAST(s.sum_chars AS DOUBLE) / s.n_words, 6) AS mean_word_len,
         round(CAST(s.symbol_words AS DOUBLE) / s.n_words, 6) AS symbol_ratio,
         round(CAST(s.alpha_words AS DOUBLE) / s.n_words, 6) AS alpha_ratio,
         s.stop_hits,
         round(CAST(l.bullet_lines AS DOUBLE) / l.n_lines, 6) AS bullet_ratio,
         round(CAST(l.ellipsis_lines AS DOUBLE) / l.n_lines, 6) AS ellipsis_ratio
  FROM st s JOIN lst l ON s.doc_id = l.doc_id
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
       bullet_ratio, ellipsis_ratio,
       {_FAILED_SQL} AS failed_rules,
       ({_FAILED_SQL}) = '' AS passes
FROM feats
ORDER BY doc_id
"""

WEBCUR_QUERIES["gopher_rules"] = q_gopher_rules
WEBCUR_ORACLES["gopher_rules"] = _SQL_GOPHER_RULES


# --- domain_quota -------------------------------------------------------

QUOTA_K = 10  # docs kept per source


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: rank docs within each source by size
    (n_chars DESC, doc_id ASC tie-break), keep the top QUOTA_K, report
    the per-source kept/dropped budget — the diversity cap a crawler
    applies so a hot domain can't dominate the training corpus."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    )
    kept = F.when(F.col("rk") <= QUOTA_K, F.lit(1)).otherwise(F.lit(0))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(kept).cast("bigint").alias("kept"),
            (F.count(F.lit(1)) - F.sum(kept)).cast("bigint").alias("dropped"),
            F.sum(F.when(F.col("rk") <= QUOTA_K, F.col("n_chars"))).alias(
                "kept_chars"
            ),
            F.min(F.when(F.col("rk") <= QUOTA_K, F.col("n_chars"))).alias(
                "kept_min_chars"
            ),
        )
        .orderBy("source")
    )


_SQL_DOMAIN_QUOTA = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN rk <= {QUOTA_K} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(count(*) - sum(CASE WHEN rk <= {QUOTA_K} THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
       CAST(sum(CASE WHEN rk <= {QUOTA_K} THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(min(CASE WHEN rk <= {QUOTA_K} THEN n_chars END) AS BIGINT) AS kept_min_chars
FROM ranked
GROUP BY source
ORDER BY source
"""

WEBCUR_QUERIES["domain_quota"] = q_domain_quota
WEBCUR_ORACLES["domain_quota"] = _SQL_DOMAIN_QUOTA


# --- hits_scores --------------------------------------------------------

HITS_ROUNDS = 2
_SCALE = 1_000_000  # micro-integer unit (link_pagerank precedent)


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority (2 unrolled rounds) over the doc_id-derived
    link graph shared with link_pagerank (queries_graph._nodes_edges).
    Each half-round is sum-over-edges then max-normalization back to
    the micro-integer scale — exact BIGINT arithmetic throughout
    (Spark ``div`` == DuckDB ``//`` on non-negative operands), so the
    result is bit-stable across engines and cluster sizes.  The
    normalizing max is a broadcast one-row aggregate."""
    from earcrawler_spark.queries_graph import _nodes_edges

    nodes, edges = _nodes_edges(spark, sf_dir)
    edges = edges.localCheckpoint()  # re-read by every round (link_pagerank)
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))

    h = nodes.select("node", F.lit(_SCALE).cast("bigint").alias("h"))
    a = None
    for _ in range(HITS_ROUNDS):
        araw = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("ar"))
        )
        am = araw.agg(F.max("ar").alias("am"))
        a = (
            nodes.join(araw, nodes["node"] == araw["dst"], "left")
            .crossJoin(F.broadcast(am))
            .select(
                "node",
                F.expr(f"(coalesce(ar, 0) * {_SCALE}) div am")
                .cast("bigint")
                .alias("a"),
            )
        )
        hraw = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("hr"))
        )
        hm = hraw.agg(F.max("hr").alias("hm"))
        h = (
            nodes.join(hraw, nodes["node"] == hraw["src"], "left")
            .crossJoin(F.broadcast(hm))
            .select(
                "node",
                F.expr(f"(coalesce(hr, 0) * {_SCALE}) div hm")
                .cast("bigint")
                .alias("h"),
            )
        )
    return (
        nodes.join(a, "node")
        .join(h, "node")
        .join(out_deg, nodes["node"] == out_deg["src"], "left")
        .join(in_deg, nodes["node"] == in_deg["dst"], "left")
        .select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce(F.col("indeg"), F.lit(0)).cast("bigint").alias("in_deg"),
            F.col("a").alias("auth_micro"),
            F.col("h").alias("hub_micro"),
        )
        .orderBy("node")
    )


def _hits_round_sql(prev_h: str, i: int) -> str:
    return f"""araw{i} AS (
  SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS ar
  FROM edges e JOIN {prev_h} p ON e.src = p.node GROUP BY e.dst
), am{i} AS (SELECT max(ar) AS am FROM araw{i}),
a{i} AS (
  SELECT n.node,
         CAST((coalesce(r.ar, 0) * {_SCALE}) // m.am AS BIGINT) AS a
  FROM nodes n LEFT JOIN araw{i} r ON n.node = r.node CROSS JOIN am{i} m
), hraw{i} AS (
  SELECT e.src AS node, CAST(sum(p.a) AS BIGINT) AS hr
  FROM edges e JOIN a{i} p ON e.dst = p.node GROUP BY e.src
), hm{i} AS (SELECT max(hr) AS hm FROM hraw{i}),
h{i} AS (
  SELECT n.node,
         CAST((coalesce(r.hr, 0) * {_SCALE}) // m.hm AS BIGINT) AS h
  FROM nodes n LEFT JOIN hraw{i} r ON n.node = r.node CROSS JOIN hm{i} m
)"""


def _hits_sql() -> str:
    from earcrawler_spark.queries_graph import PR_FANOUT, _STRIDE

    rounds = ",\n".join(
        _hits_round_sql(f"h{i - 1}" if i > 1 else "h0", i)
        for i in range(1, HITS_ROUNDS + 1)
    )
    last = HITS_ROUNDS
    return f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
nodes AS (SELECT doc_id AS node FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT node AS src, ({_STRIDE} * node + 11 * j) % n AS dst
    FROM nodes CROSS JOIN nd,
         unnest([{", ".join(str(j) for j in range(1, PR_FANOUT + 1))}]) AS u(j))
  WHERE dst <> src
), out_deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
), in_deg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS indeg FROM edges GROUP BY dst
), h0 AS (
  SELECT node, CAST({_SCALE} AS BIGINT) AS h FROM nodes
),
{rounds}
SELECT n.node,
       coalesce(o.outdeg, 0) AS out_deg,
       coalesce(i.indeg, 0) AS in_deg,
       a{last}.a AS auth_micro,
       h{last}.h AS hub_micro
FROM nodes n
JOIN a{last} ON n.node = a{last}.node
JOIN h{last} ON n.node = h{last}.node
LEFT JOIN out_deg o ON n.node = o.src
LEFT JOIN in_deg i ON n.node = i.dst
ORDER BY n.node
"""


WEBCUR_QUERIES["hits_scores"] = q_hits_scores
WEBCUR_ORACLES["hits_scores"] = _hits_sql()


# --- span_integrity -----------------------------------------------------


def q_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence audit of the interleaved text+media table (the
    north-rule input shape; engine twin of the reference's span-sequence
    equality fixtures, tests/test_spans.py): per doc the span count,
    media count, the order invariant (offset == array position, first
    span is text) and a sha256 digest over the exact (kind, text,
    media_ref, offset) sequence.  Pure per-row projection — the span
    arrays are bounded (≤3), so the element-wise lambdas stay off the
    hot path; at unbounded span counts this becomes one mapInPandas."""
    from earcrawler_spark.queries_media import _span_docs

    docs = _span_docs(table(spark, sf_dir, "documents"))
    spans = F.col("spans")
    seq = F.concat_ws(
        "#",
        F.transform(
            spans,
            lambda s: F.concat_ws(
                "|",
                s["kind"],
                s["text"],
                s["media_ref"],
                s["offset"].cast("string"),
            ),
        ),
    )
    order_ok = F.forall(
        F.zip_with(
            F.transform(spans, lambda s: s["offset"]),
            F.sequence(F.lit(0), F.size(spans) - 1),
            lambda o, i: o == i,
        ),
        lambda x: x,
    )
    return docs.select(
        "doc_id",
        F.size(spans).cast("bigint").alias("n_spans"),
        F.size(F.filter(spans, lambda s: s["kind"] == F.lit("media")))
        .cast("bigint")
        .alias("n_media"),
        (spans[0]["kind"] == F.lit("text")).alias("first_is_text"),
        order_ok.alias("order_ok"),
        F.sha2(seq, 256).alias("seq_sha"),
    ).orderBy("doc_id")


_SQL_SPAN_INTEGRITY = """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         doc_id % 4 <> 3 AS has_m1,
         doc_id % 8 = 0 AS has_m2,
         'text|' || text || '||0' AS span_text,
         'media||https://bis.doc.gov/media/' || CAST(doc_id % 120 AS VARCHAR)
           || '.bin|1' AS span_m1,
         'media||https://bis.doc.gov/media/' || CAST(doc_id % 40 + 200 AS VARCHAR)
           || '.bin|2' AS span_m2
  FROM documents
)
SELECT doc_id,
       CAST(1 + (CASE WHEN has_m1 THEN 1 ELSE 0 END)
              + (CASE WHEN has_m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       CAST((CASE WHEN has_m1 THEN 1 ELSE 0 END)
              + (CASE WHEN has_m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       TRUE AS first_is_text,
       TRUE AS order_ok,
       sha256(span_text
              || (CASE WHEN has_m1 THEN '#' || span_m1 ELSE '' END)
              || (CASE WHEN has_m2 THEN '#' || span_m2 ELSE '' END)) AS seq_sha
FROM base
ORDER BY doc_id
"""

WEBCUR_QUERIES["span_integrity"] = q_span_integrity
WEBCUR_ORACLES["span_integrity"] = _SQL_SPAN_INTEGRITY
