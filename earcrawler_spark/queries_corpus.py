"""Query batch 3 — corpus/KG operator parity (SURVEY.md §2.2/2.4/2.5).

Covers: entity classification (P7/P8), record normalization + ID minting
(P11/P12), corpus digest (D9), deterministic chunking (P16), mention
scoring (P9), IRI minting (P13), truncation (P21), as-of with status
classification (J9 full + A11), SPARQL-style BGP joins over a triples
table (J2) with anti-join integrity (J3), perf budget gate (A9),
soundex blocking key (P20 — Spark-native, rows-only check since DuckDB
lacks soundex).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import TOKENS_SQL, tokens
from earcrawler_spark.session import table


# --- P7/P8: term extraction + rule classification --------------------------

_CLASSIFY_RULES = [
    # (bucket, tokens that classify into it) — when/otherwise chain like
    # corpus/sources.py:116-151 (prefix/keyword rules → GRANT/ORG/PERSON)
    ("ENGINE", ("spark", "hash", "scan", "sort", "merge", "join")),
    ("DATA", ("table", "row", "column", "batch", "stream", "vector")),
    ("QUERY", ("filter", "group", "agg", "window", "order", "query")),
]


def q_entity_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify extracted terms into buckets via rule chain; count
    mentions + distinct docs per (bucket, term)."""
    docs = table(spark, sf_dir, "documents")
    term = F.col("term")
    bucket = F.lit("OTHER")
    for name, toks in reversed(_CLASSIFY_RULES):
        bucket = F.when(term.isin(*toks), F.lit(name)).otherwise(bucket)
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") != "OTHER")
        .groupBy("bucket", "term")
        .agg(
            F.count(F.lit(1)).alias("mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("bucket", "term")
    )


def _classify_sql() -> str:
    cases = " ".join(
        f"WHEN term IN ({', '.join(repr(t) for t in toks)}) THEN '{name}'"
        for name, toks in _CLASSIFY_RULES
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest({TOKENS_SQL}) AS term
  FROM documents
), cls AS (
  SELECT doc_id, term, CASE {cases} ELSE 'OTHER' END AS bucket FROM tok
)
SELECT bucket, term, count(*) AS mentions, count(DISTINCT doc_id) AS n_docs
FROM cls WHERE bucket <> 'OTHER'
GROUP BY bucket, term
ORDER BY bucket, term
"""


# --- P11/P12/P13/D9: record minting, normalization, IRI, digest ------------

def q_corpus_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mint canonical corpus records from documents: record_id =
    'source:doc_id' (identity.py:15-25), content sha256, identifiers
    array, percent-encoded IRI (iri.py:21-38 — space-free charset here,
    so the encoding reduces to ':'→'%3A')."""
    docs = table(spark, sf_dir, "documents")
    rid = F.concat_ws(":", "source", F.col("doc_id").cast("string"))
    return docs.select(
        rid.alias("record_id"),
        F.col("doc_id"),
        F.col("source"),
        F.sha2("text", 256).alias("content_sha256"),
        # '|'-joined string form: the driver gate cannot hash list cells.
        F.array_join(F.array(rid), "|").alias("identifiers"),
        F.concat(
            F.lit("https://ear.example/record/"),
            F.regexp_replace(rid, ":", "%3A"),
        ).alias("iri"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang_norm"),
    ).orderBy("record_id")


_SQL_CORPUS_RECORDS = """
SELECT source || ':' || CAST(doc_id AS VARCHAR) AS record_id,
       doc_id, source,
       sha256(text) AS content_sha256,
       array_to_string([source || ':' || CAST(doc_id AS VARCHAR)], '|') AS identifiers,
       'https://ear.example/record/' ||
         regexp_replace(source || ':' || CAST(doc_id AS VARCHAR), ':', '%3A', 'g') AS iri,
       coalesce(lang, 'und') AS lang_norm
FROM documents
ORDER BY record_id
"""


def q_corpus_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 order-insensitive corpus digest per source: sha256 over the
    sorted concatenation of content hashes (rag/build_corpus.py
    compute_corpus_digest semantics)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.sha2("text", 256).alias("h"))
        .groupBy("source")
        .agg(
            F.sha2(F.array_join(F.array_sort(F.collect_list("h")), ""), 256).alias(
                "digest"
            ),
            F.count(F.lit(1)).alias("n_records"),
        )
        .orderBy("source")
    )


_SQL_CORPUS_DIGEST = """
SELECT source,
       sha256(string_agg(sha256(text), '' ORDER BY sha256(text))) AS digest,
       count(*) AS n_records
FROM documents
GROUP BY source
ORDER BY source
"""


# --- P16: deterministic chunking --------------------------------------------

CHUNK_TOKENS = 40


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic chunking (chunking.py:144-286 re-expressed): split
    each doc into fixed 40-token chunks with stable '#pNNNN' chunk ids
    and 1-based ordinals (chunking.py:118-129's suffix scheme)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), lowercase=False)
    n_chunks = F.ceil(F.size(toks) / CHUNK_TOKENS).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
        lambda i: F.struct(
            i.alias("ordinal"),
            F.array_join(
                F.slice(toks, (i - 1) * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.ordinal").alias("ordinal"),
            F.format_string("%s#p%04d", F.col("doc_id").cast("string"), F.col("c.ordinal")).alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
        .filter(F.col("chunk_text") != "")
        .orderBy("doc_id", "ordinal")
    )


_SQL_CHUNKING = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
), ch AS (
  SELECT doc_id, i AS ordinal,
         array_to_string(list_slice(tk, (i-1)*{CHUNK_TOKENS}+1, i*{CHUNK_TOKENS}), ' ') AS chunk_text
  FROM toks,
       unnest(range(1, greatest(CAST(ceil(len(tk) * 1.0 / {CHUNK_TOKENS}) AS INT), 1) + 1)) AS u(i)
)
SELECT doc_id, ordinal,
       printf('%s#p%04d', CAST(doc_id AS VARCHAR), ordinal) AS chunk_id,
       chunk_text
FROM ch WHERE chunk_text <> ''
ORDER BY doc_id, ordinal
"""


# --- P9: mention scoring -----------------------------------------------------

# Candidates chosen so each of the reference's 4 tiers fires somewhere in
# the corpus: plain bigrams (exact tier), corporate-stopword suffixes
# (core-contiguous tier), rarely-adjacent token pairs (window tier), and
# initials-only hits (acronym tier).
MENTION_CANDIDATES = [
    "spark join",
    "batch stream inc",
    "table scan company",
    "hash join",
    "row group holdings",
]


def q_mention_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 4-tier mention scoring — full reference parity
    (transforms/mentions.py:82-134): exact sequence 1.0, core-contiguous
    0.85, core-in-window(8) 0.65, acronym 0.45, with the reference's
    stopword-filtered core tokens and [A-Za-z0-9']+ tokenization.
    Candidates = a fixed phrase list (broadcast), texts = documents."""
    from earcrawler_spark.operators.mentions import (
        mention_score_tokens,
        mention_tokens,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", mention_tokens(F.col("text")).alias("tt")
    )
    cands = spark.createDataFrame(
        list(enumerate(MENTION_CANDIDATES)), "cand_id int, cand string"
    ).select("cand_id", mention_tokens(F.col("cand")).alias("ct"))
    return (
        docs.crossJoin(F.broadcast(cands))
        .select(
            "doc_id",
            "cand_id",
            mention_score_tokens(F.col("tt"), F.col("ct")).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy("doc_id", "cand_id")
    )


def _mention_sql() -> str:
    from earcrawler_spark.operators.mentions import mention_score_sql

    values = ", ".join(f"({i}, '{c}')" for i, c in enumerate(MENTION_CANDIDATES))
    return f"""
WITH cands AS (
  SELECT * FROM (VALUES {values}) AS v(cand_id, cand)
), scored AS (
  SELECT d.doc_id, c.cand_id,
         {mention_score_sql("d.text", "c.cand")} AS score
  FROM documents d CROSS JOIN cands c
)
SELECT doc_id, cand_id, score FROM scored WHERE score > 0
ORDER BY doc_id, cand_id
"""


_SQL_MENTION = _mention_sql()


# --- P21: word-boundary truncation -------------------------------------------

def q_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-context truncation (rag_service.py:148-161): keep the first
    15 tokens, append '[truncated]' when longer."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), lowercase=False)
    short = F.array_join(F.slice(toks, 1, 15), " ")
    return docs.select(
        "doc_id",
        F.when(F.size(toks) > 15, F.concat(short, F.lit(" [truncated]")))
        .otherwise(short)
        .alias("context"),
    ).orderBy("doc_id")


_SQL_TRUNCATION = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(tk) > 15
            THEN array_to_string(list_slice(tk, 1, 15), ' ') || ' [truncated]'
            ELSE array_to_string(list_slice(tk, 1, 15), ' ') END AS context
FROM toks
ORDER BY doc_id
"""


# --- J9 full + A11: as-of with effective windows + status classification ----

ASOF_DATE = "1998-06-01"


def _temporal_docs(orders: DataFrame) -> DataFrame:
    """Deterministic temporal metadata from the orders table: sections =
    customer keys; snapshots = order dates; every 4th doc gets a bounded
    effective window, every (4k+1)th an open-ended one, every 17th no
    metadata at all (the 'unknown' path)."""
    k = F.col("o_orderkey")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        k.alias("doc_id"),
        F.when(k % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("SEC"), (F.col("o_custkey") % 50).cast("string")))
        .alias("section_id"),
        F.when(k % 17 == 0, F.lit(None).cast("date")).otherwise(od).alias(
            "snapshot_date"
        ),
        F.when((k % 17 != 0) & (k % 4 < 2), F.date_sub(od, 30))
        .otherwise(F.lit(None).cast("date"))
        .alias("effective_from"),
        F.when((k % 17 != 0) & (k % 4 == 0), F.date_add(od, 60))
        .otherwise(F.lit(None).cast("date"))
        .alias("effective_to"),
    )


def q_asof_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/A11 full temporal selection (temporal.py:226-339): effective
    windows take precedence (future/expired/applicable), snapshot lineage
    argmax per section (applicable/future/superseded), 'unknown' for
    missing metadata, plus the conservative refusal flag. Emits
    (status, reason, n_docs, refusal_reason) — all 5 statuses fire on
    this domain."""
    from earcrawler_spark.operators.temporal import (
        classify_temporal,
        refusal_reason_col,
    )

    docs = _temporal_docs(table(spark, sf_dir, "orders"))
    classified = classify_temporal(docs, ASOF_DATE)
    counts = (
        classified.groupBy("temporal_status", "temporal_reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        counts.crossJoin(F.broadcast(refusal_reason_col(classified)))
        .select(
            F.col("temporal_status").alias("status"),
            F.col("temporal_reason").alias("reason"),
            "n_docs",
            "refusal_reason",
        )
        .orderBy("status", "reason")
    )


_SQL_ASOF_STATUS = f"""
WITH docs AS (
  SELECT o_orderkey AS doc_id,
         CASE WHEN o_orderkey % 17 = 0 THEN NULL
              ELSE 'SEC' || CAST(o_custkey % 50 AS VARCHAR) END AS section_id,
         CASE WHEN o_orderkey % 17 = 0 THEN NULL
              ELSE CAST(o_orderdate AS DATE) END AS snapshot_date,
         CASE WHEN o_orderkey % 17 <> 0 AND o_orderkey % 4 < 2
              THEN CAST(o_orderdate AS DATE) - 30 END AS effective_from,
         CASE WHEN o_orderkey % 17 <> 0 AND o_orderkey % 4 = 0
              THEN CAST(o_orderdate AS DATE) + 60 END AS effective_to
  FROM orders
), chosen AS (
  SELECT section_id, max(snapshot_date) AS chosen_snapshot
  FROM docs
  WHERE section_id IS NOT NULL AND snapshot_date IS NOT NULL
    AND snapshot_date <= DATE '{ASOF_DATE}'
  GROUP BY section_id
), classified AS (
  SELECT d.doc_id,
    CASE
      WHEN d.effective_from IS NOT NULL OR d.effective_to IS NOT NULL THEN
        CASE WHEN d.effective_from IS NOT NULL AND DATE '{ASOF_DATE}' < d.effective_from
               THEN ['future', 'effective_from_after_query_date']
             WHEN d.effective_to IS NOT NULL AND DATE '{ASOF_DATE}' > d.effective_to
               THEN ['expired', 'effective_to_before_query_date']
             ELSE ['applicable', 'within_effective_window'] END
      WHEN d.section_id IS NOT NULL AND d.snapshot_date IS NOT NULL THEN
        CASE WHEN c.chosen_snapshot IS NULL
               THEN ['future', 'no_snapshot_at_or_before_query_date']
             WHEN d.snapshot_date = c.chosen_snapshot
               THEN ['applicable', 'latest_snapshot_at_or_before_query_date']
             WHEN d.snapshot_date > DATE '{ASOF_DATE}'
               THEN ['future', 'snapshot_after_query_date']
             ELSE ['superseded', 'older_snapshot_superseded_for_query_date'] END
      ELSE ['unknown', 'no_temporal_metadata']
    END AS sr
  FROM docs d LEFT JOIN chosen c ON d.section_id = c.section_id
), refusal AS (
  SELECT CASE
      WHEN sum(CASE WHEN sr[1] = 'applicable' THEN 1 ELSE 0 END) > 0 THEN NULL
      WHEN sum(CASE WHEN sr[1] = 'unknown' THEN 1 ELSE 0 END) > 0
        THEN 'temporal_evidence_ambiguous'
      ELSE 'no_temporally_applicable_evidence' END AS refusal_reason
  FROM classified
)
SELECT sr[1] AS status, sr[2] AS reason,
       count(*) AS n_docs, r.refusal_reason
FROM classified, refusal r
GROUP BY status, reason, r.refusal_reason
ORDER BY status, reason
"""


# --- J2/J3: triples BGP joins + integrity anti-join --------------------------

def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A KG triples table derived from the star schema: the reference's
    RDF graph shape (kg/triples.py:12-52) as DataFrame(s, p, o)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders")
    t1 = cust.select(
        F.concat(F.lit("customer/"), F.col("c_custkey").cast("string")).alias("s"),
        F.lit("in_nation").alias("p"),
        F.concat(F.lit("nation/"), F.col("c_nationkey").cast("string")).alias("o"),
    )
    t2 = nation.select(
        F.concat(F.lit("nation/"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("has_name").alias("p"),
        F.col("n_name").alias("o"),
    )
    t3 = orders.select(
        F.concat(F.lit("order/"), F.col("o_orderkey").cast("string")).alias("s"),
        F.lit("by_customer").alias("p"),
        F.concat(F.lit("customer/"), F.col("o_custkey").cast("string")).alias("o"),
    )
    return t1.unionByName(t2).unionByName(t3)


_SQL_TRIPLES = """
  SELECT 'customer/' || CAST(c_custkey AS VARCHAR) AS s, 'in_nation' AS p,
         'nation/' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
  UNION ALL
  SELECT 'nation/' || CAST(n_nationkey AS VARCHAR), 'has_name', n_name FROM nation
  UNION ALL
  SELECT 'order/' || CAST(o_orderkey AS VARCHAR), 'by_customer',
         'customer/' || CAST(o_custkey AS VARCHAR) FROM orders
"""


def q_triples_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BGP as triple self-joins (perf/queries/warm/join.rq shape):
    ?order by_customer ?c . ?c in_nation ?n . ?n has_name ?name
    → orders per nation name, top 10."""
    t = _triples(spark, sf_dir)
    by_cust = t.filter(F.col("p") == "by_customer").select(
        F.col("s").alias("order_iri"), F.col("o").alias("cust_iri")
    )
    in_nation = t.filter(F.col("p") == "in_nation").select(
        F.col("s").alias("cust_iri"), F.col("o").alias("nation_iri")
    )
    has_name = t.filter(F.col("p") == "has_name").select(
        F.col("s").alias("nation_iri"), F.col("o").alias("nation_name")
    )
    return (
        by_cust.join(in_nation, "cust_iri")
        .join(F.broadcast(has_name), "nation_iri")
        .groupBy("nation_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "nation_name")
        .limit(10)
    )


_SQL_TRIPLES_BGP = f"""
WITH triples AS ({_SQL_TRIPLES})
SELECT n.o AS nation_name, count(*) AS n_orders
FROM triples o
JOIN triples c ON c.p = 'in_nation' AND c.s = o.o
JOIN triples n ON n.p = 'has_name' AND n.s = c.o
WHERE o.p = 'by_customer'
GROUP BY n.o
ORDER BY n_orders DESC, nation_name
LIMIT 10
"""


def q_triples_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 FILTER NOT EXISTS (kg/queries.py:13-55): customers with no
    order triples — orphan-subject anti-join over the triples table."""
    t = _triples(spark, sf_dir)
    custs = t.filter(F.col("p") == "in_nation").select(F.col("s").alias("cust_iri"))
    ordered = t.filter(F.col("p") == "by_customer").select(
        F.col("o").alias("cust_iri")
    ).distinct()
    return (
        custs.join(ordered, "cust_iri", "left_anti")
        .orderBy("cust_iri")
    )


_SQL_TRIPLES_INTEGRITY = f"""
WITH triples AS ({_SQL_TRIPLES})
SELECT s AS cust_iri FROM triples c
WHERE p = 'in_nation'
  AND NOT EXISTS (SELECT 1 FROM triples o WHERE o.p = 'by_customer' AND o.o = c.s)
ORDER BY cust_iri
"""


def q_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK (kg/sparql.py:46-53): exists-as-boolean per pattern.
    Three asks over the triples table — a 3-hop BGP that holds, a
    constant lookup that holds, and one that cannot — each compiled to a
    broadcast-joined count aggregate (no collect; the boolean is a 1-row
    DataFrame exactly like the reference's {'boolean': ...} payload)."""
    t = _triples(spark, sf_dir)

    def exists(name: str, df) -> DataFrame:
        return df.agg(
            F.lit(name).alias("pattern"), (F.count(F.lit(1)) > 0).alias("ask")
        )

    has_name = t.filter(F.col("p") == "has_name")
    germany = has_name.filter(F.col("o") == "GERMANY").select(
        F.col("s").alias("nation_iri")
    )
    in_nation = t.filter(F.col("p") == "in_nation").select(
        F.col("s").alias("cust_iri"), F.col("o").alias("nation_iri")
    )
    by_cust = t.filter(F.col("p") == "by_customer").select(
        F.col("o").alias("cust_iri")
    )
    ask1 = exists(
        "order_by_customer_in_germany",
        by_cust.join(in_nation, "cust_iri").join(F.broadcast(germany), "nation_iri"),
    )
    ask2 = exists("nation_named_germany", germany)
    ask3 = exists(
        "nation_named_atlantis", has_name.filter(F.col("o") == "ATLANTIS")
    )
    return ask1.unionByName(ask2).unionByName(ask3).orderBy("pattern")


_SQL_SPARQL_ASK = f"""
WITH triples AS ({_SQL_TRIPLES})
SELECT 'order_by_customer_in_germany' AS pattern,
       EXISTS (SELECT 1 FROM triples o
               JOIN triples c ON c.p = 'in_nation' AND c.s = o.o
               JOIN triples n ON n.p = 'has_name' AND n.s = c.o AND n.o = 'GERMANY'
               WHERE o.p = 'by_customer') AS ask
UNION ALL
SELECT 'nation_named_germany',
       EXISTS (SELECT 1 FROM triples WHERE p = 'has_name' AND o = 'GERMANY')
UNION ALL
SELECT 'nation_named_atlantis',
       EXISTS (SELECT 1 FROM triples WHERE p = 'has_name' AND o = 'ATLANTIS')
ORDER BY pattern
"""


# --- A9: perf budget gate ----------------------------------------------------

BUDGETS = [("click", 60.0), ("purchase", 65.0), ("signup", 55.0), ("error", 50.0), ("view", 70.0)]


def q_budget_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget gate compare (utils/perf_report.py:71-101): per-event-type
    p95 of value vs a budget table → pass/fail + margin."""
    ev = table(spark, sf_dir, "events")
    budgets = spark.createDataFrame(BUDGETS, "event_type string, p95_budget double")
    summary = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_value")
    )
    return (
        summary.join(F.broadcast(budgets), "event_type", "left")
        .select(
            "event_type",
            "p95_value",
            "p95_budget",
            F.when(F.col("p95_budget").isNull(), "no_budget")
            .when(F.col("p95_value") <= F.col("p95_budget"), "pass")
            .otherwise("fail")
            .alias("gate"),
            F.round(F.col("p95_budget") - F.col("p95_value"), 4).alias("margin"),
        )
        .orderBy("event_type")
    )


_SQL_BUDGET_GATE = f"""
WITH budgets AS (
  SELECT * FROM (VALUES {", ".join(f"('{t}', CAST({b} AS DOUBLE))" for t, b in BUDGETS)})
  AS v(event_type, p95_budget)
), summary AS (
  SELECT event_type, round(quantile_cont(value, 0.95), 4) AS p95_value
  FROM events GROUP BY event_type
)
SELECT s.event_type, s.p95_value, b.p95_budget,
       CASE WHEN b.p95_budget IS NULL THEN 'no_budget'
            WHEN s.p95_value <= b.p95_budget THEN 'pass'
            ELSE 'fail' END AS gate,
       round(b.p95_budget - s.p95_value, 4) AS margin
FROM summary s LEFT JOIN budgets b USING (event_type)
ORDER BY s.event_type
"""


# --- P20: soundex blocking (Spark-native; DuckDB lacks soundex) -------------

def q_soundex_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex blocking keys over part names — the REFERENCE's simplified
    soundex (reconcile.py:74-95: first char + consonant digits, no
    adjacent-dedup), which is also SQL-expressible for the oracle gate.
    Spark's built-in (full) soundex remains available; the blocking
    contract follows the reference variant."""
    from earcrawler_spark.operators.reconcile import soundex_v2

    parts = table(spark, sf_dir, "part")
    word2 = F.lower(F.split("p_name", " ")[1])
    return (
        parts.select(soundex_v2(word2).alias("sdx"))
        .groupBy("sdx")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc("n_parts"), "sdx")
    )


def _soundex_keys_sql() -> str:
    from earcrawler_spark.operators.reconcile import soundex_v2_sql

    return f"""
WITH w AS (
  SELECT lower(string_split(p_name, ' ')[2]) AS w2 FROM part
)
SELECT {soundex_v2_sql('w2')} AS sdx, count(*) AS n_parts
FROM w GROUP BY sdx ORDER BY n_parts DESC, sdx
"""


CORPUS_QUERIES = {
    "entity_classification": q_entity_classification,
    "corpus_records": q_corpus_records,
    "corpus_digest": q_corpus_digest,
    "chunking": q_chunking,
    "mention_scoring": q_mention_scoring,
    "truncation": q_truncation,
    "asof_status": q_asof_status,
    "triples_bgp": q_triples_bgp,
    "triples_integrity": q_triples_integrity,
    "sparql_ask": q_sparql_ask,
    "budget_gate": q_budget_gate,
    "soundex_keys": q_soundex_keys,
}

CORPUS_ORACLES = {
    "entity_classification": _classify_sql(),
    "corpus_records": _SQL_CORPUS_RECORDS,
    "corpus_digest": _SQL_CORPUS_DIGEST,
    "chunking": _SQL_CHUNKING,
    "mention_scoring": _SQL_MENTION,
    "truncation": _SQL_TRUNCATION,
    "asof_status": _SQL_ASOF_STATUS,
    "triples_bgp": _SQL_TRIPLES_BGP,
    "triples_integrity": _SQL_TRIPLES_INTEGRITY,
    "sparql_ask": _SQL_SPARQL_ASK,
    "budget_gate": _SQL_BUDGET_GATE,
    "soundex_keys": _soundex_keys_sql(),
}
