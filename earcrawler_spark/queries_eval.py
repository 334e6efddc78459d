"""Groundedness claim extraction — the data-op core of the reference's
eval gate.

Reference: eval/groundedness_gates.py:15-243 — answers normalize
(whitespace collapse, U.S.→US), split into claims on
[;!?], sentence-final periods, 'but/however/yet', and ', not';
leading yes/no/true/false verdicts strip; hedged claims
(may/might/unclear/...) are non-decisive; each claim carries content
tokens (section-id spans scrubbed, [a-z0-9]+ words, 43-stopword filter,
len>1, the ing/ies/ed/es/s-not-ss stemming ladder) and normalized
EAR-section mentions.

The full evaluate_groundedness_signals citation-linkage gate consumes
LLM answer artifacts (citations with quotes) and is per-item harness
plumbing past the data surface; the claim decomposition below is the
reusable text operator and is verified against a direct model of the
reference code (tests/test_eval_claims.py), with one deliberate
mechanical difference: the sentence-final-period split is expressed
lookahead-free (`\\.\\s|\\.$` instead of `\\.(?=\\s|$)`) so ONE pattern
runs identically on Spark (Java regex) and DuckDB (RE2, no lookahead);
equivalence on whitespace-normalized text is asserted by the model test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.fixture_vocab import (
    dataset_id,
    dataset_id_sql,
    section_body,
    section_body_sql,
    section_id,
    section_id_sql,
)
from earcrawler_spark.session import cached, shared_frame, shared_output, table

EVAL_QUERIES: dict = {}
EVAL_ORACLES: dict = {}

# lookahead-free equivalent of the reference _CLAIM_SPLIT_RE on
# whitespace-normalized input
CLAIM_SPLIT_PATTERN = (
    r"(?i)\s*(?:[;!?]+|\.\s|\.$|\bbut\b|\bhowever\b|\byet\b|,\s*not\b)\s*"
)
LEADING_VERDICT_PATTERN = r"(?i)^(?:yes|no|true|false)\b[:,]?\s*"
HEDGE_PATTERN = (
    r"(?i)\b("
    r"may|might|could|can depend|depends|dependent|unclear|uncertain|"
    r"insufficient (?:info|information|evidence)|not enough (?:info|information|evidence)|"
    r"cannot determine|unable to determine|cannot answer|unanswerable|need more|need additional|"
    r"if provided|if more information"
    r")\b"
)
SECTION_INLINE_PATTERN = r"(?i)\bEAR-\d[\w().-]*|\b\d{3}\.\d+(?:\([^)]+\))*"
WORD_PATTERN = r"[a-z0-9]+"
STOPWORDS = (
    "a all an and answer any are as at be before by can cited conclusion "
    "context described does excerpt for from in is it its of or provision "
    "question section states stated that the their them these they this "
    "those under when with"
).split()


def normalize_claim_token(tok):
    """_normalize_token (groundedness_gates.py:184-196): one stemming
    rule per token — ing(>5), ies→y(>4), ed(>4), es(>4), s-not-ss(>4)."""
    t = F.lower(tok)
    n = F.length(t)
    return (
        F.when((n > 5) & t.endswith("ing"), F.substring(t, 1, n - 3))
        .when((n > 4) & t.endswith("ies"), F.concat(F.substring(t, 1, n - 3), F.lit("y")))
        .when((n > 4) & t.endswith("ed"), F.substring(t, 1, n - 2))
        .when((n > 4) & t.endswith("es"), F.substring(t, 1, n - 2))
        .when((n > 4) & t.endswith("s") & ~t.endswith("ss"), F.substring(t, 1, n - 1))
        .otherwise(t)
    )


def content_tokens(text_col):
    """_content_tokens: scrub section spans, [a-z0-9]+ words of the
    lowercased text, stopword + len>1 filter, stem, distinct sorted."""
    scrubbed = F.regexp_replace(
        F.lower(text_col), F.lit(SECTION_INLINE_PATTERN), F.lit(" ")
    )
    words = F.regexp_extract_all(scrubbed, F.lit(WORD_PATTERN), F.lit(0))
    kept = F.filter(
        words, lambda w: (F.length(w) > 1) & ~w.isin(*STOPWORDS)
    )
    stemmed = F.filter(
        F.transform(kept, normalize_claim_token), lambda t: t != ""
    )
    return F.array_sort(F.array_distinct(stemmed))


def section_mentions(text_col):
    """_extract_section_mentions: inline section spans, EAR- prefixed
    when bare, '#'-suffix-stripped heads, distinct sorted."""
    raw = F.regexp_extract_all(text_col, F.lit(SECTION_INLINE_PATTERN), F.lit(0))
    normed = F.transform(
        raw,
        lambda m: F.when(
            F.upper(m).startswith("EAR-"), F.substring_index(m, "#", 1)
        ).otherwise(F.concat(F.lit("EAR-"), F.substring_index(m, "#", 1))),
    )
    return F.array_sort(F.array_distinct(normed))


def extract_claims(answers: DataFrame, text_col: str = "answer") -> DataFrame:
    """(item_id, answer) -> one row per claim: (item_id, claim_idx,
    claim, decisive, tokens, sections)."""
    # (?U): Java \s is ASCII-only while the reference's Python \s+ is
    # Unicode — without the flag an NBSP/em-space survives the collapse
    # and becomes a phantom claim (caught by the round-6 hypothesis fuzz)
    normalized = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), r"(?U)\s+", " "),
            r"(?U)^\s+|\s+$",
            "",
        ),
        r"U\.S\.?",
        "US",
    )
    parts = F.split(normalized, CLAIM_SPLIT_PATTERN)
    # .strip(' ,:') parity: strip any run of space/comma/colon from both
    # ends (the reference strips a char SET, not a literal)
    cleaned = F.transform(
        parts,
        lambda p: F.regexp_replace(
            F.regexp_replace(p, LEADING_VERDICT_PATTERN, ""),
            r"^[ ,:]+|[ ,:]+$",
            "",
        ),
    )
    claims = F.filter(cleaned, lambda c: c != "")
    out = answers.select(
        F.col("item_id"), F.posexplode(claims).alias("claim_idx", "claim")
    )
    return out.select(
        "item_id",
        "claim_idx",
        "claim",
        (~F.col("claim").rlike(HEDGE_PATTERN)).alias("decisive"),
        content_tokens(F.col("claim")).alias("tokens"),
        section_mentions(F.col("claim")).alias("sections"),
    )


def q_claims_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claim decomposition over seeded answers covering every split
    trigger, verdict strip, hedges, section scrubbing, stemming, and
    stopword filtering."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    answer = (
        F.when(
            d % 6 == 0,
            F.lit("Yes: the export is prohibited under EAR-744.11(b). "
                  "However, exceptions may apply; see 740.13!"),
        )
        .when(
            d % 6 == 1,
            F.lit("No, licenses are required before exporting, "
                  "but section 742.4 states otherwise."),
        )
        .when(
            d % 6 == 2,
            F.concat(
                F.lit("U.S. entities described in "),
                section_id(d),
                F.lit(" cannot determine applicability, not even partially."),
            ),
        )
        .when(d % 6 == 3, F.lit("True: shipping containers moved; cases closed."))
        .when(d % 6 == 4, F.lit("   "))
        .otherwise(
            F.concat(
                F.lit("The answer depends on context excerpt "),
                d.cast("string"),
                F.lit("? It is permitted."),
            )
        )
    )
    qs = docs.select(d.alias("item_id"), answer.alias("answer"))
    claims = extract_claims(qs)
    return claims.select(
        "item_id",
        "claim_idx",
        "claim",
        "decisive",
        F.array_join("tokens", "|").alias("tokens"),
        F.array_join("sections", "|").alias("sections"),
    ).orderBy("item_id", "claim_idx")


def _stem_sql(v: str) -> str:
    """The one-rule-per-token stemming ladder over SQL expression `v`."""
    return (
        f"CASE WHEN len({v}) > 5 AND {v} LIKE '%ing' THEN substr({v}, 1, len({v})-3) "
        f"WHEN len({v}) > 4 AND {v} LIKE '%ies' THEN substr({v}, 1, len({v})-3) || 'y' "
        f"WHEN len({v}) > 4 AND {v} LIKE '%ed' THEN substr({v}, 1, len({v})-2) "
        f"WHEN len({v}) > 4 AND {v} LIKE '%es' THEN substr({v}, 1, len({v})-2) "
        f"WHEN len({v}) > 4 AND {v} LIKE '%s' AND {v} NOT LIKE '%ss' THEN substr({v}, 1, len({v})-1) "
        f"ELSE {v} END"
    )


# The DuckDB form of ``extract_claims``' split over an ``answers(item_id,
# answer)`` CTE: norm → split_parts → cleaned → claims(item_id, claim,
# claim_idx).  The patterns are the Spark constants above, verbatim.
_CLAIM_SPLIT_SQL = f"""norm AS (
  SELECT item_id,
         regexp_replace(trim(regexp_replace(answer, '\\s+', ' ', 'g')), 'U\\.S\\.?', 'US', 'g') AS t
  FROM answers
), split_parts AS (
  SELECT item_id, pos, raw FROM (
    SELECT item_id,
           generate_subscripts(parts, 1) AS pos, unnest(parts) AS raw
    FROM (SELECT item_id,
                 regexp_split_to_array(t, '{CLAIM_SPLIT_PATTERN}') AS parts
          FROM norm))
), cleaned AS (
  SELECT item_id, pos,
         trim(regexp_replace(raw, '{LEADING_VERDICT_PATTERN}', ''), ' ,:') AS claim
  FROM split_parts
), claims AS (
  SELECT item_id, claim,
         row_number() OVER (PARTITION BY item_id ORDER BY pos) - 1 AS claim_idx
  FROM cleaned WHERE claim <> ''
)"""
_SEC_NORM_SQL = (
    "CASE WHEN upper(m) LIKE 'EAR-%' THEN split_part(m, '#', 1) "
    "ELSE 'EAR-' || split_part(m, '#', 1) END"
)


def _claims_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH answers AS (
  SELECT doc_id AS item_id,
    CASE WHEN doc_id % 6 = 0 THEN 'Yes: the export is prohibited under EAR-744.11(b). However, exceptions may apply; see 740.13!'
         WHEN doc_id % 6 = 1 THEN 'No, licenses are required before exporting, but section 742.4 states otherwise.'
         WHEN doc_id % 6 = 2 THEN 'U.S. entities described in ' || {section_id_sql('doc_id')} || ' cannot determine applicability, not even partially.'
         WHEN doc_id % 6 = 3 THEN 'True: shipping containers moved; cases closed.'
         WHEN doc_id % 6 = 4 THEN '   '
         ELSE 'The answer depends on context excerpt ' || CAST(doc_id AS VARCHAR) || '? It is permitted.' END AS answer
  FROM documents
), {_CLAIM_SPLIT_SQL}, enriched AS (
  SELECT item_id, claim_idx, claim,
    NOT regexp_matches(claim, '{HEDGE_PATTERN}') AS decisive,
    list_sort(list_distinct(list_filter(list_transform(
      list_filter(regexp_extract_all(
        regexp_replace(lower(claim), '{SECTION_INLINE_PATTERN}', ' ', 'g'),
        '[a-z0-9]+'),
        w -> len(w) > 1 AND w NOT IN ({stop_list})),
      x -> {_stem_sql('x')}), tk -> tk <> ''))) AS tokens,
    list_sort(list_distinct(list_transform(
      regexp_extract_all(claim, '{SECTION_INLINE_PATTERN}'),
      m -> {_SEC_NORM_SQL}))) AS sections
  FROM claims
)
SELECT item_id, claim_idx, claim, decisive,
       coalesce(array_to_string(tokens, '|'), '') AS tokens,
       coalesce(array_to_string(sections, '|'), '') AS sections
FROM enriched
ORDER BY item_id, claim_idx
"""


EVAL_QUERIES["claims_extraction"] = q_claims_extraction
EVAL_ORACLES["claims_extraction"] = _claims_sql()


# --- evidence resolution ------------------------------------------------------

def q_evidence_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resolve_item/resolve_dataset (eval/evidence_resolver.py:100-173):
    each eval item's referenced sections normalize (full
    normalize_section_id incl. the '§ ddd.d' canonicalization path) and
    join against the corpus section index; sections without corpus
    records report missing; doc spans whose normalized id is outside the
    item's section set report as mismatches, and span ids absent from
    the corpus as missing — the union feeds missing_spans exactly like
    the reference. Scale shape: items explode to (item, section) rows,
    ONE aggregation over the corpus index joins back per section."""
    from earcrawler_spark.operators.citation import normalize_section_full

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    corpus = docs.select(section_id(d).alias("section_id")).groupBy("section_id").agg(
        F.count(F.lit(1)).alias("n_records")
    )

    items = docs.select(
        d.alias("item_id"),
        F.filter(
            F.array(
                section_id(d),
                F.when(d % 3 == 0, section_id(d + 1)),
                F.when(d % 5 == 0, F.lit("EAR-999.99")),
                F.when(d % 7 == 0, F.lit("§ 701.1.")),
            ),
            lambda x: x.isNotNull(),
        ).alias("ear_sections_raw"),
        F.filter(
            F.array(
                section_id(d),
                F.when(d % 4 == 0, section_id(d + 2)),
                F.when(d % 6 == 0, F.lit("EAR-888.88")),
            ),
            lambda x: x.isNotNull(),
        ).alias("doc_spans_raw"),
    )
    sec_rows = items.select(
        "item_id", F.posexplode("ear_sections_raw").alias("pos", "raw_sec")
    ).withColumn("norm_sec", normalize_section_full(F.col("raw_sec")))
    sec_joined = sec_rows.join(
        corpus.withColumnRenamed("section_id", "norm_sec"), "norm_sec", "left"
    )
    per_item_secs = sec_joined.groupBy("item_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "norm_sec"))),
                lambda s: s["norm_sec"],
            ),
            "|",
        ).alias("ear_sections"),
        F.sum(F.coalesce("n_records", F.lit(0))).alias("n_resolved_records"),
        F.array_join(
            F.array_sort(
                F.collect_set(F.when(F.col("n_records").isNull(), F.col("raw_sec")))
            ),
            "|",
        ).alias("missing_sections"),
        F.collect_set("norm_sec").alias("_norm_set"),
    )
    span_rows = items.select(
        "item_id", F.explode("doc_spans_raw").alias("raw_span")
    ).withColumn("norm_span", normalize_section_full(F.col("raw_span")))
    span_joined = span_rows.join(
        corpus.select(F.col("section_id").alias("norm_span")).withColumn(
            "_in_corpus", F.lit(True)
        ),
        "norm_span",
        "left",
    )
    per_item_spans = span_joined.groupBy("item_id").agg(
        F.collect_set(
            F.when(F.col("_in_corpus").isNull(), F.col("norm_span"))
        ).alias("_missing_spans"),
        F.collect_set("norm_span").alias("_span_set"),
    )
    out = per_item_secs.join(per_item_spans, "item_id", "left")
    mism = F.filter(
        F.coalesce(F.col("_span_set"), F.array().cast("array<string>")),
        lambda s: ~F.array_contains(F.col("_norm_set"), s),
    )
    missing_spans = F.array_sort(
        F.array_distinct(
            F.concat(
                F.coalesce(F.col("_missing_spans"), F.array().cast("array<string>")),
                mism,
            )
        )
    )
    return out.select(
        "item_id",
        "ear_sections",
        "n_resolved_records",
        "missing_sections",
        F.array_join(missing_spans, "|").alias("missing_spans"),
    ).orderBy("item_id")


def _evidence_sql() -> str:
    # Version-stable SQL only (VERDICT r4 What's-wrong #1): the aggregate
    # list machinery (list(DISTINCT ..) FILTER, list_sort/list_distinct/
    # list_concat/list_contains chains) is rewritten onto plain relational
    # subqueries + string_agg(.. ORDER BY ..), whose semantics are
    # identical in every DuckDB version.
    from earcrawler_spark.operators.citation import normalize_section_full_sql

    norm_raw = normalize_section_full_sql("raw_sec")
    norm_span = normalize_section_full_sql("raw_span")
    return f"""
WITH corpus AS (
  SELECT {section_id_sql('doc_id')} AS section_id, count(*) AS n_records
  FROM documents GROUP BY 1
), sec_raw AS (
  SELECT item_id, pos0, raw_sec FROM (
    SELECT doc_id AS item_id, generate_subscripts(arr, 1) AS pos0,
           unnest(arr) AS raw_sec
    FROM (SELECT doc_id, [
            {section_id_sql('doc_id')},
            CASE WHEN doc_id % 3 = 0 THEN {section_id_sql('doc_id + 1')} END,
            CASE WHEN doc_id % 5 = 0 THEN 'EAR-999.99' END,
            CASE WHEN doc_id % 7 = 0 THEN '§ 701.1.' END
          ] AS arr FROM documents))
  WHERE raw_sec IS NOT NULL
), sec_rows AS (
  SELECT item_id, pos0, raw_sec, {norm_raw} AS norm_sec FROM sec_raw
), sec_joined AS (
  SELECT s.item_id, s.pos0, s.raw_sec, s.norm_sec, c.n_records
  FROM sec_rows s LEFT JOIN corpus c ON s.norm_sec = c.section_id
), per_secs AS (
  SELECT item_id,
         string_agg(norm_sec, '|' ORDER BY pos0) AS ear_sections,
         -- BIGINT cast: DuckDB integer sum() widens to HUGEINT (r5 red)
         CAST(sum(coalesce(n_records, 0)) AS BIGINT) AS n_resolved_records
  FROM sec_joined GROUP BY item_id
), missing_secs AS (
  SELECT item_id, string_agg(raw_sec, '|' ORDER BY raw_sec) AS missing_sections
  FROM (SELECT DISTINCT item_id, raw_sec FROM sec_joined
        WHERE n_records IS NULL)
  GROUP BY item_id
), span_rows AS (
  SELECT DISTINCT item_id, {norm_span} AS norm_span FROM (
    SELECT item_id, raw_span FROM (
      SELECT doc_id AS item_id, unnest([
        {section_id_sql('doc_id')},
        CASE WHEN doc_id % 4 = 0 THEN {section_id_sql('doc_id + 2')} END,
        CASE WHEN doc_id % 6 = 0 THEN 'EAR-888.88' END
      ]) AS raw_span FROM documents)
    WHERE raw_span IS NOT NULL)
), span_flag AS (
  SELECT sp.item_id, sp.norm_span,
         (c.section_id IS NULL) AS not_in_corpus,
         NOT EXISTS (SELECT 1 FROM sec_rows sr
                     WHERE sr.item_id = sp.item_id
                       AND sr.norm_sec = sp.norm_span) AS not_in_secset
  FROM span_rows sp LEFT JOIN corpus c ON sp.norm_span = c.section_id
), missing_spans_agg AS (
  SELECT item_id, string_agg(norm_span, '|' ORDER BY norm_span) AS missing_spans
  FROM span_flag WHERE not_in_corpus OR not_in_secset
  GROUP BY item_id
)
SELECT p.item_id, p.ear_sections, p.n_resolved_records,
       coalesce(m.missing_sections, '') AS missing_sections,
       coalesce(a.missing_spans, '') AS missing_spans
FROM per_secs p
LEFT JOIN missing_secs m ON p.item_id = m.item_id
LEFT JOIN missing_spans_agg a ON p.item_id = a.item_id
ORDER BY p.item_id
"""


EVAL_QUERIES["evidence_resolution"] = q_evidence_resolution
EVAL_ORACLES["evidence_resolution"] = _evidence_sql()


# --- FR coverage report -------------------------------------------------------

COVERAGE_TOP_N = 5


# Gate outputs (≤ 5-row aggregates) are shared frames: eval_report
# composes these four gates; without sharing, each standalone gate query
# AND the report re-ran the full scoring pipeline (≈2x total work per
# bench sweep).  At scale the report reads the persisted gate tables.
@shared_output("fr_coverage", "dataset_id")
def q_fr_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_fr_coverage_report's aggregation core
    (eval/coverage_checks.py:276-505): per item, the sorted-distinct
    expected section set (ear_sections ∪ evidence spans) checks against
    the corpus index (missing_in_corpus) and against a pluggable
    retrieval's ordered section list — first-occurrence ranks, with the
    base-section fallback (a paren-free expected counts any retrieved
    subsection's first rank; parenthesised expecteds never fall back).
    Per dataset + ALL: item/expected/missing sums, missing-in-retrieval
    rate, median hit rank, top missing sections by (-count, section),
    worst dataset on the ALL row. The retrieval here is a deterministic
    synthetic (the reference accepts any retrieve_context callable)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    corpus = docs.select(section_id(d).alias("section_id")).distinct()

    expected = F.array_sort(
        F.array_distinct(
            F.filter(
                F.array(
                    section_id(d),
                    F.when(d % 3 == 0, section_id(d + 1)),
                    F.when(d % 9 == 0, F.lit("EAR-736.2(a)")),
                    F.when(d % 5 == 0, F.lit("EAR-999.99")),
                    F.when(d % 4 == 0, section_id(d + 2)),  # evidence span
                ),
                lambda x: x.isNotNull(),
            )
        )
    )
    retrieved = F.filter(
        F.array(
            F.when(d % 2 == 0, section_id(d)),
            F.when(d % 6 == 0, F.concat(section_id(d + 1), F.lit("(b)"))),
            F.when(d % 6 == 3, section_id(d + 1)),
            section_id(d + 7),
            F.when(d % 4 == 0, F.lit("EAR-736.2(a)(1)")),
            F.when(d % 2 == 0, section_id(d)),  # duplicate: first rank wins
        ),
        lambda x: x.isNotNull(),
    )
    items = docs.select(
        d.alias("item_id"),
        dataset_id(d).alias("dataset_id"),
        expected.alias("expected"),
        retrieved.alias("retrieved"),
    )

    exp_rows = items.select(
        "item_id", "dataset_id", F.explode("expected").alias("esec")
    )
    ret_rows = items.select(
        "item_id", F.posexplode("retrieved").alias("rank0", "rsec")
    ).select(
        "item_id",
        (F.col("rank0") + 1).alias("rank"),
        "rsec",
        F.regexp_replace(
            F.substring_index(F.col("rsec"), "(", 1), r"^\s+|\s+$", ""
        ).alias("rbase"),
    )
    exact = ret_rows.groupBy("item_id", "rsec").agg(
        F.min("rank").alias("exact_rank")
    ).select(
        F.col("item_id").alias("x_item"),
        F.col("rsec").alias("x_sec"),
        "exact_rank",
    )
    base = ret_rows.groupBy("item_id", "rbase").agg(
        F.min("rank").alias("base_rank")
    ).select(
        F.col("item_id").alias("b_item"),
        F.col("rbase").alias("b_sec"),
        "base_rank",
    )
    ranked = (
        exp_rows.join(
            exact,
            (F.col("item_id") == F.col("x_item")) & (F.col("esec") == F.col("x_sec")),
            "left",
        )
        .drop("x_item", "x_sec")
        .join(
            base,
            (F.col("item_id") == F.col("b_item")) & (F.col("esec") == F.col("b_sec")),
            "left",
        )
        .drop("b_item", "b_sec")
        .join(
            corpus.withColumnRenamed("section_id", "esec").withColumn(
                "_in_corpus", F.lit(True)
            ),
            "esec",
            "left",
        )
        .select(
            "item_id",
            "dataset_id",
            "esec",
            F.coalesce(
                F.col("exact_rank"),
                F.when(~F.col("esec").contains("("), F.col("base_rank")),
            ).alias("rank"),
            F.col("_in_corpus").isNull().alias("missing_corpus"),
        )
    )
    # Per-dataset stats and the ALL row come out of ONE rollup over
    # `ranked` (the total row's null key becomes "ALL"), and the top-missing
    # window runs over a union whose dataset_id is a real column on every
    # row — never a foldable literal, so WindowExec stays partitioned.
    # `ranked` (O(items × expected)) is scanned exactly twice — once per
    # aggregation. Each aggregate's two consumers share its exchange (Spark
    # reuses identical exchanges in one plan), so neither is cached: at
    # sf0.1 the build ran 0.82x the time it took with both cached, and a
    # cache would outlive the shared_output pin.
    stats = (
        ranked.rollup("dataset_id")
        .agg(
            F.countDistinct("item_id").alias("num_items"),
            F.count(F.lit(1)).alias("expected_sections"),
            F.sum(F.col("missing_corpus").cast("long")).alias(
                "missing_in_corpus"
            ),
            F.sum(F.col("rank").isNull().cast("long")).alias(
                "missing_in_retrieval"
            ),
            F.round(
                F.sum(F.col("rank").isNull().cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("missing_in_retrieval_rate"),
            F.round(F.median("rank"), 6).alias("median_retrieval_rank"),
        )
        .select(
            F.coalesce("dataset_id", F.lit("ALL")).alias("dataset_id"),
            "num_items", "expected_sections", "missing_in_corpus",
            "missing_in_retrieval", "missing_in_retrieval_rate",
            "median_retrieval_rank",
        )
    )
    msc = (
        ranked.filter(F.col("rank").isNull())
        .groupBy("dataset_id", "esec")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m_union = msc.unionByName(
        msc.groupBy("esec")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("dataset_id"), "esec", "cnt")
    )
    w = W.partitionBy("dataset_id").orderBy(F.desc("cnt"), F.col("esec"))
    tm = (
        m_union.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= COVERAGE_TOP_N)
        .groupBy("dataset_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "esec", "cnt"))
                    ),
                    lambda s: F.concat(
                        s["esec"], F.lit(":"), s["cnt"].cast("string")
                    ),
                ),
                "|",
            ).alias("top_missing_sections")
        )
    )
    worst = (
        stats.filter(F.col("dataset_id") != "ALL")
        .orderBy(F.desc("missing_in_retrieval_rate"), F.col("dataset_id"))
        .limit(1)
        .select(
            F.lit("ALL").alias("dataset_id"),
            F.col("dataset_id").alias("worst_dataset_id"),
        )
    )
    out = (
        stats.join(tm, "dataset_id", "left")
        .join(F.broadcast(worst), "dataset_id", "left")
    )
    return out.select(
        "dataset_id", "num_items", "expected_sections", "missing_in_corpus",
        "missing_in_retrieval", "missing_in_retrieval_rate",
        F.col("median_retrieval_rank").cast("double").alias("median_retrieval_rank"),
        F.coalesce("top_missing_sections", F.lit("")).alias("top_missing_sections"),
        "worst_dataset_id",
    ).orderBy("dataset_id")


def _fr_coverage_sql() -> str:
    # Version-stable SQL only (VERDICT r4 What's-wrong #1): no median()
    # (explicit ordered-row interpolation instead — avg of the 1-2 middle
    # ranks, exact .0/.5 doubles), no aggregate list() (string_agg with
    # ORDER BY), no list lambdas (unnest + WHERE/DISTINCT), and every
    # ratio is DOUBLE from the first operation (`* 1.0 /` is DECIMAL
    # division in DuckDB, whose result-scale rules moved across versions).
    return f"""
WITH corpus AS (
  SELECT DISTINCT {section_id_sql('doc_id')} AS section_id FROM documents
), exp_rows AS (
  SELECT DISTINCT item_id, dataset_id, esec FROM (
    SELECT doc_id AS item_id,
           {dataset_id_sql('doc_id')} AS dataset_id,
           unnest([
             {section_id_sql('doc_id')},
             CASE WHEN doc_id % 3 = 0 THEN {section_id_sql('doc_id + 1')} END,
             CASE WHEN doc_id % 9 = 0 THEN 'EAR-736.2(a)' END,
             CASE WHEN doc_id % 5 = 0 THEN 'EAR-999.99' END,
             CASE WHEN doc_id % 4 = 0 THEN {section_id_sql('doc_id + 2')} END
           ]) AS esec
    FROM documents)
  WHERE esec IS NOT NULL
), ret_raw AS (
  SELECT item_id, pos0, rsec FROM (
    SELECT doc_id AS item_id, generate_subscripts(arr, 1) AS pos0,
           unnest(arr) AS rsec
    FROM (SELECT doc_id, [
            CASE WHEN doc_id % 2 = 0 THEN {section_id_sql('doc_id')} END,
            CASE WHEN doc_id % 6 = 0 THEN {section_id_sql('doc_id + 1')} || '(b)' END,
            CASE WHEN doc_id % 6 = 3 THEN {section_id_sql('doc_id + 1')} END,
            {section_id_sql('doc_id + 7')},
            CASE WHEN doc_id % 4 = 0 THEN 'EAR-736.2(a)(1)' END,
            CASE WHEN doc_id % 2 = 0 THEN {section_id_sql('doc_id')} END
          ] AS arr FROM documents))
  WHERE rsec IS NOT NULL
), ret_rows AS (
  SELECT item_id,
         row_number() OVER (PARTITION BY item_id ORDER BY pos0) AS rank,
         rsec, trim(split_part(rsec, '(', 1)) AS rbase
  FROM ret_raw
), exact AS (
  SELECT item_id, rsec, min(rank) AS exact_rank FROM ret_rows
  GROUP BY item_id, rsec
), base AS (
  SELECT item_id, rbase, min(rank) AS base_rank FROM ret_rows
  GROUP BY item_id, rbase
), ranked AS (
  SELECT e.item_id, e.dataset_id, e.esec,
         coalesce(x.exact_rank,
                  CASE WHEN position('(' IN e.esec) = 0 THEN b.base_rank END)
           AS rank,
         (c.section_id IS NULL) AS missing_corpus
  FROM exp_rows e
  LEFT JOIN exact x ON e.item_id = x.item_id AND e.esec = x.rsec
  LEFT JOIN base b ON e.item_id = b.item_id AND e.esec = b.rbase
  LEFT JOIN corpus c ON e.esec = c.section_id
), per_ds0 AS (
  SELECT dataset_id,
         count(DISTINCT item_id) AS num_items,
         count(*) AS expected_sections,
         -- BIGINT casts: DuckDB integer sum() widens to HUGEINT (r5 red)
         CAST(sum(CASE WHEN missing_corpus THEN 1 ELSE 0 END) AS BIGINT)
           AS missing_in_corpus,
         CAST(sum(CASE WHEN rank IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS missing_in_retrieval,
         CAST(round(CAST(sum(CASE WHEN rank IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS DOUBLE) AS missing_in_retrieval_rate
  FROM ranked GROUP BY dataset_id
), med_rows AS (
  SELECT dataset_id, rank,
         row_number() OVER (PARTITION BY dataset_id ORDER BY rank) AS rn,
         count(*) OVER (PARTITION BY dataset_id) AS cnt
  FROM ranked WHERE rank IS NOT NULL
), med_ds AS (
  SELECT dataset_id,
         CAST(round(CAST(sum(rank) AS DOUBLE) / count(*), 6) AS DOUBLE)
           AS median_retrieval_rank
  FROM med_rows WHERE rn * 2 BETWEEN cnt AND cnt + 2
  GROUP BY dataset_id
), per_ds AS (
  SELECT p.dataset_id, p.num_items, p.expected_sections, p.missing_in_corpus,
         p.missing_in_retrieval, p.missing_in_retrieval_rate,
         m.median_retrieval_rank
  FROM per_ds0 p LEFT JOIN med_ds m USING (dataset_id)
), overall0 AS (
  SELECT count(DISTINCT item_id) AS num_items,
         count(*) AS expected_sections,
         CAST(sum(CASE WHEN missing_corpus THEN 1 ELSE 0 END) AS BIGINT)
           AS missing_in_corpus,
         CAST(sum(CASE WHEN rank IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS missing_in_retrieval,
         CAST(round(CAST(sum(CASE WHEN rank IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS DOUBLE) AS missing_in_retrieval_rate
  FROM ranked
), med_all AS (
  SELECT CAST(round(CAST(sum(rank) AS DOUBLE) / count(*), 6) AS DOUBLE)
           AS median_retrieval_rank
  FROM (SELECT rank,
               row_number() OVER (ORDER BY rank) AS rn,
               count(*) OVER () AS cnt
        FROM ranked WHERE rank IS NOT NULL)
  WHERE rn * 2 BETWEEN cnt AND cnt + 2
), overall AS (
  SELECT 'ALL' AS dataset_id, o.num_items, o.expected_sections,
         o.missing_in_corpus, o.missing_in_retrieval,
         o.missing_in_retrieval_rate, m.median_retrieval_rank
  FROM overall0 o LEFT JOIN med_all m ON TRUE
), both_ds AS (
  SELECT * FROM per_ds UNION ALL SELECT * FROM overall
), missing AS (
  SELECT dataset_id, esec FROM ranked WHERE rank IS NULL
  UNION ALL
  SELECT 'ALL', esec FROM ranked WHERE rank IS NULL
), tm AS (
  SELECT dataset_id,
         string_agg(esec || ':' || CAST(cnt AS VARCHAR), '|' ORDER BY rn)
           AS top_missing_sections
  FROM (
    SELECT dataset_id, esec, cnt,
           row_number() OVER (PARTITION BY dataset_id
                              ORDER BY cnt DESC, esec) AS rn
    FROM (SELECT dataset_id, esec, count(*) AS cnt FROM missing
          GROUP BY dataset_id, esec)
  ) WHERE rn <= {COVERAGE_TOP_N}
  GROUP BY dataset_id
), worst AS (
  SELECT dataset_id AS worst_dataset_id FROM per_ds
  ORDER BY missing_in_retrieval_rate DESC, dataset_id LIMIT 1
)
SELECT b.dataset_id, b.num_items, b.expected_sections, b.missing_in_corpus,
       b.missing_in_retrieval, b.missing_in_retrieval_rate,
       b.median_retrieval_rank,
       coalesce(t.top_missing_sections, '') AS top_missing_sections,
       CASE WHEN b.dataset_id = 'ALL' THEN (SELECT worst_dataset_id FROM worst) END
         AS worst_dataset_id
FROM both_ds b LEFT JOIN tm t ON b.dataset_id = t.dataset_id
ORDER BY b.dataset_id
"""


EVAL_QUERIES["fr_coverage"] = q_fr_coverage
EVAL_ORACLES["fr_coverage"] = _fr_coverage_sql()


# --- groundedness support gate ------------------------------------------------

# Scored-citations materialization: the gate and the reasons histogram
# both run score_citations over the same fixture, and the reasons query
# references it three times (melt pass + twice via score_claims) — the
# un-shared plan re-executed the token-overlap scoring subtree per
# reference.
def _scored_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earcrawler_spark.operators.groundedness import score_citations

    def build():
        _, citations, context, _ = _groundedness_fixture(spark, sf_dir)
        return cached(score_citations(citations, context))

    return shared_frame(spark, sf_dir, "scored_citations", build)


@shared_output("groundedness_gate", "dataset_id")
def q_groundedness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phase-2 groundedness gate verdict
    (eval/groundedness_gates.py:106-470 +
    tests/golden/test_phase2_golden_gate.py:496-560) over a deterministic
    answer/citation/context fixture that fires every branch: supported by
    explicit section reference, supported by quote-token overlap,
    overclaim via insufficient overlap, via an invalid or
    out-of-context linked citation, and via no linked citation at all;
    citation validity covers invalid_section_id ('§ '-prefixed raw),
    quote_missing, quote_not_in_section_context, and
    section_context_missing; unanswerable accuracy comes from seeded
    predicted labels. Output: per-dataset + ALL gate rows with the
    finalize_groundedness_metrics rates and threshold verdicts."""
    from earcrawler_spark.operators.groundedness import groundedness_gate

    items, citations, context, decisive = _groundedness_fixture(spark, sf_dir)
    return groundedness_gate(
        items, citations, context, decisive,
        scored_citations=_scored_citations(spark, sf_dir),
    ).orderBy("dataset_id")


def _groundedness_fixture(spark: SparkSession, sf_dir: str):
    """The shared groundedness fixture: (items, citations, context,
    decisive_claims) — see q_groundedness_gate for branch coverage."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    body = section_body(d)
    items = docs.select(
        d.alias("item_id"),
        dataset_id(d).alias("dataset_id"),
        F.when(d % 7 == 0, F.lit("unanswerable"))
        .otherwise(F.lit("answerable"))
        .alias("label"),
        F.when(
            ((d % 7 == 0) & (d % 3 != 1)) | ((d % 11 == 5) & (d % 7 != 0)),
            F.lit("unanswerable"),
        )
        .otherwise(F.lit("answerable"))
        .alias("predicted_label"),
    )
    context = docs.select(section_id(d).alias("section_id")).distinct().select(
        "section_id",
        F.concat(
            F.lit("Exports of encryption software require licensing review "
                  "and compliance checks under "),
            F.col("section_id"),
            F.lit(" with annual audits"),
        ).alias("ctx_text"),
    )

    def cit(flt, idx, raw, quote):
        return docs.filter(flt).select(
            d.alias("item_id"),
            F.lit(idx).alias("cit_idx"),
            raw.alias("raw_section_id"),
            quote.alias("quote"),
        )

    citations = (
        cit(d % 13 != 0, 0, section_id(d),
            F.lit("licensing review and compliance checks"))
        .unionByName(cit((d % 13 != 0) & (d % 4 == 0), 1,
                         F.concat(F.lit("§ "), body),
                         F.lit("compliance checks")))
        .unionByName(cit(d % 5 == 0, 2, section_id(d + 13),
                         F.lit("quantum tunneling manifold")))
        .unionByName(cit(d % 6 == 0, 3, F.lit("EAR-999.99"),
                         F.lit("licensing review")))
        .unionByName(cit(d % 9 == 0, 4, section_id(d), F.lit("")))
    )
    answer = F.when(
        d % 7 == 0, F.lit("Cannot determine from the provided information.")
    ).otherwise(
        F.concat(
            F.lit("Exports need licensing review and compliance checks"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(". Shipments are prohibited under "), section_id(d)),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.lit(". Encryption export rules involve compliance "
                      "obligations everywhere. Quantum tunneling manifold "
                      "applies"),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.lit(". Paperwork wizardry dominates galactic trade"),
            ).otherwise(F.lit("")),
            F.when(
                d % 2 == 0,
                F.lit(". The outcome may depend on surrounding circumstances"),
            ).otherwise(F.lit("")),
            F.lit("."),
        )
    )
    answers = docs.select(d.alias("item_id"), answer.alias("answer"))
    claims = extract_claims(answers)
    decisive = claims.filter(F.col("decisive")).join(
        items.filter(F.col("label") != "unanswerable").select("item_id"),
        "item_id",
        "left_semi",
    ).select("item_id", "claim_idx", "tokens", "sections")
    return items, citations, context, decisive


def _tok_rows_sql(src: str, key: str, txt: str) -> str:
    """Relational token extraction: distinct stemmed content tokens of
    `txt` per (item_id, {key}) — replaces the list_sort/list_distinct/
    list-lambda chain (version-sensitive DuckDB surface, VERDICT r4
    What's-wrong #1) with unnest + WHERE + DISTINCT."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
  SELECT DISTINCT item_id, {key}, tok FROM (
    SELECT item_id, {key}, {_stem_sql('w')} AS tok FROM (
      SELECT item_id, {key},
             unnest(regexp_extract_all(
               regexp_replace(lower({txt}), '{SECTION_INLINE_PATTERN}', ' ', 'g'),
               '[a-z0-9]+')) AS w
      FROM {src})
    WHERE len(w) > 1 AND w NOT IN ({stop_list}))
  WHERE tok <> ''
"""


def _groundedness_chain_sql() -> str:
    """The CTE chain both groundedness oracles share, from the items and
    citations through ``claimv`` (per-claim ``supported`` + ``reason``);
    each oracle appends its own CTEs and final SELECT.

    Version-stable SQL only (VERDICT r4 What's-wrong #1): token sets,
    section mentions, overlap counts and the supporting-token union are
    relational rows (DISTINCT/joins/EXISTS-free aggregates) instead of
    aggregate lists + list_intersect/flatten; every rate is DOUBLE from
    the first operation."""
    from earcrawler_spark.operators.citation import normalize_section_full_sql

    norm_full = normalize_section_full_sql("raw")
    sec_d = section_id_sql("doc_id")
    sec_d13 = section_id_sql("doc_id + 13")
    body = section_body_sql("doc_id")
    cit_tok = _tok_rows_sql("scored_cit", "cit_idx", "q")
    claim_tok = _tok_rows_sql("decisive0", "claim_idx", "claim")
    return f"""
WITH items AS (
  SELECT doc_id AS item_id,
         {dataset_id_sql('doc_id')} AS dataset_id,
         CASE WHEN doc_id % 7 = 0 THEN 'unanswerable' ELSE 'answerable' END AS label,
         CASE WHEN (doc_id % 7 = 0 AND doc_id % 3 <> 1)
                OR (doc_id % 11 = 5 AND doc_id % 7 <> 0)
              THEN 'unanswerable' ELSE 'answerable' END AS predicted_label
  FROM documents
), context AS (
  SELECT section_id,
         'Exports of encryption software require licensing review and compliance checks under '
           || section_id || ' with annual audits' AS ctx_text
  FROM (SELECT DISTINCT {sec_d} AS section_id FROM documents)
), citations AS (
  SELECT doc_id AS item_id, 0 AS cit_idx, {sec_d} AS raw_section_id,
         'licensing review and compliance checks' AS quote
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id, 1, '§ ' || {body}, 'compliance checks'
  FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 2, {sec_d13}, 'quantum tunneling manifold'
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 3, 'EAR-999.99', 'licensing review'
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, 4, {sec_d}, ''
  FROM documents WHERE doc_id % 9 = 0
), cit_norm AS (
  SELECT item_id, cit_idx,
         trim(coalesce(raw_section_id, '')) AS raw,
         trim(coalesce(quote, '')) AS q,
         trim(regexp_replace(coalesce(quote, ''), '\\s+', ' ', 'g')) AS qn
  FROM citations
), cit_v AS (
  SELECT *, ({norm_full}) AS section_id,
         (raw <> '' AND ({norm_full}) IS NOT NULL AND raw = ({norm_full})
          AND q <> '') AS valid
  FROM cit_norm
), ctxn AS (
  SELECT section_id AS csec,
         trim(regexp_replace(ctx_text, '\\s+', ' ', 'g')) AS ctx
  FROM context
), scored0 AS (
  SELECT c.item_id, c.cit_idx, c.raw, c.section_id, c.valid, c.q,
         CASE WHEN x.ctx IS NOT NULL THEN 1 ELSE 0 END AS has_ctx,
         CASE WHEN c.qn <> '' AND x.ctx IS NOT NULL
                   AND position(c.qn IN x.ctx) > 0
              THEN 1 ELSE 0 END AS _in
  FROM cit_v c LEFT JOIN ctxn x ON c.section_id = x.csec
), scored_cit AS (
  SELECT item_id, cit_idx, section_id, valid, q,
         (section_id IS NOT NULL AND _in = 1) AS qin,
         (raw = '' OR section_id IS NULL OR raw <> section_id) AS r_invalid,
         (q = '') AS r_qmissing,
         (section_id IS NOT NULL AND q <> '' AND has_ctx = 1 AND _in = 0) AS r_notin,
         (section_id IS NOT NULL AND q <> '' AND has_ctx = 0) AS r_ctxmiss
  FROM scored0
), cit_tok AS ({cit_tok}
), answers AS (
  SELECT doc_id AS item_id,
    CASE WHEN doc_id % 7 = 0 THEN 'Cannot determine from the provided information.'
    ELSE 'Exports need licensing review and compliance checks'
      || CASE WHEN doc_id % 3 = 0 THEN '. Shipments are prohibited under ' || {sec_d} ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN '. Encryption export rules involve compliance obligations everywhere. Quantum tunneling manifold applies' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN '. Paperwork wizardry dominates galactic trade' ELSE '' END
      || CASE WHEN doc_id % 2 = 0 THEN '. The outcome may depend on surrounding circumstances' ELSE '' END
      || '.' END AS answer
  FROM documents
), {_CLAIM_SPLIT_SQL}, decisive0 AS (
  SELECT c.item_id, c.claim_idx, c.claim
  FROM claims c JOIN items i ON c.item_id = i.item_id
  WHERE NOT regexp_matches(c.claim, '{HEDGE_PATTERN}')
    AND i.label <> 'unanswerable'
), claim_tok AS ({claim_tok}
), claim_ntok AS (
  SELECT item_id, claim_idx, count(*) AS n_tok
  FROM claim_tok GROUP BY item_id, claim_idx
), claim_sec AS (
  SELECT DISTINCT item_id, claim_idx, {_SEC_NORM_SQL} AS sec FROM (
    SELECT item_id, claim_idx,
           unnest(regexp_extract_all(claim, '{SECTION_INLINE_PATTERN}')) AS m
    FROM decisive0)
), pair_explicit AS (
  SELECT DISTINCT s.item_id, cs.claim_idx, s.cit_idx
  FROM scored_cit s
  JOIN claim_sec cs ON cs.item_id = s.item_id AND cs.sec = s.section_id
  WHERE s.section_id IS NOT NULL
), pair_ov AS (
  SELECT DISTINCT ct.item_id, ct.claim_idx, qt.cit_idx
  FROM claim_tok ct
  JOIN cit_tok qt ON qt.item_id = ct.item_id AND qt.tok = ct.tok
), pair AS (
  SELECT c.item_id, c.claim_idx, s.cit_idx,
         coalesce(s.valid, FALSE) AS valid, coalesce(s.qin, FALSE) AS qin,
         (pe.cit_idx IS NOT NULL) AS explicit,
         (po.cit_idx IS NOT NULL) AS has_ov
  FROM decisive0 c
  LEFT JOIN (SELECT * FROM scored_cit WHERE section_id IS NOT NULL) s
    ON c.item_id = s.item_id
  LEFT JOIN pair_explicit pe ON pe.item_id = c.item_id
    AND pe.claim_idx = c.claim_idx AND pe.cit_idx = s.cit_idx
  LEFT JOIN pair_ov po ON po.item_id = c.item_id
    AND po.claim_idx = c.claim_idx AND po.cit_idx = s.cit_idx
), clagg AS (
  SELECT item_id, claim_idx,
         max(CASE WHEN (explicit OR has_ov) AND valid AND qin THEN 1 ELSE 0 END) AS any_sup,
         max(CASE WHEN (explicit OR has_ov) AND valid AND qin AND explicit THEN 1 ELSE 0 END) AS explicit_hit,
         max(CASE WHEN (explicit OR has_ov) AND NOT (valid AND qin) THEN 1 ELSE 0 END) AS any_unsup
  FROM pair GROUP BY item_id, claim_idx
), sup_tok AS (
  SELECT DISTINCT p.item_id, p.claim_idx, qt.tok
  FROM pair p
  JOIN cit_tok qt ON qt.item_id = p.item_id AND qt.cit_idx = p.cit_idx
  WHERE (p.explicit OR p.has_ov) AND p.valid AND p.qin
), inter AS (
  SELECT ct.item_id, ct.claim_idx, count(*) AS inter_cnt
  FROM claim_tok ct
  JOIN sup_tok st ON st.item_id = ct.item_id
    AND st.claim_idx = ct.claim_idx AND st.tok = ct.tok
  GROUP BY ct.item_id, ct.claim_idx
), claimv AS (
  SELECT g.item_id, g.claim_idx,
    (g.any_sup = 1 AND (g.explicit_hit = 1 OR (coalesce(n.n_tok, 0) > 0 AND (
      coalesce(i.inter_cnt, 0) >=
        CASE WHEN n.n_tok <= 2 THEN 1 ELSE 2 END
      OR (CAST(coalesce(i.inter_cnt, 0) AS DOUBLE) / n.n_tok)
          >= CAST(0.5 AS DOUBLE))))) AS supported,
    CASE WHEN g.any_sup = 1 THEN
           CASE WHEN g.explicit_hit = 1 THEN 'supported_by_explicit_section_reference'
                WHEN (coalesce(n.n_tok, 0) > 0 AND (
                       coalesce(i.inter_cnt, 0) >=
                         CASE WHEN n.n_tok <= 2 THEN 1 ELSE 2 END
                       OR (CAST(coalesce(i.inter_cnt, 0) AS DOUBLE) / n.n_tok)
                           >= CAST(0.5 AS DOUBLE)))
                THEN 'supported_by_section_quote'
                ELSE 'claim_not_supported_by_quote' END
         WHEN g.any_unsup = 1 THEN 'claim_linked_citation_not_supported'
         ELSE 'claim_without_linked_citation' END AS reason
  FROM clagg g
  LEFT JOIN claim_ntok n ON n.item_id = g.item_id AND n.claim_idx = g.claim_idx
  LEFT JOIN inter i ON i.item_id = g.item_id AND i.claim_idx = g.claim_idx"""


def _groundedness_sql() -> str:
    # the ALL row is UNION ALL instead of ROLLUP
    from earcrawler_spark.operators.groundedness import (
        load_phase2_gate_thresholds,
    )

    th = load_phase2_gate_thresholds()
    return _groundedness_chain_sql() + f"""
), cit_item AS (
  SELECT item_id, count(*) AS n_cit,
         sum(CASE WHEN valid THEN 1 ELSE 0 END) AS n_valid
  FROM scored_cit GROUP BY item_id
), claim_item AS (
  SELECT item_id, count(*) AS n_claims,
         sum(CASE WHEN supported THEN 1 ELSE 0 END) AS n_supported
  FROM claimv GROUP BY item_id
), per_item AS (
  SELECT i.item_id, i.dataset_id, i.label, i.predicted_label,
         coalesce(c.n_cit, 0) AS n_cit, coalesce(c.n_valid, 0) AS n_valid,
         coalesce(k.n_claims, 0) AS n_claims,
         coalesce(k.n_supported, 0) AS n_supported
  FROM items i
  LEFT JOIN cit_item c ON i.item_id = c.item_id
  LEFT JOIN claim_item k ON i.item_id = k.item_id
), pre_g AS (
  SELECT dataset_id,
         CASE WHEN n_cit > 0 THEN 1 ELSE 0 END AS has_cit,
         n_cit, n_valid,
         CASE WHEN label = 'unanswerable' THEN 1 ELSE 0 END AS u_tot,
         CASE WHEN label = 'unanswerable' AND predicted_label = 'unanswerable' THEN 1 ELSE 0 END AS u_ok,
         n_claims, n_supported,
         n_claims - n_supported AS n_over,
         CASE WHEN n_claims - n_supported > 0 THEN 1 ELSE 0 END AS has_over
  FROM per_item
), g AS (
  -- CAST(sum AS BIGINT): DuckDB widens integer sum() to HUGEINT/INT128,
  -- which the driver's Arrow hash canonicalizes differently from Spark's
  -- int64 (round-5 root cause; count(*) stays BIGINT and needs no cast).
  SELECT dataset_id, count(*) AS num_items,
         CAST(sum(has_cit) AS BIGINT) AS items_with_citations,
         CAST(sum(n_cit) AS BIGINT) AS total_citations,
         CAST(sum(n_valid) AS BIGINT) AS valid_citations,
         CAST(sum(u_tot) AS BIGINT) AS unanswerable_total,
         CAST(sum(u_ok) AS BIGINT) AS unanswerable_correct,
         CAST(sum(n_claims) AS BIGINT) AS total_claims,
         CAST(sum(n_supported) AS BIGINT) AS supported_claims,
         CAST(sum(n_over) AS BIGINT) AS overclaim_count,
         CAST(sum(has_over) AS BIGINT) AS items_overclaim
  FROM pre_g GROUP BY dataset_id
  UNION ALL
  SELECT 'ALL', count(*), CAST(sum(has_cit) AS BIGINT),
         CAST(sum(n_cit) AS BIGINT), CAST(sum(n_valid) AS BIGINT),
         CAST(sum(u_tot) AS BIGINT), CAST(sum(u_ok) AS BIGINT),
         CAST(sum(n_claims) AS BIGINT), CAST(sum(n_supported) AS BIGINT),
         CAST(sum(n_over) AS BIGINT), CAST(sum(has_over) AS BIGINT)
  FROM pre_g
), rates AS (
  SELECT *,
    CAST(round(CAST(items_with_citations AS DOUBLE) / num_items, 6) AS DOUBLE) AS presence_rate,
    CAST(round(CASE WHEN total_citations > 0
                    THEN CAST(valid_citations AS DOUBLE) / total_citations
                    ELSE CAST(1.0 AS DOUBLE) END, 6) AS DOUBLE) AS valid_citation_rate,
    CAST(round(CASE WHEN total_claims > 0
                    THEN CAST(supported_claims AS DOUBLE) / total_claims
                    ELSE CAST(1.0 AS DOUBLE) END, 6) AS DOUBLE) AS supported_rate,
    CAST(round(CASE WHEN total_claims > 0
                    THEN CAST(overclaim_count AS DOUBLE) / total_claims
                    ELSE CAST(0.0 AS DOUBLE) END, 6) AS DOUBLE) AS overclaim_rate,
    CAST(round(CASE WHEN unanswerable_total > 0
                    THEN CAST(unanswerable_correct AS DOUBLE) / unanswerable_total
                    ELSE CAST(1.0 AS DOUBLE) END, 6) AS DOUBLE) AS unanswerable_accuracy
  FROM g
)
SELECT dataset_id, num_items, items_with_citations, total_citations,
       valid_citations, unanswerable_total, unanswerable_correct,
       total_claims, supported_claims, overclaim_count, items_overclaim,
       presence_rate, valid_citation_rate, supported_rate, overclaim_rate,
       unanswerable_accuracy,
       (unanswerable_accuracy >= CAST({th["unanswerable_accuracy_min"]} AS DOUBLE)) AS pass_unanswerable,
       (valid_citation_rate = CAST({th["valid_citation_rate_eq"]} AS DOUBLE)) AS pass_valid_citations,
       (supported_rate = CAST({th["supported_rate_eq"]} AS DOUBLE)) AS pass_supported,
       (overclaim_rate = CAST({th["overclaim_rate_eq"]} AS DOUBLE)) AS pass_overclaim,
       (unanswerable_accuracy >= CAST({th["unanswerable_accuracy_min"]} AS DOUBLE)
        AND valid_citation_rate = CAST({th["valid_citation_rate_eq"]} AS DOUBLE)
        AND supported_rate = CAST({th["supported_rate_eq"]} AS DOUBLE)
        AND overclaim_rate = CAST({th["overclaim_rate_eq"]} AS DOUBLE)) AS gate_ok
FROM rates
ORDER BY dataset_id
"""


EVAL_QUERIES["groundedness_gate"] = q_groundedness_gate
EVAL_ORACLES["groundedness_gate"] = _groundedness_sql()


# --- phase-2 grounding contract gate -----------------------------------------

RESERVED_OR_INVALID_SECTION_IDS = ["EAR-740.9(a)(2)"]


def q_phase2_contract_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden gate's remaining verdict metrics
    (tests/golden/test_phase2_golden_gate.py:34-35,405-560): per item,
    quote conditions (invalid cited section / missing quote / quote not a
    substring of that section's retrieval-fixture text — RAW substring,
    unlike the ws-normalized groundedness check), the grounding-contract
    condition list (schema validity, answerable-without-citations,
    citations outside the retrieval set, quote conditions, and the
    multi-citation contract for flagged items), micro citation precision
    (sum tp / sum predicted), and known-bad citations (reserved ids or
    ids outside expected).  Dataset + ALL rollup with pass verdicts vs
    the phase-2 thresholds — together with `groundedness_gate` this
    covers all seven gate thresholds."""
    from earcrawler_spark.operators.citation import normalize_section_full
    from earcrawler_spark.operators.groundedness import (
        load_phase2_gate_thresholds,
    )

    th = load_phase2_gate_thresholds()
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    items = docs.select(
        d.alias("item_id"),
        dataset_id(d).alias("dataset_id"),
        F.when(d % 7 == 0, F.lit("unanswerable"))
        .otherwise(F.lit("answerable")).alias("expected_label"),
        F.when(
            ((d % 7 == 0) & (d % 3 != 1)) | ((d % 11 == 5) & (d % 7 != 0)),
            F.lit("unanswerable"),
        ).otherwise(F.lit("answerable")).alias("predicted_label"),
        (d % 23 != 0).alias("schema_valid"),
        (d % 10 == 0).alias("multi_required"),
        F.filter(
            F.array(section_id(d), F.when(d % 4 == 0, section_id(d + 1))),
            lambda x: x.isNotNull(),
        ).alias("expected_citations"),
        F.array(section_id(d), section_id(d + 1), section_id(d + 7)).alias("retrieved_sections"),
    )
    def cit(flt, raw, quote):
        return docs.filter(flt).select(
            d.alias("item_id"), raw.alias("raw_sec"), quote.alias("quote")
        )
    citations = (
        cit(d % 13 != 0, section_id(d), F.concat(F.lit("quote-"), section_id(d)))
        .unionByName(cit(d % 5 == 0, section_id(d + 2), F.lit("bad quote")))
        .unionByName(cit(d % 9 == 0, F.lit(""), F.lit("orphan quote")))
        .unionByName(cit(d % 11 == 0, section_id(d), F.lit("")))
        .unionByName(cit(d % 17 == 0, F.lit("EAR-740.9(a)(2)"),
                         F.lit("reserved quote")))
    )
    rdocs = None
    for k in (0, 1, 7):
        part = docs.select(
            d.alias("item_id"), section_id(d + k).alias("dsec"),
            F.concat(F.lit("Reference text quote-"), section_id(d + k),
                     F.lit(" end")).alias("dtext"),
        )
        rdocs = part if rdocs is None else rdocs.unionByName(part)

    c = citations.withColumn("csec", normalize_section_full(F.col("raw_sec")))
    # quote substring check against the item's retrieval docs for the
    # cited section (RAW `quote in text`, golden gate :99-111)
    cj = c.join(
        rdocs,
        (c["item_id"] == rdocs["item_id"]) & (c["csec"] == rdocs["dsec"]),
        "left",
    ).drop(rdocs["item_id"])
    per_cit = cj.groupBy("item_id", "raw_sec", "csec", "quote").agg(
        F.max(
            (F.col("dtext").isNotNull()
             & (F.instr(F.col("dtext"), F.col("quote")) > 0)).cast("int")
        ).alias("_sub")
    ).select(
        "item_id", "csec",
        F.when(F.col("csec").isNull(), F.lit(1)).otherwise(0).alias("q_invalid"),
        F.when(
            F.col("csec").isNotNull() & (F.trim("quote") == ""), F.lit(1)
        ).otherwise(0).alias("q_missing"),
        F.when(
            F.col("csec").isNotNull() & (F.trim("quote") != "")
            & (F.coalesce("_sub", F.lit(0)) == 0),
            F.lit(1),
        ).otherwise(0).alias("q_notsub"),
    )
    cit_item = per_cit.groupBy("item_id").agg(
        F.array_sort(
            F.array_distinct(
                F.filter(F.collect_list("csec"), lambda x: x.isNotNull())
            )
        ).alias("pred"),
        F.sum(F.col("q_invalid") + F.col("q_missing") + F.col("q_notsub"))
        .alias("n_qcond"),
    )
    per_item = items.join(cit_item, "item_id", "left").select(
        "*",
        F.coalesce("pred", F.array().cast("array<string>")).alias("_pred"),
        F.coalesce("n_qcond", F.lit(0)).alias("_nq"),
    )
    empty_pred = F.size("_pred") == 0
    cond_schema = ~F.col("schema_valid")
    cond_nocit = (F.col("expected_label") != "unanswerable") & empty_pred
    cond_retr = F.size(F.array_except("_pred", "retrieved_sections")) > 0
    cond_multi_lt2 = F.col("multi_required") & (
        F.size("expected_citations") < 2
    )
    cond_multi_neq = F.col("multi_required") & (
        F.array_sort(F.array_distinct("expected_citations")) != F.col("_pred")
    )
    item_pass = ~(
        cond_schema | cond_nocit | cond_retr | (F.col("_nq") > 0)
        | cond_multi_lt2 | cond_multi_neq
    )
    reserved = F.array(*[F.lit(s) for s in RESERVED_OR_INVALID_SECTION_IDS])
    known_bad = F.size(
        F.filter(
            F.col("_pred"),
            lambda x: F.array_contains(reserved, x)
            | ~F.array_contains(F.col("expected_citations"), x),
        )
    )
    scored = per_item.select(
        "dataset_id",
        (F.col("expected_label") == "unanswerable").cast("long").alias("u_tot"),
        ((F.col("expected_label") == "unanswerable")
         & (F.col("predicted_label") == "unanswerable")).cast("long").alias("u_ok"),
        item_pass.cast("long").alias("g_pass"),
        F.size(F.array_intersect("_pred", "expected_citations")).cast("long")
        .alias("tp"),
        F.size("_pred").cast("long").alias("np"),
        known_bad.cast("long").alias("kb"),
    )
    g = scored.rollup("dataset_id").agg(
        F.count(F.lit(1)).alias("num_items"),
        F.sum("u_tot").alias("unanswerable_total"),
        F.sum("u_ok").alias("unanswerable_correct"),
        F.sum("g_pass").alias("grounding_pass"),
        F.sum("tp").alias("citation_tp"),
        F.sum("np").alias("citation_pred"),
        F.sum("kb").alias("known_bad_citations_count"),
    )
    uacc = F.round(
        F.when(F.col("unanswerable_total") > 0,
               F.col("unanswerable_correct") / F.col("unanswerable_total"))
        .otherwise(F.lit(1.0)), 6)
    grate = F.round(
        F.when(F.col("num_items") > 0,
               F.col("grounding_pass") / F.col("num_items"))
        .otherwise(F.lit(0.0)), 6)
    prec = F.round(
        F.when(F.col("citation_pred") > 0,
               F.col("citation_tp") / F.col("citation_pred"))
        .otherwise(F.lit(1.0)), 6)
    out = g.select(
        F.coalesce("dataset_id", F.lit("ALL")).alias("dataset_id"),
        "num_items", "unanswerable_total", "unanswerable_correct",
        "grounding_pass", "citation_tp", "citation_pred",
        "known_bad_citations_count",
        uacc.alias("unanswerable_accuracy"),
        grate.alias("grounding_contract_pass_rate"),
        prec.alias("citation_precision"),
    )
    pass_u = F.col("unanswerable_accuracy") >= th["unanswerable_accuracy_min"]
    pass_g = (F.col("grounding_contract_pass_rate")
              >= th["grounding_contract_pass_rate_min"])
    pass_p = F.col("citation_precision") == th["citation_precision_eq"]
    pass_k = (F.col("known_bad_citations_count")
              == th["known_bad_citations_count_eq"])
    return out.select(
        "*",
        pass_u.alias("pass_unanswerable"),
        pass_g.alias("pass_grounding_contract"),
        pass_p.alias("pass_citation_precision"),
        pass_k.alias("pass_known_bad"),
        (pass_u & pass_g & pass_p & pass_k).alias("gate_ok"),
    ).orderBy("dataset_id")


def _phase2_contract_sql() -> str:
    from earcrawler_spark.operators.citation import normalize_section_full_sql
    from earcrawler_spark.operators.groundedness import (
        load_phase2_gate_thresholds,
    )

    th = load_phase2_gate_thresholds()
    s0, s1, s2, s7 = (section_id_sql(f"doc_id + {k}") for k in (0, 1, 2, 7))
    norm = normalize_section_full_sql("raw_sec")
    reserved = ", ".join(f"'{s}'" for s in RESERVED_OR_INVALID_SECTION_IDS)
    return f"""
WITH items AS (
  SELECT doc_id AS item_id,
         {dataset_id_sql('doc_id')} AS dataset_id,
         CASE WHEN doc_id % 7 = 0 THEN 'unanswerable' ELSE 'answerable' END AS expected_label,
         CASE WHEN (doc_id % 7 = 0 AND doc_id % 3 <> 1)
                OR (doc_id % 11 = 5 AND doc_id % 7 <> 0)
              THEN 'unanswerable' ELSE 'answerable' END AS predicted_label,
         (doc_id % 23 <> 0) AS schema_valid,
         (doc_id % 10 = 0) AS multi_required
  FROM documents
), citations AS (
  SELECT doc_id AS item_id, {s0} AS raw_sec, 'quote-' || {s0} AS quote
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id, {s2}, 'bad quote' FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, '', 'orphan quote' FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id, {s0}, '' FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, 'EAR-740.9(a)(2)', 'reserved quote'
  FROM documents WHERE doc_id % 17 = 0
), rdocs AS (
  SELECT doc_id AS item_id, {s0} AS dsec,
         'Reference text quote-' || {s0} || ' end' AS dtext FROM documents
  UNION ALL
  SELECT doc_id, {s1}, 'Reference text quote-' || {s1} || ' end' FROM documents
  UNION ALL
  SELECT doc_id, {s7}, 'Reference text quote-' || {s7} || ' end' FROM documents
), c AS (
  SELECT item_id, raw_sec, quote, ({norm}) AS csec FROM citations
), per_cit AS (
  SELECT c.item_id, c.raw_sec, c.csec, c.quote,
         max(CASE WHEN r.dtext IS NOT NULL
                       AND position(c.quote IN r.dtext) > 0
                  THEN 1 ELSE 0 END) AS _sub
  FROM c LEFT JOIN rdocs r
    ON c.item_id = r.item_id AND c.csec = r.dsec
  GROUP BY c.item_id, c.raw_sec, c.csec, c.quote
), qc AS (
  SELECT item_id, csec,
         CASE WHEN csec IS NULL THEN 1 ELSE 0 END AS q_invalid,
         CASE WHEN csec IS NOT NULL AND trim(quote) = '' THEN 1 ELSE 0 END AS q_missing,
         CASE WHEN csec IS NOT NULL AND trim(quote) <> ''
                   AND coalesce(_sub, 0) = 0 THEN 1 ELSE 0 END AS q_notsub
  FROM per_cit
), exp_raw AS (
  SELECT item_id, sec FROM (
    SELECT doc_id AS item_id,
           unnest([{s0}, CASE WHEN doc_id % 4 = 0 THEN {s1} END]) AS sec
    FROM documents) WHERE sec IS NOT NULL
), exp_set AS (
  SELECT DISTINCT item_id, sec FROM exp_raw
), exp_stats AS (
  SELECT item_id, count(*) AS n_exp_raw, count(DISTINCT sec) AS n_exp_distinct
  FROM exp_raw GROUP BY item_id
), ret_set AS (
  SELECT DISTINCT item_id, sec FROM (
    SELECT doc_id AS item_id, unnest([{s0}, {s1}, {s7}]) AS sec
    FROM documents)
), pred_set AS (
  SELECT DISTINCT item_id, csec FROM qc WHERE csec IS NOT NULL
), pred_stats AS (
  SELECT p.item_id, count(*) AS np,
         sum(CASE WHEN e.sec IS NOT NULL THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN p.csec IN ({reserved}) OR e.sec IS NULL
                  THEN 1 ELSE 0 END) AS kb,
         sum(CASE WHEN r.sec IS NULL THEN 1 ELSE 0 END) AS n_out
  FROM pred_set p
  LEFT JOIN exp_set e ON p.item_id = e.item_id AND p.csec = e.sec
  LEFT JOIN ret_set r ON p.item_id = r.item_id AND p.csec = r.sec
  GROUP BY p.item_id
), qcond_item AS (
  SELECT item_id, sum(q_invalid + q_missing + q_notsub) AS n_qcond
  FROM qc GROUP BY item_id
), per_item AS (
  SELECT i.item_id, i.dataset_id, i.expected_label, i.predicted_label,
         i.schema_valid, i.multi_required,
         coalesce(ps.np, 0) AS np, coalesce(ps.tp, 0) AS tp,
         coalesce(ps.kb, 0) AS kb, coalesce(ps.n_out, 0) AS n_out,
         coalesce(q.n_qcond, 0) AS nq,
         coalesce(es.n_exp_raw, 0) AS n_exp_raw,
         coalesce(es.n_exp_distinct, 0) AS n_exp_distinct
  FROM items i
  LEFT JOIN pred_stats ps ON i.item_id = ps.item_id
  LEFT JOIN qcond_item q ON i.item_id = q.item_id
  LEFT JOIN exp_stats es ON i.item_id = es.item_id
), flags AS (
  SELECT dataset_id,
    CASE WHEN expected_label = 'unanswerable' THEN 1 ELSE 0 END AS u_tot,
    CASE WHEN expected_label = 'unanswerable'
              AND predicted_label = 'unanswerable' THEN 1 ELSE 0 END AS u_ok,
    CASE WHEN NOT (
      (NOT schema_valid)
      OR (expected_label <> 'unanswerable' AND np = 0)
      OR (n_out > 0)
      OR (nq > 0)
      OR (multi_required AND n_exp_raw < 2)
      OR (multi_required AND NOT (tp = np AND np = n_exp_distinct))
    ) THEN 1 ELSE 0 END AS g_pass,
    tp, np, kb
  FROM per_item
), g AS (
  -- BIGINT casts: DuckDB integer sum() widens to HUGEINT (r5 red)
  SELECT dataset_id, count(*) AS num_items,
         CAST(sum(u_tot) AS BIGINT) AS unanswerable_total,
         CAST(sum(u_ok) AS BIGINT) AS unanswerable_correct,
         CAST(sum(g_pass) AS BIGINT) AS grounding_pass,
         CAST(sum(tp) AS BIGINT) AS citation_tp,
         CAST(sum(np) AS BIGINT) AS citation_pred,
         CAST(sum(kb) AS BIGINT) AS known_bad_citations_count
  FROM flags GROUP BY dataset_id
  UNION ALL
  SELECT 'ALL', count(*), CAST(sum(u_tot) AS BIGINT),
         CAST(sum(u_ok) AS BIGINT), CAST(sum(g_pass) AS BIGINT),
         CAST(sum(tp) AS BIGINT), CAST(sum(np) AS BIGINT),
         CAST(sum(kb) AS BIGINT)
  FROM flags
), rates AS (
  SELECT *,
    CAST(round(CASE WHEN unanswerable_total > 0
                    THEN CAST(unanswerable_correct AS DOUBLE) / unanswerable_total
                    ELSE CAST(1.0 AS DOUBLE) END, 6) AS DOUBLE) AS unanswerable_accuracy,
    CAST(round(CASE WHEN num_items > 0
                    THEN CAST(grounding_pass AS DOUBLE) / num_items
                    ELSE CAST(0.0 AS DOUBLE) END, 6) AS DOUBLE) AS grounding_contract_pass_rate,
    CAST(round(CASE WHEN citation_pred > 0
                    THEN CAST(citation_tp AS DOUBLE) / citation_pred
                    ELSE CAST(1.0 AS DOUBLE) END, 6) AS DOUBLE) AS citation_precision
  FROM g
)
SELECT dataset_id, num_items, unanswerable_total, unanswerable_correct,
       grounding_pass, citation_tp, citation_pred, known_bad_citations_count,
       unanswerable_accuracy, grounding_contract_pass_rate, citation_precision,
       (unanswerable_accuracy >= CAST({th["unanswerable_accuracy_min"]} AS DOUBLE)) AS pass_unanswerable,
       (grounding_contract_pass_rate >= CAST({th["grounding_contract_pass_rate_min"]} AS DOUBLE)) AS pass_grounding_contract,
       (citation_precision = CAST({th["citation_precision_eq"]} AS DOUBLE)) AS pass_citation_precision,
       (known_bad_citations_count = {th["known_bad_citations_count_eq"]}) AS pass_known_bad,
       (unanswerable_accuracy >= CAST({th["unanswerable_accuracy_min"]} AS DOUBLE)
        AND grounding_contract_pass_rate >= CAST({th["grounding_contract_pass_rate_min"]} AS DOUBLE)
        AND citation_precision = CAST({th["citation_precision_eq"]} AS DOUBLE)
        AND known_bad_citations_count = {th["known_bad_citations_count_eq"]}) AS gate_ok
FROM rates
ORDER BY dataset_id
"""


EVAL_QUERIES["phase2_contract_gate"] = q_phase2_contract_gate
EVAL_ORACLES["phase2_contract_gate"] = _phase2_contract_sql()


# --- groundedness reason diagnostics -----------------------------------------

def q_groundedness_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's reason/error streams as a per-dataset histogram
    (groundedness_gates.py:260-283 citation validity reasons, :328-356
    claim-support reason ladder, :415 overclaim_present).  One row per
    (dataset_id, reason) with occurrence counts — citation reasons count
    per citation, claim reasons per claim, overclaim_present per item —
    plus the ALL rollup."""
    from earcrawler_spark.operators.groundedness import score_claims

    items, citations, context, decisive = _groundedness_fixture(spark, sf_dir)
    ds = items.select("item_id", "dataset_id")
    # shared materialized frame (see _scored_citations): this query
    # references it three times — melt pass + twice via score_claims
    sc = _scored_citations(spark, sf_dir)

    # ONE pass over the scored citations: melt the four reason flags
    # into rows instead of four filtered re-scans of the subtree
    cit_rows = (
        sc.join(F.broadcast(ds), "item_id")
        .select(
            "dataset_id",
            F.explode(
                F.filter(
                    F.array(
                        F.when(F.col("r_invalid_section_id"),
                               F.lit("invalid_section_id")),
                        F.when(F.col("r_quote_missing"),
                               F.lit("quote_missing")),
                        F.when(F.col("r_quote_not_in_section_context"),
                               F.lit("quote_not_in_section_context")),
                        F.when(F.col("r_section_context_missing"),
                               F.lit("section_context_missing")),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("reason"),
        )
    )
    claims = score_claims(decisive, sc).join(F.broadcast(ds), "item_id")
    claim_rows = claims.select("dataset_id", F.col("reason"))
    overclaim_rows = (
        claims.filter(~F.col("supported"))
        .select("item_id", "dataset_id")
        .distinct()
        .select("dataset_id", F.lit("overclaim_present").alias("reason"))
    )
    rows = cit_rows.unionByName(claim_rows).unionByName(overclaim_rows)
    base = rows.groupBy("dataset_id", "reason").agg(
        F.count(F.lit(1)).alias("n")
    )
    allr = base.groupBy("reason").agg(F.sum("n").alias("n")).select(
        F.lit("ALL").alias("dataset_id"), "reason", "n"
    )
    return base.unionByName(allr).orderBy("dataset_id", "reason")


def _groundedness_reasons_sql() -> str:
    # counts only, no floats except the 0.5 coverage compare in the chain
    return _groundedness_chain_sql() + """
), rows_all AS (
  SELECT i.dataset_id, 'invalid_section_id' AS reason
  FROM scored_cit s JOIN items i ON s.item_id = i.item_id WHERE s.r_invalid
  UNION ALL
  SELECT i.dataset_id, 'quote_missing'
  FROM scored_cit s JOIN items i ON s.item_id = i.item_id WHERE s.r_qmissing
  UNION ALL
  SELECT i.dataset_id, 'quote_not_in_section_context'
  FROM scored_cit s JOIN items i ON s.item_id = i.item_id WHERE s.r_notin
  UNION ALL
  SELECT i.dataset_id, 'section_context_missing'
  FROM scored_cit s JOIN items i ON s.item_id = i.item_id WHERE s.r_ctxmiss
  UNION ALL
  SELECT i.dataset_id, c.reason
  FROM claimv c JOIN items i ON c.item_id = i.item_id
  UNION ALL
  SELECT dataset_id, 'overclaim_present' FROM (
    SELECT DISTINCT c.item_id, i.dataset_id
    FROM claimv c JOIN items i ON c.item_id = i.item_id
    WHERE NOT c.supported)
), base AS (
  SELECT dataset_id, reason, count(*) AS n
  FROM rows_all GROUP BY dataset_id, reason
)
SELECT * FROM (
  SELECT dataset_id, reason, n FROM base
  UNION ALL
  -- BIGINT cast: sum(n) over BIGINT widens to HUGEINT and the UNION
  -- widens the whole column with it (r5 red root cause)
  SELECT 'ALL', reason, CAST(sum(n) AS BIGINT) FROM base GROUP BY reason
) ORDER BY dataset_id, reason
"""


EVAL_QUERIES["groundedness_reasons"] = q_groundedness_reasons
EVAL_ORACLES["groundedness_reasons"] = _groundedness_reasons_sql()


# --- golden citation-regression harness --------------------------------------

def q_citation_regressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden citation-regression rows
    (tests/golden/test_citation_regressions.py +
    tests/fixtures/golden_retrieval_map.py, computing
    eval_rag_llm.py:1034-1084's per-item citation verdict): a pinned
    query→expected-citations map joined against the (seeded) retrieval/
    citation outcome.  Per item: tp/fp/fn vs the expected set, citation
    precision/recall, missing-ground-truth-in-retrieval, the
    citation_errors code list in reference insertion order (invalid_id,
    reserved_cited, not_in_references, not_in_expected, missing_expected,
    missing_in_retrieval) and the status ladder (retrieval miss wins,
    then citation_wrong, else ok — eval_rag_llm.py:1078-1083).  Healthy
    items emit status 'ok' with no codes; each seeded drift class
    (wrong cite %13, reserved cite %17, invalid id %19, unregistered
    section %23, retrieval miss %4∧%6) trips its reference code — the
    reference CI's first tripwire on retrieval drift."""
    from earcrawler_spark.operators.citation import normalize_section_full

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    corpus = docs.select(section_id(d).alias("ref_sec")).distinct()

    gt_rows = docs.select(
        d.alias("item_id"),
        F.explode(
            F.filter(
                F.array(section_id(d), F.when(d % 4 == 0, section_id(d + 1))),
                lambda x: x.isNotNull(),
            )
        ).alias("gsec"),
    )
    retr_rows = docs.select(
        d.alias("item_id"),
        F.explode(
            F.filter(
                F.array(
                    section_id(d), section_id(d + 7),
                    F.when((d % 4 == 0) & (d % 6 != 0), section_id(d + 1)),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("rsec"),
    ).distinct()
    pred_raw = docs.select(
        d.alias("item_id"),
        F.explode(
            F.filter(
                F.array(
                    F.when(d % 13 == 0, section_id(d + 5)).otherwise(section_id(d)),
                    F.when((d % 4 == 0) & (d % 13 != 0), section_id(d + 1)),
                    F.when(d % 17 == 0, F.lit("EAR-740.9(a)(2)")),
                    F.when(d % 19 == 0, F.lit("")),
                    F.when(d % 23 == 0, F.lit("EAR-999.99")),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("raw"),
    ).withColumn("norm", normalize_section_full(F.col("raw")))

    invalid_item = pred_raw.groupBy("item_id").agg(
        F.sum(F.col("norm").isNull().cast("long")).alias("invalid_cnt")
    )
    pred_set = (
        pred_raw.filter(F.col("norm").isNotNull())
        .select("item_id", F.col("norm").alias("psec"))
        .distinct()
    )
    reserved = [F.lit(s) for s in RESERVED_OR_INVALID_SECTION_IDS]
    pred_stats = (
        pred_set
        .join(
            gt_rows.select(F.col("item_id").alias("gi"), F.col("gsec").alias("g")),
            (F.col("item_id") == F.col("gi")) & (F.col("psec") == F.col("g")),
            "left",
        )
        .drop("gi")
        .join(
            corpus.withColumnRenamed("ref_sec", "psec").withColumn(
                "_in_ref", F.lit(True)
            ),
            "psec",
            "left",
        )
        .groupBy("item_id")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(F.col("g").isNotNull().cast("long")).alias("tp"),
            F.sum(F.col("psec").isin(*reserved).cast("long")).alias("reserved_cnt"),
            F.sum(F.col("_in_ref").isNull().cast("long")).alias("notref_cnt"),
        )
    )
    gt_stats = (
        gt_rows
        .join(
            pred_set.select(F.col("item_id").alias("pi"), F.col("psec").alias("p")),
            (F.col("item_id") == F.col("pi")) & (F.col("gsec") == F.col("p")),
            "left",
        )
        .drop("pi")
        .join(
            retr_rows.select(F.col("item_id").alias("ri"), F.col("rsec").alias("r")),
            (F.col("item_id") == F.col("ri")) & (F.col("gsec") == F.col("r")),
            "left",
        )
        .drop("ri")
        .groupBy("item_id")
        .agg(
            F.count(F.lit(1)).alias("ngt"),
            F.sum(F.col("p").isNull().cast("long")).alias("fn"),
            F.sum(F.col("r").isNull().cast("long")).alias("miss_cnt"),
            F.array_join(
                F.array_sort(
                    F.collect_set(F.when(F.col("r").isNull(), F.col("gsec")))
                ),
                "|",
            ).alias("missing_in_retrieval"),
        )
    )
    j = (
        docs.select(d.alias("item_id"))
        .join(pred_stats, "item_id", "left")
        .join(gt_stats, "item_id", "left")
        .select(
            "item_id",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("reserved_cnt", F.lit(0)).alias("reserved_cnt"),
            F.coalesce("notref_cnt", F.lit(0)).alias("notref_cnt"),
            F.coalesce("ngt", F.lit(0)).alias("ngt"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
            F.coalesce("miss_cnt", F.lit(0)).alias("miss_cnt"),
            F.coalesce("missing_in_retrieval", F.lit("")).alias(
                "missing_in_retrieval"
            ),
        )
        .join(invalid_item, "item_id", "left")
        .withColumn("invalid_cnt", F.coalesce("invalid_cnt", F.lit(0)))
        .withColumn("fp", F.col("np") - F.col("tp"))
    )
    precision = F.when(
        F.col("np") == 0,
        F.when(F.col("ngt") == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    ).otherwise(F.col("tp") / F.col("np"))
    recall = F.when(F.col("ngt") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / F.col("ngt")
    )
    codes = F.concat_ws(
        "|",
        F.filter(
            F.array(
                F.when(F.col("invalid_cnt") > 0, F.lit("invalid_id")),
                F.when(F.col("reserved_cnt") > 0, F.lit("reserved_cited")),
                F.when(F.col("notref_cnt") > 0, F.lit("not_in_references")),
                F.when(F.col("fp") > 0, F.lit("not_in_expected")),
                F.when(F.col("fn") > 0, F.lit("missing_expected")),
                F.when(F.col("miss_cnt") > 0, F.lit("missing_in_retrieval")),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    status = (
        F.when(
            (F.col("miss_cnt") > 0) & (F.col("ngt") > 0),
            F.lit("retrieval_miss_gt_section"),
        )
        .when(
            (F.col("fp") > 0) | (F.col("fn") > 0) | (F.col("reserved_cnt") > 0)
            | (F.col("invalid_cnt") > 0) | (F.col("notref_cnt") > 0),
            F.lit("citation_wrong"),
        )
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "item_id", "np", "tp", "fp", "fn",
        precision.alias("citation_precision"),
        recall.alias("citation_recall"),
        "missing_in_retrieval",
        codes.alias("error_codes"),
        status.alias("status_category"),
    ).orderBy("item_id")


def _citation_regressions_sql() -> str:
    # version-stable SQL: unnest fixtures, relational set counts, DOUBLE
    # single divisions, CASE-concat + ltrim code list (no aggregate lists)
    from earcrawler_spark.operators.citation import normalize_section_full_sql

    s0 = section_id_sql("doc_id")
    s1 = section_id_sql("doc_id + 1")
    s5 = section_id_sql("doc_id + 5")
    s7 = section_id_sql("doc_id + 7")
    norm = normalize_section_full_sql("raw")
    reserved = ", ".join(f"'{s}'" for s in RESERVED_OR_INVALID_SECTION_IDS)
    return f"""
WITH corpus AS (
  SELECT DISTINCT {s0} AS ref_sec FROM documents
), gt_rows AS (
  SELECT item_id, gsec FROM (
    SELECT doc_id AS item_id,
           unnest([{s0}, CASE WHEN doc_id % 4 = 0 THEN {s1} END]) AS gsec
    FROM documents) WHERE gsec IS NOT NULL
), retr_rows AS (
  SELECT DISTINCT item_id, rsec FROM (
    SELECT doc_id AS item_id,
           unnest([{s0}, {s7},
                   CASE WHEN doc_id % 4 = 0 AND doc_id % 6 <> 0 THEN {s1} END]) AS rsec
    FROM documents) WHERE rsec IS NOT NULL
), pred_raw AS (
  SELECT item_id, raw, {norm} AS norm FROM (
    SELECT doc_id AS item_id, unnest([
      CASE WHEN doc_id % 13 = 0 THEN {s5} ELSE {s0} END,
      CASE WHEN doc_id % 4 = 0 AND doc_id % 13 <> 0 THEN {s1} END,
      CASE WHEN doc_id % 17 = 0 THEN 'EAR-740.9(a)(2)' END,
      CASE WHEN doc_id % 19 = 0 THEN '' END,
      CASE WHEN doc_id % 23 = 0 THEN 'EAR-999.99' END
    ]) AS raw FROM documents) WHERE raw IS NOT NULL
), invalid_item AS (
  -- BIGINT casts on every sum(): DuckDB widens integer sum() to HUGEINT,
  -- which leaks into the final tp/fp/fn columns (r5 red root cause)
  SELECT item_id,
         CAST(sum(CASE WHEN norm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS invalid_cnt
  FROM pred_raw GROUP BY item_id
), pred_set AS (
  SELECT DISTINCT item_id, norm AS psec FROM pred_raw WHERE norm IS NOT NULL
), pred_stats AS (
  SELECT p.item_id, count(*) AS np,
         CAST(sum(CASE WHEN g.gsec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN p.psec IN ({reserved}) THEN 1 ELSE 0 END)
              AS BIGINT) AS reserved_cnt,
         CAST(sum(CASE WHEN c.ref_sec IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS notref_cnt
  FROM pred_set p
  LEFT JOIN gt_rows g ON g.item_id = p.item_id AND g.gsec = p.psec
  LEFT JOIN corpus c ON c.ref_sec = p.psec
  GROUP BY p.item_id
), gt_stats AS (
  SELECT g.item_id, count(*) AS ngt,
         CAST(sum(CASE WHEN p.psec IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS fn,
         CAST(sum(CASE WHEN r.rsec IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS miss_cnt
  FROM gt_rows g
  LEFT JOIN pred_set p ON p.item_id = g.item_id AND p.psec = g.gsec
  LEFT JOIN retr_rows r ON r.item_id = g.item_id AND r.rsec = g.gsec
  GROUP BY g.item_id
), miss_str AS (
  SELECT item_id, string_agg(gsec, '|' ORDER BY gsec) AS missing_in_retrieval
  FROM (SELECT DISTINCT g.item_id, g.gsec FROM gt_rows g
        LEFT JOIN retr_rows r ON r.item_id = g.item_id AND r.rsec = g.gsec
        WHERE r.rsec IS NULL)
  GROUP BY item_id
), j AS (
  SELECT i.doc_id AS item_id,
         coalesce(ps.np, 0) AS np, coalesce(ps.tp, 0) AS tp,
         coalesce(ps.np, 0) - coalesce(ps.tp, 0) AS fp,
         coalesce(gs.fn, 0) AS fn,
         coalesce(ps.reserved_cnt, 0) AS reserved_cnt,
         coalesce(ps.notref_cnt, 0) AS notref_cnt,
         coalesce(ii.invalid_cnt, 0) AS invalid_cnt,
         coalesce(gs.ngt, 0) AS ngt,
         coalesce(gs.miss_cnt, 0) AS miss_cnt,
         coalesce(ms.missing_in_retrieval, '') AS missing_in_retrieval
  FROM documents i
  LEFT JOIN pred_stats ps ON ps.item_id = i.doc_id
  LEFT JOIN gt_stats gs ON gs.item_id = i.doc_id
  LEFT JOIN invalid_item ii ON ii.item_id = i.doc_id
  LEFT JOIN miss_str ms ON ms.item_id = i.doc_id
)
SELECT item_id, np, tp, fp, fn,
       CASE WHEN np = 0
            THEN CASE WHEN ngt = 0 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END
            ELSE CAST(tp AS DOUBLE) / np END AS citation_precision,
       CASE WHEN ngt = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(tp AS DOUBLE) / ngt END AS citation_recall,
       missing_in_retrieval,
       ltrim(
         CASE WHEN invalid_cnt > 0 THEN '|invalid_id' ELSE '' END
         || CASE WHEN reserved_cnt > 0 THEN '|reserved_cited' ELSE '' END
         || CASE WHEN notref_cnt > 0 THEN '|not_in_references' ELSE '' END
         || CASE WHEN fp > 0 THEN '|not_in_expected' ELSE '' END
         || CASE WHEN fn > 0 THEN '|missing_expected' ELSE '' END
         || CASE WHEN miss_cnt > 0 THEN '|missing_in_retrieval' ELSE '' END,
         '|') AS error_codes,
       CASE WHEN miss_cnt > 0 AND ngt > 0 THEN 'retrieval_miss_gt_section'
            WHEN fp > 0 OR fn > 0 OR reserved_cnt > 0
                 OR invalid_cnt > 0 OR notref_cnt > 0 THEN 'citation_wrong'
            ELSE 'ok' END AS status_category
FROM j
ORDER BY item_id
"""


EVAL_QUERIES["citation_regressions"] = q_citation_regressions
EVAL_ORACLES["citation_regressions"] = _citation_regressions_sql()


# --- identifier consistency gate ---------------------------------------------


def q_id_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_check (scripts/eval/check_id_consistency.py:348-471): every
    expected EAR section referenced by the eval datasets (ear_sections,
    expected.citations, evidence span ids — :87-154) must appear exactly
    once in the retrieval corpus and exactly once in the KG under its
    canonical IRI.  Per dataset + ALL: num_items, expected sections, the
    reference's six-way classification sums (ok subtracts each issue
    list independently, floor 0 — :422-429), invalid-reference
    occurrences (failed normalizations, incl. evidence doc_ids), and the
    ok/fail status.  The KG is scanned exactly like the reference — raw
    line relation, canonical-IRI + legacy ``ear:s_*`` token regexes
    (:244-261) — via operators.id_consistency.scan_kg_sections.

    Scale shape: the line scan is one regexp pass + explode (linear in
    KG size, partial-agg distinct); sections are a metadata-scale
    dimension, so every classify join is broadcast-sized; the final
    per-dataset + ALL rows are flag sums with no windows."""
    from earcrawler_spark.operators.id_consistency import (
        SECTION_IRI_PREFIX,
        scan_kg_sections,
    )
    from earcrawler_spark.functions.iri import section_iri
    from earcrawler_spark.sources import (
        _DOC_SUFFIX_RE as _ID_DOC_SUFFIX_RE,
        normalize_ear_section_id,
    )

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def ref(field, raw):
        return F.struct(F.lit(field).alias("field"), raw.alias("raw"))

    refs = (
        docs.select(
            d.alias("item_id"),
            dataset_id(d).alias("dataset_id"),
            F.filter(
                F.array(
                    ref("ear_sections", section_id(d)),
                    F.when(d % 3 == 0, ref("ear_sections", F.concat(F.lit("§ "), section_body(d + 1)))),
                    F.when(d % 11 == 0, ref("ear_sections", F.lit("not a section"))),
                    F.when(d % 4 == 0, ref("expected.citations", F.concat(F.lit("15 CFR "), section_body(d + 2)))),
                    F.when(d % 13 == 0, ref("expected.citations", F.lit("EAR-"))),
                    F.when(d % 5 == 0, ref("evidence.doc_spans.span_id", F.concat(section_id(d + 3), F.lit("(B)")))),
                    F.when(d % 17 == 0, ref("evidence.doc_spans.doc_id", F.lit("part XIV"))),
                ),
                lambda x: x.isNotNull(),
            ).alias("refs"),
        )
        .select("item_id", "dataset_id", F.explode("refs").alias("r"))
        .select(
            "item_id",
            "dataset_id",
            F.col("r.field").alias("field"),
            F.col("r.raw").alias("raw"),
        )
        # Single-copy normalizer: '#' is outside the section-body grammar
        # and no strip step removes it, so for hash-free values
        # normalize_ear_doc_id(v) == normalize_ear_section_id(v) ==
        # normalize(left-of-#); only the doc_id field may attach a
        # validated '#suffix'.  The expensive normalizer is materialized
        # ONCE as its own column (CollapseProject keeps non-cheap
        # multiply-referenced aliases in their own Project), instead of
        # the three copies normalize_ear_doc_id would fuse in — which
        # overflowed janino's 64 KB method limit in this stage (it
        # consumes an exploded column, so codegen cannot split it).
        .withColumn(
            "left_norm",
            normalize_ear_section_id(
                F.element_at(F.split(F.col("raw"), "#", 2), 1)
            ),
        )
        .withColumn(
            "norm",
            F.when(~F.col("raw").contains("#"), F.col("left_norm")).when(
                (F.col("field") == "evidence.doc_spans.doc_id")
                & F.col("left_norm").isNotNull()
                & F.lower(
                    F.trim(F.element_at(F.split(F.col("raw"), "#", 2), 2))
                ).rlike(_ID_DOC_SUFFIX_RE),
                F.concat(
                    F.col("left_norm"),
                    F.lit("#"),
                    F.lower(
                        F.trim(F.element_at(F.split(F.col("raw"), "#", 2), 2))
                    ),
                ),
            ),
        )
        .drop("left_norm")
    )

    # refs feeds four consumers (pairs, per-dataset items, invalid-ref
    # counts, the ALL-row aggregate); materialize it once instead of
    # re-running the scan+explode+normalize four times (the lazy plan
    # showed four FileScan+Generate subtrees).  This also stops
    # InferFiltersFromGenerate from duplicating the whole fixture-array
    # expression into pushed-down Filters, which overflowed janino's
    # 64 KB codegen method limit (interpreted fallback).
    refs = refs.localCheckpoint(eager=False)

    # corpus + KG fixture over the full (part, minor, tail) section space
    p, m, t = F.col("p"), F.col("m"), F.col("t")
    space = (
        docs.select((d % 37).alias("p"), (d % 7 + 1).alias("m"))
        .distinct()
        .withColumn("t", F.explode(F.array(F.lit(0), F.lit(1))))
    )
    sec = F.concat(
        F.lit("EAR-"), (p + 700).cast("string"), F.lit("."), m.cast("string"),
        F.when(t == 1, F.lit("(b)")).otherwise(F.lit("")),
    )
    corpclass = (p + m + t) % 13
    kgclass = (p * 7 + (m - 1) + 5 * t) % 11
    corpus = space.select(
        sec.alias("section_id"),
        F.when(corpclass == 0, F.array().cast("array<int>"))
        .when(corpclass == 1, F.array(F.lit(1), F.lit(2)))
        .otherwise(F.array(F.lit(1)))
        .alias("copies"),
    ).select("section_id", F.explode("copies"))
    counts = corpus.groupBy("section_id").agg(F.count(F.lit(1)).alias("cnt"))

    enc_e = F.regexp_replace(F.regexp_replace(sec, r"\(", "%28"), r"\)", "%29")
    enc_v = F.regexp_replace(enc_e, r"\.", "%2E")
    tok = F.concat(
        F.lit("ear:s_"), (p + 700).cast("string"), F.lit("_"), m.cast("string"),
        F.when(t == 1, F.lit("_b")).otherwise(F.lit("")),
    )
    pre = F.lit("<" + SECTION_IRI_PREFIX)
    lines = space.select(
        F.explode(
            F.filter(
                F.array(
                    F.when(kgclass == 1, F.concat(F.lit("stmt "), tok, F.lit(" ."))),
                    F.when(
                        (kgclass == 2) | (kgclass >= 4),
                        F.concat(pre, enc_e, F.lit("> a ex:Section .")),
                    ),
                    F.when(
                        (kgclass == 2) | (kgclass == 3),
                        F.concat(pre, enc_v, F.lit("> a ex:Section .")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("line")
    ).unionByName(
        docs.filter(d == 0).select(
            F.explode(
                F.array(
                    F.lit("junk ear:s_12_x ."),
                    F.lit("<" + SECTION_IRI_PREFIX + "EAR-699.9> a ex:Section ."),
                )
            ).alias("line")
        )
    )

    # Materialize the fixture line relation once: it feeds BOTH scan
    # passes (canonical + legacy).  Its distinct shuffle runs while the
    # query is built (one job), and pays at sf0.1: without it the row
    # takes 1.19x as long (same boot, 3 interleaved runs a side, A/A
    # spread 0.12).
    lines = lines.localCheckpoint(eager=False)
    canonical, legacy = scan_kg_sections(lines)
    canon_agg = canonical.groupBy("section_id").agg(
        F.countDistinct("iri").alias("n_iri"), F.max("iri").alias("one_iri")
    )

    pairs = (
        refs.filter(
            F.col("norm").isNotNull()
            & (F.col("field") != "evidence.doc_spans.doc_id")
        )
        .select("dataset_id", F.col("norm").alias("sec"))
        .distinct()
    )
    secs = pairs.select("sec").distinct()
    cls = (
        secs.join(counts.withColumnRenamed("section_id", "sec"), "sec", "left")
        .join(canon_agg.withColumnRenamed("section_id", "sec"), "sec", "left")
        .join(
            legacy.withColumnRenamed("section_id", "sec").withColumn(
                "has_legacy", F.lit(True)
            ),
            "sec",
            "left",
        )
        .select(
            "sec",
            (F.coalesce(F.col("cnt"), F.lit(0)) == 0).cast("long").alias("miss_c"),
            (F.coalesce(F.col("cnt"), F.lit(0)) > 1).cast("long").alias("dup_c"),
            (F.col("n_iri").isNull() & F.col("has_legacy").isNull())
            .cast("long")
            .alias("miss_kg"),
            (
                (F.col("n_iri").isNull() & F.col("has_legacy").isNotNull())
                | (
                    (F.col("n_iri") == 1)
                    & (F.col("one_iri") != section_iri(F.col("sec")))
                )
            )
            .cast("long")
            .alias("noncanon"),
            (F.coalesce(F.col("n_iri"), F.lit(0)) > 1).cast("long").alias("dup_kg"),
        )
    )

    def flag_sums(df):
        return [
            F.count(F.lit(1)).alias("expected_sections"),
            F.sum("miss_c").alias("missing_in_corpus"),
            F.sum("dup_c").alias("duplicate_in_corpus"),
            F.sum("miss_kg").alias("missing_in_kg"),
            F.sum("dup_kg").alias("duplicate_in_kg"),
            F.sum("noncanon").alias("noncanonical_in_kg"),
        ]

    perds = pairs.join(cls, "sec").groupBy("dataset_id").agg(*flag_sums(None))
    items = refs.groupBy("dataset_id").agg(
        F.countDistinct("item_id").alias("num_items")
    )
    inv = refs.filter(F.col("norm").isNull()).groupBy("dataset_id").agg(
        F.count(F.lit(1)).alias("invalid_dataset_refs")
    )
    ds_rows = (
        items.join(perds, "dataset_id", "left")
        .join(inv, "dataset_id", "left")
        .select(
            "dataset_id",
            "num_items",
            *[
                F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)
                for c in (
                    "expected_sections", "missing_in_corpus",
                    "duplicate_in_corpus", "missing_in_kg", "duplicate_in_kg",
                    "noncanonical_in_kg", "invalid_dataset_refs",
                )
            ],
        )
    )
    all_row = (
        cls.agg(*flag_sums(None))
        .crossJoin(
            F.broadcast(
                refs.agg(
                    F.countDistinct("item_id").alias("num_items"),
                    F.sum(F.col("norm").isNull().cast("long")).alias(
                        "invalid_dataset_refs"
                    ),
                )
            )
        )
        .select(
            F.lit("ALL").alias("dataset_id"),
            "num_items", "expected_sections", "missing_in_corpus",
            "duplicate_in_corpus", "missing_in_kg", "duplicate_in_kg",
            "noncanonical_in_kg", "invalid_dataset_refs",
        )
    )
    issues = (
        F.col("missing_in_corpus") + F.col("duplicate_in_corpus")
        + F.col("missing_in_kg") + F.col("duplicate_in_kg")
        + F.col("noncanonical_in_kg")
    )
    out = ds_rows.unionByName(all_row).select(
        "dataset_id",
        "num_items",
        "expected_sections",
        F.greatest(
            F.lit(0).cast("long"), F.col("expected_sections") - issues
        ).alias("ok_sections"),
        "missing_in_corpus", "duplicate_in_corpus", "missing_in_kg",
        "duplicate_in_kg", "noncanonical_in_kg", "invalid_dataset_refs",
        F.when(
            issues + F.col("invalid_dataset_refs") > 0, F.lit("fail")
        ).otherwise(F.lit("ok")).alias("status"),
    )
    return out.orderBy("dataset_id")


def _id_consistency_sql() -> str:
    # Version-stable SQL only: UNION ALL fixtures, scalar regex/replace
    # chains, flag sums — no list lambdas, ROLLUP, median, or float
    # arithmetic.  The percent-decode and legacy split_part mirrors are
    # fixture-domain (%28/%29/%2E, <=3 '_'-tokens) — the Spark side runs
    # the general algorithms (operators/id_consistency.py).
    from earcrawler_spark.operators.id_consistency import SECTION_IRI_PREFIX
    from earcrawler_spark.queries_schema import normalize_ear_section_sql

    nd, nd1, nd2, nd3 = (section_body_sql(f"doc_id + {k}") for k in range(4))
    norm = normalize_ear_section_sql("raw")
    norm_enc = normalize_ear_section_sql(
        "replace(replace(replace(encoded, '%28', '('), '%29', ')'), '%2E', '.')"
    )
    norm_tok = normalize_ear_section_sql(
        "t0 || '.' || t1 || CASE WHEN t2 <> '' THEN '(' || lower(t2) || ')' ELSE '' END"
    )
    pre = SECTION_IRI_PREFIX
    ds = dataset_id_sql("doc_id")
    sec = ("'EAR-' || CAST(p + 700 AS VARCHAR) || '.' || CAST(m AS VARCHAR) "
           "|| CASE WHEN t = 1 THEN '(b)' ELSE '' END")
    tok = ("'ear:s_' || CAST(p + 700 AS VARCHAR) || '_' || CAST(m AS VARCHAR) "
           "|| CASE WHEN t = 1 THEN '_b' ELSE '' END")
    enc_e = f"replace(replace({sec}, '(', '%28'), ')', '%29')"
    enc_v = f"replace({enc_e}, '.', '%2E')"
    canon_re = r"https://ear\.example\.org/resource/ear/section/([A-Za-z0-9\-._~%]+)"
    legacy_re = r"\bear:s_([A-Za-z0-9_]+)\b"
    expected_iri = f"'{pre}' || replace(replace(s.sec, '(', '%28'), ')', '%29')"
    return f"""
WITH refs AS (
  SELECT doc_id AS item_id, {ds} AS dataset_id,
         'ear_sections' AS field, 'EAR-' || {nd} AS raw FROM documents
  UNION ALL SELECT doc_id, {ds},
         'ear_sections', '§ ' || {nd1} FROM documents WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id, {ds},
         'ear_sections', 'not a section' FROM documents WHERE doc_id % 11 = 0
  UNION ALL SELECT doc_id, {ds},
         'expected.citations', '15 CFR ' || {nd2} FROM documents WHERE doc_id % 4 = 0
  UNION ALL SELECT doc_id, {ds},
         'expected.citations', 'EAR-' FROM documents WHERE doc_id % 13 = 0
  UNION ALL SELECT doc_id, {ds},
         'evidence.doc_spans.span_id', 'EAR-' || {nd3} || '(B)'
         FROM documents WHERE doc_id % 5 = 0
  UNION ALL SELECT doc_id, {ds},
         'evidence.doc_spans.doc_id', 'part XIV' FROM documents WHERE doc_id % 17 = 0
), normalized AS (
  SELECT item_id, dataset_id, field, {norm} AS norm FROM refs
), space AS (
  SELECT p, m, t FROM (SELECT DISTINCT doc_id % 37 AS p, doc_id % 7 + 1 AS m
                       FROM documents)
  CROSS JOIN (SELECT 0 AS t UNION ALL SELECT 1)
), counts AS (
  SELECT section_id, count(*) AS cnt FROM (
    SELECT {sec} AS section_id FROM space WHERE (p + m + t) % 13 <> 0
    UNION ALL SELECT {sec} FROM space WHERE (p + m + t) % 13 = 1
  ) GROUP BY section_id
), kglines AS (
  SELECT 'stmt ' || {tok} || ' .' AS line FROM space
  WHERE (p * 7 + (m - 1) + 5 * t) % 11 = 1
  UNION ALL SELECT '<{pre}' || {enc_e} || '> a ex:Section .' FROM space
  WHERE (p * 7 + (m - 1) + 5 * t) % 11 = 2 OR (p * 7 + (m - 1) + 5 * t) % 11 >= 4
  UNION ALL SELECT '<{pre}' || {enc_v} || '> a ex:Section .' FROM space
  WHERE (p * 7 + (m - 1) + 5 * t) % 11 IN (2, 3)
  UNION ALL SELECT 'junk ear:s_12_x .'
  UNION ALL SELECT '<{pre}EAR-699.9> a ex:Section .'
), canonical AS (
  SELECT DISTINCT {norm_enc} AS section_id, '{pre}' || encoded AS iri FROM (
    SELECT unnest(regexp_extract_all(line, '{canon_re}', 1)) AS encoded
    FROM kglines)
  WHERE {norm_enc} IS NOT NULL
), legacy AS (
  SELECT DISTINCT {norm_tok} AS section_id FROM (
    SELECT split_part(tk, '_', 1) AS t0, split_part(tk, '_', 2) AS t1,
           split_part(tk, '_', 3) AS t2 FROM (
      SELECT unnest(regexp_extract_all(line, '{legacy_re}', 1)) AS tk
      FROM kglines))
  WHERE regexp_matches(t0, '^\\d{{3}}$') AND regexp_matches(t1, '^\\d+$')
    AND {norm_tok} IS NOT NULL
), canon_agg AS (
  SELECT section_id, count(DISTINCT iri) AS n_iri, max(iri) AS one_iri
  FROM canonical GROUP BY section_id
), pairs AS (
  SELECT DISTINCT dataset_id, norm AS sec FROM normalized
  WHERE norm IS NOT NULL AND field <> 'evidence.doc_spans.doc_id'
), secs AS (
  SELECT DISTINCT sec FROM pairs
), cls AS (
  SELECT s.sec,
    CAST(coalesce(c.cnt, 0) = 0 AS BIGINT) AS miss_c,
    CAST(coalesce(c.cnt, 0) > 1 AS BIGINT) AS dup_c,
    CAST(a.n_iri IS NULL AND l.section_id IS NULL AS BIGINT) AS miss_kg,
    CAST((a.n_iri IS NULL AND l.section_id IS NOT NULL)
         OR (a.n_iri = 1 AND a.one_iri <> {expected_iri}) AS BIGINT) AS noncanon,
    CAST(coalesce(a.n_iri, 0) > 1 AS BIGINT) AS dup_kg
  FROM secs s
  LEFT JOIN counts c ON s.sec = c.section_id
  LEFT JOIN canon_agg a ON s.sec = a.section_id
  LEFT JOIN legacy l ON s.sec = l.section_id
), perds AS (
  SELECT p.dataset_id, count(*) AS expected_sections,
         CAST(sum(miss_c) AS BIGINT) AS missing_in_corpus,
         CAST(sum(dup_c) AS BIGINT) AS duplicate_in_corpus,
         CAST(sum(miss_kg) AS BIGINT) AS missing_in_kg,
         CAST(sum(dup_kg) AS BIGINT) AS duplicate_in_kg,
         CAST(sum(noncanon) AS BIGINT) AS noncanonical_in_kg
  FROM pairs p JOIN cls ON p.sec = cls.sec GROUP BY p.dataset_id
), rows_ AS (
  SELECT i.dataset_id, i.num_items,
         coalesce(e.expected_sections, 0) AS expected_sections,
         coalesce(e.missing_in_corpus, 0) AS missing_in_corpus,
         coalesce(e.duplicate_in_corpus, 0) AS duplicate_in_corpus,
         coalesce(e.missing_in_kg, 0) AS missing_in_kg,
         coalesce(e.duplicate_in_kg, 0) AS duplicate_in_kg,
         coalesce(e.noncanonical_in_kg, 0) AS noncanonical_in_kg,
         coalesce(v.n, 0) AS invalid_dataset_refs
  FROM (SELECT dataset_id, count(DISTINCT item_id) AS num_items
        FROM refs GROUP BY dataset_id) i
  LEFT JOIN perds e ON i.dataset_id = e.dataset_id
  LEFT JOIN (SELECT dataset_id, count(*) AS n FROM normalized
             WHERE norm IS NULL GROUP BY dataset_id) v
    ON i.dataset_id = v.dataset_id
  UNION ALL
  SELECT 'ALL',
         (SELECT count(DISTINCT item_id) FROM refs),
         (SELECT count(*) FROM cls),
         (SELECT CAST(sum(miss_c) AS BIGINT) FROM cls),
         (SELECT CAST(sum(dup_c) AS BIGINT) FROM cls),
         (SELECT CAST(sum(miss_kg) AS BIGINT) FROM cls),
         (SELECT CAST(sum(dup_kg) AS BIGINT) FROM cls),
         (SELECT CAST(sum(noncanon) AS BIGINT) FROM cls),
         (SELECT count(*) FROM normalized WHERE norm IS NULL)
)
SELECT dataset_id, num_items, expected_sections,
       greatest(CAST(0 AS BIGINT),
                expected_sections - missing_in_corpus - duplicate_in_corpus
                - missing_in_kg - duplicate_in_kg - noncanonical_in_kg)
         AS ok_sections,
       missing_in_corpus, duplicate_in_corpus, missing_in_kg,
       duplicate_in_kg, noncanonical_in_kg, invalid_dataset_refs,
       CASE WHEN missing_in_corpus + duplicate_in_corpus + missing_in_kg
                 + duplicate_in_kg + noncanonical_in_kg
                 + invalid_dataset_refs > 0
            THEN 'fail' ELSE 'ok' END AS status
FROM rows_
ORDER BY dataset_id
"""


EVAL_QUERIES["id_consistency"] = q_id_consistency
EVAL_ORACLES["id_consistency"] = _id_consistency_sql()


# --- answer scoring modes -----------------------------------------------------


def q_answer_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_answer_is_correct's exact + normalized modes
    (scripts/eval/eval_rag_llm.py:241-277) over a gt/pred fixture
    exercising the whole matrix: identical, case-only difference,
    'answer:'/'final answer:' prefixes, trailing punctuation, quote
    wrapping, whitespace padding, and empty ground truth / prediction
    (always incorrect).  The semantic mode (difflib Ratcliff ratio) has
    no relational equivalent — it lives in
    operators/answer_scoring.semantic_match_ratio (Arrow UDF), pinned
    against difflib in tests/test_answer_scoring.py."""
    from earcrawler_spark.operators.answer_scoring import (
        answer_is_correct,
        normalize_answer_text,
    )

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    gt = (
        F.when(d % 6 == 0, F.lit("Yes."))
        .when(d % 6 == 1, F.lit("Answer: Yes!"))
        .when(d % 6 == 2, F.concat(F.lit("A license is required for activity "), d.cast("string")))
        .when(d % 6 == 3, F.lit("No"))
        .when(d % 6 == 4, F.lit(""))
        .otherwise(F.concat(F.lit("\"Quoted answer "), d.cast("string"), F.lit("\"")))
    )
    pred = (
        F.when(d % 5 == 0, gt)
        .when(d % 5 == 1, F.upper(gt))
        .when(d % 5 == 2, F.concat(F.lit("final answer: "), gt))
        .when(d % 5 == 3, F.concat(F.lit("  "), gt, F.lit("  !!")))
        .otherwise(F.lit("different entirely"))
    )
    base = docs.select(d.alias("item_id"), gt.alias("gt"), pred.alias("pred"))
    return base.select(
        "item_id",
        "gt",
        "pred",
        normalize_answer_text(F.col("pred")).alias("norm_pred"),
        answer_is_correct(F.col("gt"), F.col("pred"), "exact").alias(
            "correct_exact"
        ),
        answer_is_correct(F.col("gt"), F.col("pred"), "normalized").alias(
            "correct_normalized"
        ),
    ).orderBy("item_id")


def _answer_scoring_sql() -> str:
    gt = ("CASE doc_id % 6 WHEN 0 THEN 'Yes.' WHEN 1 THEN 'Answer: Yes!' "
          "WHEN 2 THEN 'A license is required for activity ' "
          "|| CAST(doc_id AS VARCHAR) "
          "WHEN 3 THEN 'No' WHEN 4 THEN '' "
          "ELSE '\"Quoted answer ' || CAST(doc_id AS VARCHAR) || '\"' END")
    pred = (f"CASE doc_id % 5 WHEN 0 THEN g WHEN 1 THEN upper(g) "
            f"WHEN 2 THEN 'final answer: ' || g "
            f"WHEN 3 THEN '  ' || g || '  !!' "
            f"ELSE 'different entirely' END")

    def norm(x):
        ws = lambda e: f"regexp_replace({e}, '^\\s+|\\s+$', '', 'g')"
        v = ws(x)
        v = f"regexp_replace({v}, '(?i)^(answer|final answer)\\s*:\\s*', '')"
        v = f"lower({v})"
        v = ws(f"regexp_replace({v}, '\\s+', ' ', 'g')")
        v = (f"regexp_replace({v}, "
             "'^[ \\t\\n\\r\"''`]+|[ \\t\\n\\r\"''`]+$', '', 'g')")
        return (f"regexp_replace({v}, "
                "'^[ .,:;!?]+|[ .,:;!?]+$', '', 'g')")

    return f"""
WITH base AS (
  SELECT doc_id AS item_id, g AS gt, {pred} AS pred
  FROM (SELECT doc_id, {gt} AS g FROM documents)
)
SELECT item_id, gt, pred,
       {norm('pred')} AS norm_pred,
       gt <> '' AND pred <> '' AND pred = gt AS correct_exact,
       gt <> '' AND pred <> '' AND {norm('pred')} = {norm('gt')}
         AS correct_normalized
FROM base
ORDER BY item_id
"""


EVAL_QUERIES["answer_scoring"] = q_answer_scoring
EVAL_ORACLES["answer_scoring"] = _answer_scoring_sql()
