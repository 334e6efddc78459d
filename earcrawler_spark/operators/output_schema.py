"""Strict LLM-output JSON contract — the RAG answer validator.

Reference: rag/output_schema.py `parse_strict_answer_json` (:197-455):
first-error validation of answer payloads in a fixed check order —
invalid/empty JSON, top-level object shape, extra/missing keys, label
and answer_text coercion, label enum, citations array shape, then per
citation (in order): missing keys, canonical section id
(corpus_contract.normalize_ear_section_id round-trip), quote grounding
against the per-section context index; then evidence_okay.ok hard
rejection, assumptions support, the answerable-needs-grounded-citations
rule, and the unanswerable answer-quality rules (refusal + hint
keywords, no yes/no opener).

Spark-first shape: each payload is one row; all probes are native JSON
functions (`json_object_keys`, `get_json_object`, `from_json`) plus a
broadcast-joined per-section context index — no Python, no per-row
loops; the verdict is a single first-error CASE ladder per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import normalize_ws
from earcrawler_spark.sources import normalize_ear_section_id

ALLOWED_LABELS = [
    "license_required", "no_license_required", "exception_applies",
    "permitted_with_license", "permitted", "prohibited", "unanswerable",
    "true", "false",
]
REQUIRED_KEYS = ["label", "answer_text", "citations", "evidence_okay",
                 "assumptions"]
OPTIONAL_KEYS = ["justification"]
REFUSAL_PATTERN = (
    r"(?i)\b(insufficient|not enough|cannot determine|unable to determine|"
    r"cannot answer|unanswerable|does not mention|not mentioned|not present|"
    r"not provided|does not contain)\b"
)
HINT_PATTERN = (
    r"(?i)\b(need|needs|missing|provide|provided|providing|additional|more|"
    r"to determine|to answer)\b"
)
CITATIONS_SCHEMA = "array<struct<section_id:string,quote:string,span_id:string>>"


def validate_llm_outputs(
    payloads: DataFrame, context_entries: DataFrame
) -> DataFrame:
    """payloads (item_id, raw) + context_entries (item_id, entry —
    '[<section>] <text>' strings, the structured `contexts` argument)
    -> (item_id, code): the FIRST failing check's error code in
    reference order, or 'ok'."""
    # per-item context index ([section] prefix parse, normalized ids)
    # and the joined full-context string for the assumptions rule
    ent = context_entries.select(
        "item_id",
        normalize_ear_section_id(
            F.regexp_extract("entry", r"^\[([^\]]+)\]", 1)
        ).alias("_sec"),
        F.trim(F.regexp_extract("entry", r"^\[[^\]]+\]\s*([\s\S]*)$", 1)).alias(
            "_text"
        ),
        F.col("entry").alias("_entry"),
    )
    # sorted entry order on both engines so the joined full-context
    # string (assumptions rule) is deterministic
    full_ctx = ent.groupBy("item_id").agg(
        normalize_ws(
            F.concat_ws("\n\n", F.array_sort(F.collect_list("_entry")))
        ).alias("_full"),
        # reference truthiness of the RAW '\n\n' join (output_schema.py
        # :170, :411, :421): two empty entries join to '\n\n' (truthy)
        # but a single empty entry joins to '' (falsy)
        (
            F.length(
                F.concat_ws("\n\n", F.array_sort(F.collect_list("_entry")))
            )
            > 0
        ).alias("_ctx_truthy"),
        # has_structured_context: any entry parsed into the index
        (
            F.max(
                (F.col("_sec").isNotNull() & (F.col("_text") != ""))
                .cast("int")
            )
            == 1
        ).alias("_has_struct"),
    )

    p = payloads.withColumn("_t", F.trim("raw"))
    keys = F.json_object_keys(F.col("_t"))
    invalid_json = (F.col("_t") == "") | F.get_json_object("_t", "$").isNull()
    not_object = ~F.col("_t").startswith("{")
    extras = F.array_sort(
        F.array_except(keys, F.array(*[F.lit(k) for k in REQUIRED_KEYS + OPTIONAL_KEYS]))
    )
    missing = F.array_sort(
        F.array_except(F.array(*[F.lit(k) for k in REQUIRED_KEYS]), keys)
    )
    label = F.lower(F.coalesce(F.get_json_object("_t", "$.label"), F.lit("")))
    answer = F.coalesce(F.get_json_object("_t", "$.answer_text"), F.lit(""))
    cit_raw = F.get_json_object("_t", "$.citations")
    cit_not_array = cit_raw.isNotNull() & ~F.ltrim(cit_raw).startswith("[")
    cits = F.from_json(cit_raw, CITATIONS_SCHEMA)
    evid_ok_raw = F.get_json_object("_t", "$.evidence_okay.ok")
    assumptions = F.from_json(
        F.get_json_object("_t", "$.assumptions"), "array<string>"
    )

    p = p.select(
        "item_id", "_t",
        invalid_json.alias("_invalid_json"),
        not_object.alias("_not_object"),
        extras.alias("_extras"),
        missing.alias("_missing"),
        label.alias("_label"),
        answer.alias("_answer"),
        cit_not_array.alias("_cit_not_array"),
        cits.alias("_cits"),
        evid_ok_raw.alias("_evid_ok"),
        assumptions.alias("_assumptions"),
    )

    # per-citation verdicts: explode, join the per-section context index,
    # keep the FIRST failing citation's code (reference raises in order)
    ex = p.filter(F.size("_cits") > 0).select(
        "item_id", F.posexplode("_cits").alias("_pos", "_c")
    )
    norm = normalize_ear_section_id(F.col("_c.section_id"))
    ex = ex.select(
        "item_id", "_pos",
        F.col("_c.section_id").alias("_csec"),
        F.col("_c.quote").alias("_q"),
        norm.alias("_norm"),
    )
    j = ex.join(
        ent.select(F.col("item_id").alias("_ei"), "_sec", "_text"),
        (ex["item_id"] == F.col("_ei")) & (ex["_norm"] == F.col("_sec")),
        "left",
    )
    per_cit = j.groupBy("item_id", "_pos").agg(
        F.first("_csec").alias("_csec"),
        F.first("_q").alias("_q"),
        F.first("_norm").alias("_norm"),
        F.max(
            (
                F.col("_text").isNotNull()
                & (normalize_ws(F.col("_q")) != "")
                & (F.instr(normalize_ws(F.col("_text")), normalize_ws(F.col("_q"))) > 0)
            ).cast("int")
        ).alias("_grounded"),
    )
    cit_code = (
        F.when(F.col("_q").isNull() | F.col("_csec").isNull(), F.lit("missing_key"))
        .when(
            F.col("_norm").isNull() | (F.col("_norm") != F.col("_csec")),
            F.lit("invalid_section_id"),
        )
        .when(F.col("_grounded") == 0, F.lit("ungrounded_citation"))
    )
    first_cit = (
        per_cit.withColumn("_code", cit_code)
        .filter(F.col("_code").isNotNull())
        .groupBy("item_id")
        .agg(F.min(F.struct("_pos", "_code")).alias("_fc"))
        .select("item_id", F.col("_fc._code").alias("_cit_code"))
    )

    out = (
        p.join(first_cit, "item_id", "left")
        .join(full_ctx, "item_id", "left")
    )
    assumption_bad = (
        (F.col("_label") != "unanswerable")
        # reference :411 `if full_context and assumptions` — raw-join
        # truthiness, not row existence
        & F.coalesce(F.col("_ctx_truthy"), F.lit(False))
        & F.exists(
            F.coalesce("_assumptions", F.array().cast("array<string>")),
            lambda a: (normalize_ws(a) != "")
            & (F.instr(F.col("_full"), normalize_ws(a)) == 0),
        )
    )
    unanswerable_bad_text = (
        ~F.col("_answer").rlike(REFUSAL_PATTERN)
        | ~F.col("_answer").rlike(HINT_PATTERN)
        | F.lower(F.trim("_answer")).startswith("yes")
        | F.lower(F.trim("_answer")).startswith("no")
    )
    code = (
        F.when(F.col("_invalid_json"), F.lit("invalid_json"))
        .when(F.col("_not_object"), F.lit("wrong_type"))
        .when(F.size("_extras") > 0, F.lit("extra_key"))
        .when(F.size("_missing") > 0, F.lit("missing_key"))
        .when((F.col("_label") == "") | (F.col("_answer") == ""), F.lit("invalid_value"))
        .when(~F.col("_label").isin(*ALLOWED_LABELS), F.lit("invalid_enum"))
        .when(F.col("_cit_not_array"), F.lit("wrong_type"))
        .when(F.col("_cit_code").isNotNull(), F.col("_cit_code"))
        .when(F.col("_evid_ok") == "false", F.lit("evidence_not_ok"))
        .when(assumption_bad, F.lit("assumption_unsupported"))
        .when(
            # reference :421 gates this on (has_structured_context or
            # full_context-truthy) — an item with no retrieved context
            # (or one whose single context entry is empty) may answer
            # without citations
            (
                F.coalesce(F.col("_has_struct"), F.lit(False))
                | F.coalesce(F.col("_ctx_truthy"), F.lit(False))
            )
            & (F.col("_label") != "unanswerable")
            & (F.size(F.coalesce("_cits", F.from_json(F.lit("[]"), CITATIONS_SCHEMA))) == 0),
            F.lit("ungrounded_citation"),
        )
        .when(
            (F.col("_label") == "unanswerable") & unanswerable_bad_text,
            F.lit("invalid_value"),
        )
        .otherwise(F.lit("ok"))
    )
    return out.select("item_id", code.alias("code")).orderBy("item_id")
