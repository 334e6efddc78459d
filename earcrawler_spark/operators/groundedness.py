"""Groundedness support gate — the reference CI's phase-2 pass/fail core.

Reference: eval/groundedness_gates.py
- `_build_context_index` (:160-182): section_id -> [context texts] from the
  rendered context blocks + retrieved docs.
- `evaluate_groundedness_signals` (:243-436): per-citation validity
  (invalid_section_id / quote_missing) and quote-in-section-context
  substring checks on whitespace-normalized text (`_substring_in_context`,
  :132-136); per decisive claim of answerable items, citation linkage by
  explicit section mention or content-token overlap, then the support
  rule: explicit-section-reference match, else token overlap >= 1 (claims
  of <=2 tokens) / 2, or coverage >= 0.5, over the union of the linked
  supported citations' quote tokens.
- `finalize_groundedness_metrics` (:439-470): presence / valid-citation /
  supported / overclaim rates with the 1.0 / 1.0 / 0.0 empty-denominator
  defaults.
- `load_phase2_gate_thresholds` (:106-126) +
  eval/phase2_groundedness_gates.json: the gate thresholds; the verdict
  compares unanswerable accuracy and the groundedness rates against them
  (tests/golden/test_phase2_golden_gate.py:496-560).

Scale shape: citations join the context index on section_id (the index is
a per-section aggregate — dimension-sized, broadcastable); the claim-to-
citation linkage is a per-item join (bounded fan-out: citations per item),
and everything rolls up in ONE pass per level with no window and no
driver-side loops.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import normalize_ws
from earcrawler_spark.operators.citation import normalize_section_full

DEFAULT_PHASE2_GATES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "phase2_groundedness_gates.json",
)

_THRESHOLD_DEFAULTS = {
    "unanswerable_accuracy_min": 0.9,
    "grounding_contract_pass_rate_min": 0.8,
    "citation_precision_eq": 1.0,
    "known_bad_citations_count_eq": 0,
    "valid_citation_rate_eq": 1.0,
    "supported_rate_eq": 1.0,
    "overclaim_rate_eq": 0.0,
}


def load_phase2_gate_thresholds(path: str | None = None) -> dict:
    """load_phase2_gate_thresholds (groundedness_gates.py:106-126): the
    `golden_phase2` object with reference defaults for absent keys."""
    config_path = path or DEFAULT_PHASE2_GATES_PATH
    with open(config_path, encoding="utf-8") as fh:
        raw = json.load(fh)
    payload = raw.get("golden_phase2") if isinstance(raw, dict) else {}
    if not isinstance(payload, dict):
        raise ValueError(
            "phase2 groundedness gate config must contain a golden_phase2 object"
        )
    out = {}
    for key, default in _THRESHOLD_DEFAULTS.items():
        cast = int if key == "known_bad_citations_count_eq" else float
        out[key] = cast(payload.get(key, default))
    return out


def score_citations(citations: DataFrame, context: DataFrame) -> DataFrame:
    """Per-citation validity + quote-in-context signals.

    citations: (item_id, cit_idx, raw_section_id, quote)
    context:   (section_id, ctx_text) — the context index, possibly
               several texts per section.
    ->         (item_id, cit_idx, section_id, valid, quote_in_section,
                quote_tokens)

    Mirrors evaluate_groundedness_signals' citation loop with
    reference_sections=None (groundedness_gates.py:248-296): a citation
    is valid when its raw id is non-empty, normalizes to itself, and the
    quote is non-empty; quote_in_section is the whitespace-normalized
    substring check against any context text of that section.
    """
    from earcrawler_spark.queries_eval import content_tokens

    # reference strips (not ws-collapses) the raw id and quote
    # (groundedness_gates.py:252-253); the ws-collapse applies only
    # inside _substring_in_context (:132-136)
    raw = F.trim(F.coalesce(F.col("raw_section_id"), F.lit("")))
    q = F.trim(F.coalesce(F.col("quote"), F.lit("")))
    c = citations.select(
        "item_id",
        "cit_idx",
        raw.alias("_raw"),
        normalize_section_full(raw).alias("section_id"),
        q.alias("_q"),
        normalize_ws(q).alias("_qn"),
    ).withColumn(
        "valid",
        (F.col("_raw") != "")
        & F.col("section_id").isNotNull()
        & (F.col("_raw") == F.col("section_id"))
        & (F.col("_q") != ""),
    )
    ctx = context.select(
        F.col("section_id").alias("_csec"), normalize_ws(F.col("ctx_text")).alias("_ctx")
    )
    joined = c.join(ctx, c["section_id"] == ctx["_csec"], "left")
    has_q = F.col("_q") != ""
    has_sec = F.col("section_id").isNotNull()
    return (
        joined.groupBy("item_id", "cit_idx")
        .agg(
            F.first("_raw").alias("_raw"),
            F.first("section_id").alias("section_id"),
            F.first("valid").alias("valid"),
            F.first("_q").alias("_q"),
            F.max(F.col("_ctx").isNotNull().cast("int")).alias("_has_ctx"),
            F.max(
                (
                    (F.col("_qn") != "")
                    & F.col("_ctx").isNotNull()
                    & (F.instr(F.col("_ctx"), F.col("_qn")) > 0)
                ).cast("int")
            ).alias("_in"),
        )
        .select(
            "item_id",
            "cit_idx",
            "section_id",
            "valid",
            (has_sec & (F.coalesce("_in", F.lit(0)) == 1)).alias(
                "quote_in_section"
            ),
            content_tokens(F.col("_q")).alias("quote_tokens"),
            # per-citation reason flags (groundedness_gates.py:260-283)
            (
                (F.col("_raw") == "")
                | ~has_sec
                | (F.col("_raw") != F.col("section_id"))
            ).alias("r_invalid_section_id"),
            (~has_q).alias("r_quote_missing"),
            (
                has_sec & has_q & (F.col("_has_ctx") == 1)
                & (F.coalesce("_in", F.lit(0)) == 0)
            ).alias("r_quote_not_in_section_context"),
            (has_sec & has_q & (F.col("_has_ctx") == 0)).alias(
                "r_section_context_missing"
            ),
        )
    )


def score_claims(decisive_claims: DataFrame, scored_citations: DataFrame) -> DataFrame:
    """Per-claim support verdicts (groundedness_gates.py:300-375).

    decisive_claims: (item_id, claim_idx, tokens, sections) — decisive
    claims of answerable items only (the caller filters; the reference
    empties the claim list for label == 'unanswerable').
    scored_citations: score_citations output.
    -> (item_id, claim_idx, supported)

    A citation links to a claim when the claim explicitly mentions its
    section or shares at least one content token with its quote.  Support
    needs a linked valid+in-context citation AND either an explicit
    section match or the token-overlap / coverage rule over the union of
    linked supported citations' quote tokens.
    """
    cl = decisive_claims.select(
        "item_id",
        "claim_idx",
        F.col("tokens").alias("_ctok"),
        F.col("sections").alias("_csec"),
    )
    ci = scored_citations.select(
        "item_id",
        F.col("section_id").alias("_sid"),
        F.col("valid").alias("_v"),
        F.col("quote_in_section").alias("_qin"),
        F.col("quote_tokens").alias("_qtok"),
    ).filter(F.col("_sid").isNotNull())  # reference skips section-less citations
    link = cl.join(ci, "item_id", "left")
    explicit = F.array_contains(F.col("_csec"), F.col("_sid"))
    overlap_n = F.size(F.array_intersect(F.col("_ctok"), F.col("_qtok")))
    linked = F.coalesce(explicit | (overlap_n > 0), F.lit(False))
    sup_cit = linked & F.coalesce(F.col("_v") & F.col("_qin"), F.lit(False))
    linked_unsup = linked & ~F.coalesce(F.col("_v") & F.col("_qin"), F.lit(False))
    agg = link.groupBy("item_id", "claim_idx").agg(
        F.first("_ctok").alias("_ctok"),
        F.max(sup_cit.cast("int")).alias("_any_sup"),
        F.max((sup_cit & explicit).cast("int")).alias("_explicit_hit"),
        F.max(linked_unsup.cast("int")).alias("_any_unsup"),
        F.array_distinct(
            F.flatten(
                F.collect_list(F.when(sup_cit, F.col("_qtok")))
            )
        ).alias("_union_tok"),
    )
    n_tok = F.size("_ctok")
    ov = F.size(F.array_intersect("_ctok", "_union_tok"))
    min_overlap = F.when(n_tok <= 2, F.lit(1)).otherwise(F.lit(2))
    coverage = F.when(n_tok > 0, ov / n_tok).otherwise(F.lit(0.0))
    supported = (F.coalesce("_any_sup", F.lit(0)) == 1) & (
        (F.coalesce("_explicit_hit", F.lit(0)) == 1)
        | ((n_tok > 0) & ((ov >= min_overlap) | (coverage >= 0.5)))
    )
    # the reference's per-claim reason (groundedness_gates.py:328-356):
    # first applicable of the explicit/quote/unsupported/no-link ladder
    reason = (
        F.when(
            F.coalesce("_any_sup", F.lit(0)) == 1,
            F.when(
                F.coalesce("_explicit_hit", F.lit(0)) == 1,
                F.lit("supported_by_explicit_section_reference"),
            )
            .when(supported, F.lit("supported_by_section_quote"))
            .otherwise(F.lit("claim_not_supported_by_quote")),
        )
        .when(
            F.coalesce("_any_unsup", F.lit(0)) == 1,
            F.lit("claim_linked_citation_not_supported"),
        )
        .otherwise(F.lit("claim_without_linked_citation"))
    )
    return agg.select(
        "item_id", "claim_idx", supported.alias("supported"),
        reason.alias("reason"),
    )


def groundedness_gate(
    items: DataFrame,
    citations: DataFrame,
    context: DataFrame,
    decisive_claims: DataFrame,
    thresholds: dict | None = None,
    scored_citations: DataFrame | None = None,
) -> DataFrame:
    """Dataset-level gate rows (per dataset_id + ALL).

    items: (item_id, dataset_id, label, predicted_label)
    citations / context: see score_citations
    decisive_claims: see score_claims
    scored_citations: optional pre-materialized score_citations(citations,
    context) output — the caller-shared frame; the plan references it
    twice (citation rollup + claim scoring), so passing a materialized
    frame halves the scoring work per action.
    -> one row per dataset + the ALL rollup row with the
    finalize_groundedness_metrics rates, unanswerable accuracy
    (test_phase2_golden_gate.py:496-500), and the pass/fail verdicts
    against the phase-2 thresholds.
    """
    th = thresholds or load_phase2_gate_thresholds()

    sc = (
        scored_citations
        if scored_citations is not None
        else score_citations(citations, context)
    )
    cit_item = sc.groupBy("item_id").agg(
        F.count(F.lit(1)).alias("n_cit"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
    )
    claim_item = (
        score_claims(decisive_claims, sc)
        .groupBy("item_id")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.sum(F.col("supported").cast("long")).alias("n_supported"),
        )
    )
    per_item = (
        items.join(cit_item, "item_id", "left")
        .join(claim_item, "item_id", "left")
        .select(
            "item_id",
            "dataset_id",
            "label",
            "predicted_label",
            F.coalesce("n_cit", F.lit(0)).alias("n_cit"),
            F.coalesce("n_valid", F.lit(0)).alias("n_valid"),
            F.coalesce("n_claims", F.lit(0)).alias("n_claims"),
            F.coalesce("n_supported", F.lit(0)).alias("n_supported"),
        )
    )
    unans = (F.col("label") == "unanswerable").cast("long")
    unans_ok = (
        (F.col("label") == "unanswerable")
        & (F.col("predicted_label") == "unanswerable")
    ).cast("long")
    g = per_item.rollup("dataset_id").agg(
        F.count(F.lit(1)).alias("num_items"),
        F.sum((F.col("n_cit") > 0).cast("long")).alias("items_with_citations"),
        F.sum("n_cit").alias("total_citations"),
        F.sum("n_valid").alias("valid_citations"),
        F.sum(unans).alias("unanswerable_total"),
        F.sum(unans_ok).alias("unanswerable_correct"),
        F.sum("n_claims").alias("total_claims"),
        F.sum("n_supported").alias("supported_claims"),
        F.sum((F.col("n_claims") - F.col("n_supported"))).alias("overclaim_count"),
        F.sum(((F.col("n_claims") - F.col("n_supported")) > 0).cast("long")).alias(
            "items_overclaim"
        ),
    )
    presence = F.round(F.col("items_with_citations") / F.col("num_items"), 6)
    vrate = F.round(
        F.when(
            F.col("total_citations") > 0,
            F.col("valid_citations") / F.col("total_citations"),
        ).otherwise(F.lit(1.0)),
        6,
    )
    srate = F.round(
        F.when(
            F.col("total_claims") > 0,
            F.col("supported_claims") / F.col("total_claims"),
        ).otherwise(F.lit(1.0)),
        6,
    )
    orate = F.round(
        F.when(
            F.col("total_claims") > 0,
            F.col("overclaim_count") / F.col("total_claims"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    uacc = F.round(
        F.when(
            F.col("unanswerable_total") > 0,
            F.col("unanswerable_correct") / F.col("unanswerable_total"),
        ).otherwise(F.lit(1.0)),
        6,
    )
    out = g.select(
        F.coalesce("dataset_id", F.lit("ALL")).alias("dataset_id"),
        "num_items",
        "items_with_citations",
        "total_citations",
        "valid_citations",
        "unanswerable_total",
        "unanswerable_correct",
        "total_claims",
        "supported_claims",
        "overclaim_count",
        "items_overclaim",
        presence.alias("presence_rate"),
        vrate.alias("valid_citation_rate"),
        srate.alias("supported_rate"),
        orate.alias("overclaim_rate"),
        uacc.alias("unanswerable_accuracy"),
    )
    pass_u = F.col("unanswerable_accuracy") >= th["unanswerable_accuracy_min"]
    pass_v = F.col("valid_citation_rate") == th["valid_citation_rate_eq"]
    pass_s = F.col("supported_rate") == th["supported_rate_eq"]
    pass_o = F.col("overclaim_rate") == th["overclaim_rate_eq"]
    return out.select(
        "*",
        pass_u.alias("pass_unanswerable"),
        pass_v.alias("pass_valid_citations"),
        pass_s.alias("pass_supported"),
        pass_o.alias("pass_overclaim"),
        (pass_u & pass_v & pass_s & pass_o).alias("gate_ok"),
    )
