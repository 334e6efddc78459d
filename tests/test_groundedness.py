"""Groundedness gate operators vs a direct model of
eval/groundedness_gates.py evaluate_groundedness_signals (citation
validity, quote-in-context, claim linkage + support rule) on randomized
item fixtures."""

from __future__ import annotations

import random
import re

from earcrawler_spark.operators.groundedness import (
    load_phase2_gate_thresholds,
    score_citations,
    score_claims,
)

_SECTION_INLINE_RE = re.compile(
    r"\bEAR-\d[\w().-]*|\b\d{3}\.\d+(?:\([^)]+\))*", flags=re.IGNORECASE
)
_WORD_RE = re.compile(r"[a-z0-9]+")
_SEC_RE = re.compile(
    r"^(?:15\s*CFR\s*)?(?:§+\s*)?(?P<section>\d{3}(?:\.\S+)?)$", re.IGNORECASE
)
from earcrawler_spark.queries_eval import STOPWORDS


def _norm_token(value: str) -> str:
    value = value.lower()
    if len(value) > 5 and value.endswith("ing"):
        value = value[:-3]
    elif len(value) > 4 and value.endswith("ies"):
        value = value[:-3] + "y"
    elif len(value) > 4 and value.endswith("ed"):
        value = value[:-2]
    elif len(value) > 4 and value.endswith("es"):
        value = value[:-2]
    elif len(value) > 4 and value.endswith("s") and not value.endswith("ss"):
        value = value[:-1]
    return value


def _content_tokens(text: str) -> set[str]:
    scrubbed = _SECTION_INLINE_RE.sub(" ", str(text or "").lower())
    toks = {
        _norm_token(t)
        for t in _WORD_RE.findall(scrubbed)
        if t not in STOPWORDS and len(t) > 1
    }
    return {t for t in toks if t}


def _normalize_section_id(value) -> str | None:
    raw = str(value or "").strip()
    if not raw:
        return None
    if raw.upper().startswith("EAR-"):
        if "#" in raw:
            raw = raw.split("#", 1)[0].strip()
        return raw
    cleaned = raw.strip().rstrip(".,;:")
    cleaned = re.sub(r"^§+\s*", "", cleaned).strip()
    m = _SEC_RE.match(cleaned)
    if m:
        return f"EAR-{m.group('section')}"
    return raw


def _normws(value: str) -> str:
    return re.sub(r"\s+", " ", str(value or "")).strip()


def model_signals(citations, context_index, claims):
    """Transcription of evaluate_groundedness_signals'
    (groundedness_gates.py:243-375) citation loop (reference_sections
    =None) and decisive-claim loop.  citations: [(raw_section_id,
    quote)], context_index: {section_id: [texts]}, claims: [(tokens set,
    mentioned sections set)] — decisive claims of an answerable item.
    Returns (per-citation [(valid, quote_in)], per-claim [supported])."""
    details = []
    for raw_sec, quote in citations:
        raw = str(raw_sec or "").strip()
        q = str(quote or "").strip()
        section_id = _normalize_section_id(raw)
        valid = bool(raw and section_id and raw == section_id and q)
        quote_in = False
        reasons = set()
        if not raw or not section_id or raw != section_id:
            reasons.add("invalid_section_id")
        if not q:
            reasons.add("quote_missing")
        if section_id and q:
            ctxs = context_index.get(section_id, [])
            if ctxs:
                quote_in = any(
                    _normws(q) and _normws(c) and _normws(q) in _normws(c)
                    for c in ctxs
                )
                if not quote_in:
                    reasons.add("quote_not_in_section_context")
            else:
                reasons.add("section_context_missing")
        details.append(
            {
                "section_id": section_id,
                "quote_tokens": _content_tokens(q),
                "valid": valid,
                "quote_in": quote_in,
                "reasons": reasons,
            }
        )

    verdicts = []
    for tokens, mentions in claims:
        linked_supported = []
        linked_unsupported = False
        for c in details:
            if not c["section_id"]:
                continue
            overlap = tokens & c["quote_tokens"]
            explicit = c["section_id"] in mentions
            if explicit or overlap:
                if c["valid"] and c["quote_in"]:
                    linked_supported.append(c)
                else:
                    linked_unsupported = True
        supported = False
        if linked_supported:
            if mentions & {c["section_id"] for c in linked_supported}:
                supported = True
                reason = "supported_by_explicit_section_reference"
            else:
                union = set()
                for c in linked_supported:
                    union |= c["quote_tokens"]
                overlap = tokens & union
                min_overlap = 1 if len(tokens) <= 2 else 2
                coverage = (len(overlap) / len(tokens)) if tokens else 0.0
                supported = bool(tokens) and (
                    len(overlap) >= min_overlap or coverage >= 0.5
                )
                reason = (
                    "supported_by_section_quote"
                    if supported
                    else "claim_not_supported_by_quote"
                )
        elif linked_unsupported:
            reason = "claim_linked_citation_not_supported"
        else:
            reason = "claim_without_linked_citation"
        verdicts.append((supported, reason))
    return details, verdicts


SECTIONS = ["EAR-744.11", "EAR-746.3", "EAR-712.9", "EAR-736.2", "EAR-999.99"]
CTX_WORDS = [
    "export", "licensing", "review", "compliance", "checks", "encryption",
    "software", "shipment", "records", "audits", "controls", "filings",
]


def _fixture(rng: random.Random, n_items: int):
    """Random items: context index over 4 of the 5 sections, 0-4
    citations each (valid/invalid raw forms, quotes real-substring or
    fabricated), 1-4 claims each (tokens drawn from ctx words ∪ noise,
    sometimes an explicit section mention)."""
    context_rows, context_index = [], {}
    for s in SECTIONS[:4]:
        texts = []
        for _ in range(rng.randint(1, 2)):
            words = rng.sample(CTX_WORDS, rng.randint(5, 9))
            texts.append(" ".join(words) + f" under {s} with annual audits")
        context_index[s] = texts
        for t in texts:
            context_rows.append((s, t))

    items, cit_rows, claim_rows = [], [], []
    model_in = {}
    for i in range(n_items):
        cits = []
        for j in range(rng.randint(0, 4)):
            sec = rng.choice(SECTIONS)
            raw = rng.choice([sec, f"§ {sec[4:]}", sec.lower(), f"  {sec} ", "part x"])
            if rng.random() < 0.2:
                quote = ""
            elif rng.random() < 0.6 and context_index.get(sec):
                src = rng.choice(context_index[sec])
                w = src.split()
                a = rng.randrange(len(w) - 1)
                b = min(len(w), a + rng.randint(1, 4))
                quote = " ".join(w[a:b])
            else:
                quote = " ".join(rng.sample(CTX_WORDS + ["wizardry", "galactic"], 3))
            cits.append((raw, quote))
            cit_rows.append((i, j, raw, quote))
        claims = []
        for k in range(rng.randint(1, 4)):
            words = rng.sample(CTX_WORDS + ["paperwork", "wizardry", "dominates"],
                               rng.randint(1, 5))
            mention = rng.choice([None, rng.choice(SECTIONS)])
            text = " ".join(words) + (f" under {mention}" if mention else "")
            tokens = _content_tokens(text)
            mentions = {mention} if mention else set()
            claims.append((tokens, mentions))
            claim_rows.append(
                (i, k, sorted(tokens), sorted(mentions))
            )
        model_in[i] = (cits, claims)
        items.append(i)
    return context_rows, cit_rows, claim_rows, model_in, context_index


def test_gate_matches_reference_model_fuzz(spark):
    rng = random.Random(4242)
    context_rows, cit_rows, claim_rows, model_in, context_index = _fixture(
        rng, n_items=60
    )
    ctx_df = spark.createDataFrame(context_rows, "section_id string, ctx_text string")
    cit_df = spark.createDataFrame(
        cit_rows, "item_id long, cit_idx int, raw_section_id string, quote string"
    )
    claims_df = spark.createDataFrame(
        claim_rows,
        "item_id long, claim_idx int, tokens array<string>, sections array<string>",
    )
    sc = score_citations(cit_df, ctx_df)
    _R = {
        "r_invalid_section_id": "invalid_section_id",
        "r_quote_missing": "quote_missing",
        "r_quote_not_in_section_context": "quote_not_in_section_context",
        "r_section_context_missing": "section_context_missing",
    }
    got_cit = {
        (r["item_id"], r["cit_idx"]): (
            r["valid"],
            r["quote_in_section"],
            {name for flag, name in _R.items() if r[flag]},
        )
        for r in sc.collect()
    }
    got_claims = {
        (r["item_id"], r["claim_idx"]): (r["supported"], r["reason"])
        for r in score_claims(claims_df, sc).collect()
    }
    for i, (cits, claims) in model_in.items():
        details, verdicts = model_signals(cits, context_index, claims)
        for j, d in enumerate(details):
            assert got_cit[(i, j)] == (
                d["valid"], d["quote_in"], d["reasons"]
            ), (i, j, cits[j], got_cit[(i, j)], d)
        for k, want in enumerate(verdicts):
            assert got_claims[(i, k)] == want, (i, k, claims[k], want)


def test_thresholds_loader_defaults(tmp_path):
    th = load_phase2_gate_thresholds()
    assert th["unanswerable_accuracy_min"] == 0.9
    assert th["supported_rate_eq"] == 1.0
    assert th["overclaim_rate_eq"] == 0.0
    assert th["known_bad_citations_count_eq"] == 0
    p = tmp_path / "g.json"
    p.write_text('{"golden_phase2": {"unanswerable_accuracy_min": 0.5}}')
    th2 = load_phase2_gate_thresholds(str(p))
    assert th2["unanswerable_accuracy_min"] == 0.5
    assert th2["valid_citation_rate_eq"] == 1.0  # default fills in
