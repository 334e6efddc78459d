"""Claim extraction vs a direct model of eval/groundedness_gates.py
(_extract_claims / _content_tokens / _extract_section_mentions),
including the reference's LOOKAHEAD split regex — proving the engine's
lookahead-free pattern is equivalent on normalized text."""

from __future__ import annotations

import re

from earcrawler_spark.queries_eval import STOPWORDS, extract_claims

_SECTION_INLINE_RE = re.compile(
    r"\bEAR-\d[\w().-]*|\b\d{3}\.\d+(?:\([^)]+\))*", flags=re.IGNORECASE
)
_CLAIM_SPLIT_RE = re.compile(
    r"\s*(?:[;!?]+|\.(?=\s|$)|\bbut\b|\bhowever\b|\byet\b|,\s*not\b)\s*",
    flags=re.IGNORECASE,
)
_LEADING_VERDICT_RE = re.compile(r"^(?:yes|no|true|false)\b[:,]?\s*", flags=re.IGNORECASE)
_HEDGE_RE = re.compile(
    r"\b("
    r"may|might|could|can depend|depends|dependent|unclear|uncertain|"
    r"insufficient (?:info|information|evidence)|not enough (?:info|information|evidence)|"
    r"cannot determine|unable to determine|cannot answer|unanswerable|need more|need additional|"
    r"if provided|if more information"
    r")\b",
    flags=re.IGNORECASE,
)
_WORD_RE = re.compile(r"[a-z0-9]+")


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


def model_claims(answer: str):
    normalized = re.sub(r"\s+", " ", str(answer or "")).strip()
    normalized = normalized.replace("U.S.", "US").replace("U.S", "US")
    out = []
    for raw in _CLAIM_SPLIT_RE.split(normalized):
        claim = _LEADING_VERDICT_RE.sub("", str(raw or "")).strip(" ,:")
        if not claim:
            continue
        scrubbed = _SECTION_INLINE_RE.sub(" ", claim.lower())
        toks = {
            _norm_token(t)
            for t in _WORD_RE.findall(scrubbed)
            if t not in STOPWORDS and len(t) > 1
        }
        toks = {t for t in toks if t}
        mentions = set()
        for m in _SECTION_INLINE_RE.findall(claim):
            cand = m if m.upper().startswith("EAR-") else f"EAR-{m}"
            mentions.add(cand.split("#", 1)[0].strip())
        out.append(
            {
                "claim": claim,
                "decisive": not bool(_HEDGE_RE.search(claim)),
                "tokens": sorted(toks),
                "sections": sorted(mentions),
            }
        )
    return out


CASES = [
    "Yes: the export is prohibited under EAR-744.11(b). However, "
    "exceptions may apply; see 740.13!",
    "No, licenses are required before exporting, but section 742.4 "
    "states otherwise.",
    "U.S. entities in EAR-736.2 cannot determine applicability, not "
    "even partially.",
    "True: shipping containers moved; cases closed.",
    "",
    "   ",
    "The answer depends on context? It is permitted.",
    "Version 3.5 applies. End.",   # decimal must not split
    "false, a yet unknown rule.",  # verdict strip + 'yet' split
    "One claim with no split markers",
    "Trailing period.",
    "a;b;;c!!d",
]


def test_extract_claims_matches_reference_model(spark):
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)], "item_id int, answer string"
    )
    rows = extract_claims(df).collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["item_id"], r["claim_idx"])):
        got.setdefault(r["item_id"], []).append(
            {
                "claim": r["claim"],
                "decisive": r["decisive"],
                "tokens": list(r["tokens"]),
                "sections": list(r["sections"]),
            }
        )
    for i, case in enumerate(CASES):
        want = model_claims(case)
        assert got.get(i, []) == want, (case, got.get(i, []), want)


def test_fuzz_extract_claims(spark):
    import random

    rng = random.Random(2468)
    frags = [
        "yes:", "no,", "the export is prohibited", "may apply",
        "EAR-744.11(b)", "740.13", "section 742.4 states", "but",
        "however", "yet", ", not", ".", ";", "!", "?", "U.S. entities",
        "licenses are required", "shipping cases", "3.5 applies",
        "cannot determine", "  ",
    ]
    cases = [
        " ".join(rng.choice(frags) for _ in range(rng.randint(0, 10)))
        for _ in range(250)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "item_id int, answer string"
    )
    rows = extract_claims(df).collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["item_id"], r["claim_idx"])):
        got.setdefault(r["item_id"], []).append(
            {
                "claim": r["claim"],
                "decisive": r["decisive"],
                "tokens": list(r["tokens"]),
                "sections": list(r["sections"]),
            }
        )
    for i, case in enumerate(cases):
        want = model_claims(case)
        assert got.get(i, []) == want, (case, got.get(i, []), want)


# --- hypothesis property fuzz (VERDICT r5 task 8) ---------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# atoms chosen to stress every operator boundary: split markers glued to
# words, decimals and section ids that must NOT split, verdicts and
# hedges in odd case, the U.S. normalization, stemming-ladder suffixes,
# unicode whitespace the \s+ collapse must flatten
_ATOMS = [
    "U.S.", "U.S", "US.", "EAR-744.11(b)", "EAR-744.11(b)#frag", "740.13",
    "3.5", "version 3.5 applies", ".", "..", ";", "!", "?", "!?;",
    "but", "However", "YET", ", not", ",not", "not",
    "Yes:", "no,", "FALSE", "true ", "yesterday", "noon",
    "may", "might", "Cannot determine", "insufficient evidence",
    "depends", "dependent", "butterfly", "yetis",
    "shipping", "cases", "bodies", "exported", "classes", "glass",
    "is", "the", "under", "a1", "x", ",:", " , : ", " ", "\t", "\n\n",
]
_WORD = st.from_regex(r"[A-Za-z0-9]{1,9}", fullmatch=True)
_ANSWER = st.lists(
    st.one_of(st.sampled_from(_ATOMS), _WORD), min_size=0, max_size=14
).map(" ".join)


@settings(max_examples=400, deadline=None)
@given(_ANSWER)
def test_lookahead_free_split_equivalent_on_normalized_text(answer):
    """The engine ships `\\.\\s|\\.$` because DuckDB's RE2 has no
    lookahead; the reference uses `\\.(?=\\s|$)`.  On whitespace-
    normalized input the two split + clean pipelines must agree for ANY
    answer shape (python-side twin of the Spark expression chain)."""
    normalized = re.sub(r"\s+", " ", answer).strip()
    normalized = normalized.replace("U.S.", "US").replace("U.S", "US")
    free = re.compile(
        r"\s*(?:[;!?]+|\.\s|\.$|\bbut\b|\bhowever\b|\byet\b|,\s*not\b)\s*",
        flags=re.IGNORECASE,
    )

    def clean(parts):
        out = []
        for raw in parts:
            claim = _LEADING_VERDICT_RE.sub("", str(raw or "")).strip(" ,:")
            if claim:
                out.append(claim)
        return out

    assert clean(free.split(normalized)) == clean(
        _CLAIM_SPLIT_RE.split(normalized)
    )


@settings(max_examples=8, deadline=None)
@given(st.lists(_ANSWER, min_size=30, max_size=60), st.integers(0, 2**31))
def test_hypothesis_fuzz_extract_claims_matches_model(spark, answers, seed):
    """Full-pipeline property fuzz: extract_claims (Spark Column chain)
    row-for-row against the reference model for hypothesis-generated
    answer shapes — splits, verdict strips, hedges, stemming, section
    mentions, tokens.  One Spark batch per example keeps it tractable."""
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(answers)], "item_id int, answer string"
    )
    rows = extract_claims(df).collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["item_id"], r["claim_idx"])):
        got.setdefault(r["item_id"], []).append(
            {
                "claim": r["claim"],
                "decisive": r["decisive"],
                "tokens": list(r["tokens"]),
                "sections": list(r["sections"]),
            }
        )
    for i, case in enumerate(answers):
        want = model_claims(case)
        assert got.get(i, []) == want, (case, got.get(i, []), want)
