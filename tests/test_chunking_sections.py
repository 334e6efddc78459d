"""operators/chunking.py vs the sequential model on fixtures covering every
rule branch: plain sections, letter subsections, roman-label skip,
duplicate-letter suppression, digit nesting, digit-dup guard, letter
lead-in, blank-line / newline / whitespace split ladders, greedy kept
prefix, oversize errors."""

from __future__ import annotations

import pytest

from earcrawler_spark.operators.chunking import chunk_sections
from tests.chunking_model import chunk_model

FIXTURES = {
    # no markers, small -> single section chunk
    "s1": "Just a short plain section body.",
    # letter subsections with lead-in
    "s2": "Lead-in text before markers.\n(a) First subsection body here.\n(b) Second subsection body here.",
    # roman labels must not split
    "s3": "(a) alpha body\n(i) roman note stays inside alpha\n(b) beta body",
    # duplicate letters suppress subsection splitting
    "s4": "(a) first alpha\n(b) beta\n(a) duplicate alpha",
    # digit nesting with letter lead-in
    "s5": "(a) alpha lead\n(1) first numbered item\n(2) second numbered item\n(b) plain beta",
    # duplicate digits keep the letter block whole
    "s6": "(a) lead\n(1) one\n(1) one again",
    # oversize section, blank-line paragraphs
    "s7": "para one is here with words\n\npara two follows with more words\n\npara three closes it out",
    # oversize without blank lines -> newline ladder
    "s8": "line one has several words here\nline two also has several words\nline three has words too",
    # oversize single block -> whitespace packing
    "s9": "w" + " word" * 30,
    # oversize with an un-splittable long word -> hard slices
    "s10": "start " + "x" * 150 + " end",
    # marker at end of text without trailing whitespace: not a marker
    "s11": "body text\n(a)",
    # marker as a bare line followed by newline IS a marker
    "s12": "body text\n(a)\ncontent of alpha",
    # spaced-out marker form
    "s13": "intro\n ( a ) spaced marker body\n(b) beta",
    # digits only at top level are not letter markers
    "s14": "(1) top level number\n(2) another",
    # paragraphs whose edges are digits — regression for the
    # F.transform(..., F.trim) arity trap (index leaked in as trim chars,
    # silently stripping '0'/'1' from paragraph boundaries)
    "s15": "0 zeros bound this paragraph 0\n\n1 ones bound this one here 1\n\n2 twos as well 2",
}


@pytest.mark.parametrize("max_chars", [60, 200])
def test_chunking_matches_model(spark, max_chars):
    df = spark.createDataFrame(
        list(FIXTURES.items()), "section_id string, text string"
    )
    got = {
        (r["chunk_id"],): r.asDict()
        for r in chunk_sections(df, max_chars=max_chars).collect()
    }
    want = {}
    for sec, text in FIXTURES.items():
        for row in chunk_model(sec, text, max_chars):
            want[(row["chunk_id"],)] = row
    assert set(got) == set(want), (
        f"chunk id sets differ: extra={set(got) - set(want)} "
        f"missing={set(want) - set(got)}"
    )
    for key, w in want.items():
        g = got[key]
        for col in ("section_id", "parent_id", "chunk_kind", "ordinal",
                    "chunk_text", "split_error"):
            assert g[col] == w[col], f"{key} {col}: {g[col]!r} != {w[col]!r}"


def _random_section_text(rng) -> str:
    """Grammar-random section text exercising arbitrary combinations of
    the chunking rules: letter/digit/roman markers (with odd spacing),
    blank lines, duplicate labels, long words, digit-edged paragraphs."""
    words = ["alpha", "beta", "gamma", "delta", "x9", "10", "word0",
             "1end", "licence", "export"]
    lines = []
    for _ in range(rng.randint(1, 14)):
        kind = rng.random()
        body = " ".join(rng.choice(words) for _ in range(rng.randint(0, 9)))
        if kind < 0.30:
            letter = rng.choice("abcdivx")  # includes romans + dup chances
            spaced = rng.choice([f"({letter})", f"( {letter} )", f"  ({letter})"])
            lines.append(f"{spaced} {body}".rstrip())
        elif kind < 0.45:
            digit = rng.choice(["1", "2", "3", "12"])
            lines.append(f"({digit}) {body}".rstrip())
        elif kind < 0.55:
            lines.append("")  # blank line -> paragraph boundary
        elif kind < 0.60:
            lines.append("w" * rng.randint(50, 90))  # long unbroken word
        else:
            lines.append(body)
    text = "\n".join(lines).strip()
    return text or "fallback body"


def test_chunking_fuzz_matches_model(spark):
    """200 grammar-random sections, one Spark pass, exact row equality vs
    the sequential rule model (ids, kinds, ordinals, texts, errors)."""
    import random

    rng = random.Random(20260816)
    cases = {f"f{i:03d}": _random_section_text(rng) for i in range(200)}
    df = spark.createDataFrame(list(cases.items()), "section_id string, text string")
    max_chars = 70
    got = {
        (r["chunk_id"],): r.asDict()
        for r in chunk_sections(df, max_chars=max_chars).collect()
    }
    want = {}
    for sec, text in cases.items():
        for row in chunk_model(sec, text, max_chars):
            want[(row["chunk_id"],)] = row
    assert set(got) == set(want), (
        f"extra={sorted(set(got) - set(want))[:5]} "
        f"missing={sorted(set(want) - set(got))[:5]}"
    )
    for key, w in want.items():
        g = got[key]
        for col in ("section_id", "parent_id", "chunk_kind", "ordinal",
                    "chunk_text", "split_error"):
            assert g[col] == w[col], (key, col, g[col], w[col])


def test_emit_order_is_document_order(spark):
    df = spark.createDataFrame(
        [("s5", FIXTURES["s5"])], "section_id string, text string"
    )
    rows = (
        chunk_sections(df, max_chars=500)
        .orderBy("emit_order")
        .select("chunk_id")
        .collect()
    )
    assert [r["chunk_id"] for r in rows] == [
        "s5", "s5(a)", "s5(a)(1)", "s5(a)(2)", "s5(b)"
    ]
