"""Eval dataset schema validation: every rule fires on its seeded
defect, clean items produce zero violation rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from earcrawler_spark.queries_schema import q_eval_schema_violations

SF = "/root/testdata/sf0.001"

ALL_RULES = {
    "id_required", "question_required", "ground_truth_answer_required",
    "ear_section_pattern", "doc_id_pattern", "span_id_pattern",
    "doc_id_unregistered", "span_id_unregistered", "kg_node_legacy",
    "kg_node_namespace", "kg_node_unregistered", "kg_path_unregistered",
    "effective_date_pattern", "regression_outcome_enum",
    "kg_entity_legacy", "kg_entity_namespace",
}


def test_every_rule_fires_and_clean_items_are_clean(spark):
    out = q_eval_schema_violations(spark, SF).cache()
    rules = {r["rule"] for r in out.select("rule").distinct().collect()}
    assert rules == ALL_RULES, ALL_RULES - rules
    # a line with none of the seeded defect conditions must be absent:
    # doc 1 (odd, not divisible by any seed modulus; kg_path path-1 is
    # registered)
    clean = out.filter(F.col("line") == 1).count()
    assert clean == 0
    # seeded defects land on the expected lines
    by_line = {
        (r["line"], r["rule"]) for r in out.collect()
    }
    assert (0, "id_required") in by_line          # 0 % 23 == 0
    assert (8, "ear_section_pattern") in by_line  # EAR-9999.1 seeded
    assert (12, "doc_id_pattern") in by_line      # D12 seeded
    assert (15, "span_id_pattern") in by_line     # 'weird span'
    assert (9, "kg_node_legacy") in by_line       # legacy IRI
    assert (3, "kg_path_unregistered") in by_line # path-3 at line 3
    assert (18, "kg_entity_legacy") in by_line    # legacy entity IRI
    assert (22, "kg_entity_namespace") in by_line # non-canonical entity
    assert (19, "effective_date_pattern") in by_line
    assert (21, "regression_outcome_enum") in by_line
    out.unpersist()


def test_index_binding_verdicts(spark):
    from earcrawler_spark.queries_schema import q_index_binding

    rows = {r["index_id"]: r for r in q_index_binding(spark, SF).collect()}
    assert rows["idx-good"]["binding_ok"] and rows["idx-good"]["refusal"] is None
    assert rows["idx-wrong-model"]["refusal"] == "embedding_model mismatch"
    assert rows["idx-stale"]["refusal"] == "corpus_digest mismatch"
    assert rows["idx-partial"]["refusal"] == "doc_count mismatch"
    # model mismatch wins over any later check, mirroring the reference's
    # check order
    assert not rows["idx-wrong-model"]["binding_ok"]
    # a missing sidecar (NULL digest + NULL count) must REFUSE, not pass
    # through as NULL (ADVICE r4: eqNullSafe comparisons)
    assert rows["idx-no-meta"]["refusal"] == "corpus_digest mismatch"
    assert rows["idx-no-meta"]["binding_ok"] is False
    assert rows["idx-no-meta"]["digest_match"] is False
    assert rows["idx-no-meta"]["count_match"] is False


def test_exact_corpus_digest_matches_hashlib_model(spark):
    """exact_corpus_digest vs the reference compute_corpus_digest
    transcription: sha256 over doc_id\\n text\\n in str(doc_id or '')
    order — FALSY ids (0, None) coerce to '' in both the sort key and
    the hashed bytes (build_corpus.py:64-68, ADVICE r4)."""
    import hashlib

    from earcrawler_spark.operators.index_binding import exact_corpus_digest

    rows = [
        (7, "alpha text"), (101, "beta"), (2, ""), (33, "gamma  spaced"),
        (110, "delta\nnewline"), (0, "zero"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = exact_corpus_digest(df).collect()[0]

    h = hashlib.sha256()
    for did, text in sorted(rows, key=lambda r: str(r[0] or "")):
        h.update(str(did or "").encode()); h.update(b"\n")
        h.update(text.encode()); h.update(b"\n")
    assert got["digest"] == h.hexdigest()
    assert got["doc_count"] == len(rows)

    # string-typed ids: "0" is truthy in Python, only ''/None coerce
    srows = [("0", "zero str"), ("", "empty"), ("9", "nine")]
    sdf = spark.createDataFrame(srows, "doc_id string, text string")
    sgot = exact_corpus_digest(sdf).collect()[0]
    hs = hashlib.sha256()
    for did, text in sorted(srows, key=lambda r: str(r[0] or "")):
        hs.update(str(did or "").encode()); hs.update(b"\n")
        hs.update(text.encode()); hs.update(b"\n")
    assert sgot["digest"] == hs.hexdigest()


def test_llm_output_zero_citations_requires_context(spark):
    """The answerable-needs-citations rule only fires when the item HAS
    retrieved context (reference output_schema.py:421 gates on
    has_structured_context or full_context) — an item with no context
    entries may answer without citations (ADVICE r4)."""
    from earcrawler_spark.operators.output_schema import validate_llm_outputs

    payload = (
        '{"label": "permitted", "answer_text": "fine", "citations": [], '
        '"evidence_okay": {"ok": true, "reasons": []}, "assumptions": []}'
    )
    payloads = spark.createDataFrame(
        [(1, payload), (2, payload)], "item_id long, raw string"
    )
    entries = spark.createDataFrame(
        [(1, "[EAR-736.2] context text")], "item_id long, entry string"
    )
    codes = {r["item_id"]: r["code"]
             for r in validate_llm_outputs(payloads, entries).collect()}
    assert codes[1] == "ungrounded_citation"  # has context, no citations
    assert codes[2] == "ok"                   # no context entries at all


def test_validate_items_fuzz_vs_model(spark):
    """validate_items vs a direct transcription of the schema regexes +
    registration/namespace rules over randomized items."""
    import random
    import re

    from earcrawler_spark.functions.iri import ENTITY_NS, RESOURCE_NS
    from earcrawler_spark.queries_schema import (
        DATE_PATTERN,
        DOC_ID_PATTERN,
        LEGACY_NS_LIST,
        SECTION_ID_PATTERN,
        SPAN_ID_PATTERN,
        validate_items,
    )

    rng = random.Random(777)
    sec_pool = ["EAR-736.2", "EAR-744.11(b)", "EAR-9999.1", "EAR-736",
                "736.2", "part x", ""]
    doc_pool = ["EAR-736", "EAR-736.2#p0001", "D42", "EAR-744.11(b)", ""]
    span_pool = ["736.2", "EAR-736.2(b)", "weird span", "736", ""]
    node_pool = [RESOURCE_NS + "ear/entity/e1", "https://example.org/ear#x",
                 "https://other.example/x", "plain-node", ""]
    ent_pool = [ENTITY_NS + "ent1", "https://example.org/entity#old",
                "https://other.example/y", "plain-ent"]
    path_pool = ["path-0", "path-9", ""]
    dates = ["2020-06-15", "Feb 2020", None]
    outcomes = ["pass", "fail", "maybe", None]

    reg_spans = {("EAR-736", "736.2"), ("EAR-736.2#p0001", "736.2"),
                 ("EAR-744.11(b)", "736")}
    reg_docs = {d for d, _ in reg_spans}
    reg_nodes = {RESOURCE_NS + "ear/entity/e1"}
    reg_paths = {"path-0"}

    items = []
    for i in range(120):
        items.append((
            f"ds{i % 2}", i,
            rng.choice(["", f"item-{i}"]),
            rng.choice(["", "a question?"]),
            rng.choice([None, "answer"]),
            rng.sample(sec_pool, rng.randint(0, 3)),
            [{"doc_id": rng.choice(doc_pool), "span_id": rng.choice(span_pool)}
             for _ in range(rng.randint(0, 2))],
            rng.sample(node_pool, rng.randint(0, 2)),
            rng.sample(path_pool, rng.randint(0, 2)),
            rng.sample(ent_pool, rng.randint(0, 2)),
            rng.choice(dates),
            rng.choice(outcomes),
        ))
    schema = ("dataset_id string, line long, id string, question string, "
              "answer_text string, ear_sections array<string>, "
              "doc_spans array<struct<doc_id:string,span_id:string>>, "
              "kg_nodes array<string>, kg_paths array<string>, "
              "kg_entities array<string>, effective_date string, "
              "expected_outcome string")
    items_df = spark.createDataFrame(items, schema)
    ms = spark.createDataFrame(sorted(reg_spans), "mdoc_id string, mspan_id string")
    mn = spark.createDataFrame([(v,) for v in sorted(reg_nodes)], "v string")
    mp = spark.createDataFrame([(v,) for v in sorted(reg_paths)], "v string")
    got = sorted(
        (r["line"], r["rule"], r["value"])
        for r in validate_items(items_df, ms, mn, mp).collect()
    )

    def m(pat, v):
        return re.search(pat, v) is not None

    want = []
    for (ds, line, iid, q, ans, secs, spans, nodes, paths, ents, dt, oc) in items:
        if not iid: want.append((line, "id_required", iid or ""))
        if not q: want.append((line, "question_required", q or ""))
        if ans is None: want.append((line, "ground_truth_answer_required", ""))
        for sv in secs:
            if not m(SECTION_ID_PATTERN, sv):
                want.append((line, "ear_section_pattern", sv))
        for sp in spans:
            d, s2 = sp["doc_id"], sp["span_id"]
            if not m(DOC_ID_PATTERN, d):
                want.append((line, "doc_id_pattern", d))
            if not m(SPAN_ID_PATTERN, s2):
                want.append((line, "span_id_pattern", s2))
            if d and s2:
                if d not in reg_docs:
                    want.append((line, "doc_id_unregistered", d))
                elif (d, s2) not in reg_spans:
                    want.append((line, "span_id_unregistered", s2))
        for nd in nodes:
            if not nd: continue
            http = nd.startswith(("http://", "https://"))
            legacy = any(nd.startswith(ns) for ns in LEGACY_NS_LIST)
            if http and legacy:
                want.append((line, "kg_node_legacy", nd))
            if http and not legacy and not nd.startswith(RESOURCE_NS):
                want.append((line, "kg_node_namespace", nd))
            if nd not in reg_nodes:
                want.append((line, "kg_node_unregistered", nd))
        for e in ents:
            if not e: continue
            http = e.startswith(("http://", "https://"))
            legacy = any(e.startswith(ns) for ns in LEGACY_NS_LIST)
            if http and legacy:
                want.append((line, "kg_entity_legacy", e))
            if http and not legacy and not e.startswith(ENTITY_NS):
                want.append((line, "kg_entity_namespace", e))
        for pth in paths:
            if pth and pth not in reg_paths:
                want.append((line, "kg_path_unregistered", pth))
        if dt is not None and not m(DATE_PATTERN, dt):
            want.append((line, "effective_date_pattern", dt))
        if oc is not None and oc not in ("pass", "fail"):
            want.append((line, "regression_outcome_enum", oc))
    assert got == sorted(want)


def test_telemetry_scrub_matches_reference_model(spark):
    """telemetry_scrub vs a transcription of telemetry/redaction.py
    _scrub_string, including its quirks (token rule swallows GUIDs and
    the path rule hits URL paths before the query-strip rule)."""
    import re

    from pyspark.sql import functions as F

    from earcrawler_spark.queries_schema import telemetry_scrub

    EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    TOKEN_RE = re.compile(r"(?:bearer\s+)?[A-Za-z0-9\-_=]{20,}", re.IGNORECASE)
    PATH_RE = re.compile(r"(?:[A-Za-z]:\\\\[^\s]+|/[^\s]+)")
    URL_QUERY_RE = re.compile(r"https?://[^\s?]+\?[^\s]+")
    GUID_RE = re.compile(
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    )

    def model(v):
        v = EMAIL_RE.sub("[redacted]", v)
        v = TOKEN_RE.sub("[redacted]", v)
        v = PATH_RE.sub("[path]", v)
        v = URL_QUERY_RE.sub(lambda m: m.group(0).split("?")[0], v)
        v = GUID_RE.sub("[guid]", v)
        return v

    cases = [
        "alice@example.com wrote",
        "bearer abcdefghijklmnopqrstuvwx done",
        "token AAAAAAAAAAAAAAAAAAAA-____==== end",
        "guid 0123abcd-0000-1111-2222-000055554444 here",  # token rule wins
        "path /var/log/app.log seen",
        "win C:\\\\Users\\\\x seen",
        "url https://h.example/a?b=c tail",   # path rule hits first
        "plain text only",
        "mix j.d@x.io /opt/a https://h.x/p?q=1 0123abcd-0000-1111-2222-000055554444",
        "short-token abc-def",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, v string")
    got = {r["i"]: r["o"] for r in df.select("i", telemetry_scrub(F.col("v")).alias("o")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == model(c), (c, got[i], model(c))


def test_normalize_egress_text_fuzz_vs_model(spark):
    """normalize_egress_text vs the reference normalize_text over
    randomized CR/LF/space/tab compositions."""
    import random

    from pyspark.sql import functions as F

    from earcrawler_spark.queries_schema import normalize_egress_text

    def model(value):
        normalized = (value or "").replace("\r\n", "\n").replace("\r", "\n")
        return "\n".join(
            line.rstrip(" \t") for line in normalized.split("\n")
        ).rstrip("\n")

    rng = random.Random(99)
    frags = ["word", "two words", "", " ", "\t", "  tail  ", "x\t\t"]
    seps = ["\r\n", "\n", "\r", ""]
    cases = []
    for _ in range(200):
        parts = []
        for _ in range(rng.randint(1, 6)):
            parts.append(rng.choice(frags))
            parts.append(rng.choice(seps))
        cases.append("".join(parts))
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, v string"
    )
    got = {
        r["i"]: r["o"]
        for r in df.select(
            "i", normalize_egress_text(F.col("v")).alias("o")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == model(c), (repr(c), repr(got[i]), repr(model(c)))


def test_shared_frame_registry_eviction(monkeypatch):
    """A miss evicts (and unpersists) this name's same-session other-sf
    entries; dead sessions' handles are dropped; another name under the
    current sf_dir survives; a hit returns the pinned value unbuilt."""
    from types import SimpleNamespace

    from earcrawler_spark import session

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    a, b, c, d, e = FakeDF(), FakeDF(), FakeDF(), FakeDF(), FakeDF()
    store = {
        ("app1", "/sf0.001", "ctx"): a,
        ("app1", "/sf0.01", "ctx"): b,
        ("app2", "/sf0.001", "ctx"): c,
        ("app1", "/sf0.1", "gate"): d,
    }
    monkeypatch.setattr(session, "_SHARED", store)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app1"))
    assert session.shared_frame(spark, "/sf0.1", "ctx", lambda: e) is e
    # two names under one sf_dir coexist (eval_report reads several gates)
    assert set(store) == {("app1", "/sf0.1", "ctx"), ("app1", "/sf0.1", "gate")}
    assert a.unpersisted and b.unpersisted
    assert not c.unpersisted  # dead-session handle dropped, not touched
    assert not d.unpersisted  # the other name's current entry is preserved
    assert session.shared_frame(spark, "/sf0.1", "ctx", FakeDF) is e
    assert not e.unpersisted
