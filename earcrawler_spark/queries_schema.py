"""Eval dataset schema validation — violation rows, shape_violations-style.

Reference: eval/schema.json (draft-07) + eval/validate_datasets.py:
- ID-type regexes: earSectionId (`EAR-ddd.d+...(x)*`), earDocId
  (part-only allowed, optional `#suffix`), earSpanId (optional `EAR-`
  prefix), temporal.effective_date (`YYYY-MM-DD`), regression
  expected_outcome enum {pass, fail} (schema.json:4-22,150-170).
- Required / minLength fields: id, question, ground_truth.answer_text
  (schema.json:96-116,176-186).
- Registration checks (validate_datasets.py:100-181): doc_span doc_id
  must be a manifest references.sections key and span_id in its span
  set; kg_nodes/kg_paths must be registered (when the manifest registers
  any); http(s) kg_node IRIs must not use a legacy namespace and must
  live under RESOURCE_NS.
- Item-level kg_entities (validate_datasets.py:236-262): http(s) IRIs
  must not be legacy and must live under ENTITY_NS (no registration
  check).

One violation row per (item line, rule, value) — the reference's
ValidationIssue stream as a DataFrame.  Scale shape: items explode once
per list field; every registration check is a broadcast (anti-)join
against the dimension-sized manifest; one union, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.fixture_vocab import (
    dataset_id,
    dataset_id_sql,
    section_body,
    section_body_sql,
    section_id,
    section_id_sql,
)
from earcrawler_spark.functions.iri import ENTITY_NS, RESOURCE_NS
from earcrawler_spark.session import table

SCHEMA_QUERIES: dict = {}
SCHEMA_ORACLES: dict = {}

# eval/schema.json definitions (anchored, RE2/Java-compatible)
SECTION_ID_PATTERN = r"^EAR-\d{3}(?:\.\d+[a-z0-9]*)+(?:\([a-z0-9]+\))*$"
DOC_ID_PATTERN = (
    r"^EAR-\d{3}(?:\.\d+[a-z0-9]*)*(?:\([a-z0-9]+\))*"
    r"(?:#[a-z0-9][a-z0-9:._-]{0,200})?$"
)
SPAN_ID_PATTERN = r"^(?:EAR-)?\d{3}(?:\.\d+[a-z0-9]*)+(?:\([a-z0-9]+\))*$"
DATE_PATTERN = r"^\d{4}-\d{2}-\d{2}$"

# kg/namespaces.py LEGACY_NS_LIST
LEGACY_NS_LIST = [
    "https://example.org/ear#",
    "https://example.org/entity#",
    "http://example.org/ear/",
]


def validate_items(
    items: DataFrame,
    manifest_spans: DataFrame,
    manifest_nodes: DataFrame,
    manifest_paths: DataFrame,
) -> DataFrame:
    """items -> violation rows (dataset_id, line, rule, value,
    instance_path), ordered.

    items columns: dataset_id, line, id, question, answer_text,
    ear_sections array, doc_spans array<struct<doc_id,span_id>>,
    kg_nodes array, kg_paths array, effective_date, expected_outcome.
    manifest_spans: (mdoc_id, mspan_id); manifest_nodes/paths: (v).
    """
    def viol(df, rule, value, path):
        return df.select(
            "dataset_id",
            "line",
            F.lit(rule).alias("rule"),
            value.cast("string").alias("value"),
            F.lit(path).alias("instance_path"),
        )

    out = []
    # required / minLength
    out.append(viol(items.filter(F.coalesce(F.col("id"), F.lit("")) == ""),
                    "id_required", F.coalesce("id", F.lit("")), "id"))
    out.append(viol(items.filter(F.coalesce(F.col("question"), F.lit("")) == ""),
                    "question_required", F.coalesce("question", F.lit("")),
                    "question"))
    out.append(viol(items.filter(F.col("answer_text").isNull()),
                    "ground_truth_answer_required", F.lit(""),
                    "ground_truth/answer_text"))

    # earSectionId pattern over ear_sections
    secs = items.select(
        "dataset_id", "line", F.explode("ear_sections").alias("s")
    )
    out.append(viol(secs.filter(~F.col("s").rlike(SECTION_ID_PATTERN)),
                    "ear_section_pattern", F.col("s"), "ear_sections"))

    # doc_spans: patterns + manifest registration
    spans = items.select(
        "dataset_id", "line", F.explode("doc_spans").alias("sp")
    ).select(
        "dataset_id", "line",
        F.col("sp.doc_id").alias("doc_id"),
        F.col("sp.span_id").alias("span_id"),
    )
    out.append(viol(spans.filter(~F.col("doc_id").rlike(DOC_ID_PATTERN)),
                    "doc_id_pattern", F.col("doc_id"), "evidence/doc_spans"))
    out.append(viol(spans.filter(~F.col("span_id").rlike(SPAN_ID_PATTERN)),
                    "span_id_pattern", F.col("span_id"), "evidence/doc_spans"))
    # reference skips registration checks when either id is empty
    nz = spans.filter((F.col("doc_id") != "") & (F.col("span_id") != ""))
    reg_docs = manifest_spans.select(F.col("mdoc_id")).distinct()
    unreg_doc = nz.join(
        F.broadcast(reg_docs), nz["doc_id"] == reg_docs["mdoc_id"], "left_anti"
    )
    out.append(viol(unreg_doc, "doc_id_unregistered", F.col("doc_id"),
                    "evidence/doc_spans"))
    known_doc = nz.join(
        F.broadcast(reg_docs), nz["doc_id"] == reg_docs["mdoc_id"], "left_semi"
    )
    unreg_span = known_doc.join(
        F.broadcast(manifest_spans),
        (known_doc["doc_id"] == manifest_spans["mdoc_id"])
        & (known_doc["span_id"] == manifest_spans["mspan_id"]),
        "left_anti",
    )
    out.append(viol(unreg_span, "span_id_unregistered", F.col("span_id"),
                    "evidence/doc_spans"))

    # kg_nodes: legacy / namespace / registration (checks active because
    # the manifest registers nodes — validate_datasets.py:142 guard)
    nodes = items.select(
        "dataset_id", "line", F.explode("kg_nodes").alias("n")
    ).filter(F.col("n") != "")
    is_http = F.col("n").startswith("http://") | F.col("n").startswith("https://")
    is_legacy = F.lit(False)
    for ns in LEGACY_NS_LIST:
        is_legacy = is_legacy | F.col("n").startswith(ns)
    out.append(viol(nodes.filter(is_http & is_legacy),
                    "kg_node_legacy", F.col("n"), "evidence/kg_nodes"))
    out.append(viol(
        nodes.filter(is_http & ~is_legacy & ~F.col("n").startswith(RESOURCE_NS)),
        "kg_node_namespace", F.col("n"), "evidence/kg_nodes"))
    out.append(viol(
        nodes.join(F.broadcast(manifest_nodes),
                   nodes["n"] == manifest_nodes["v"], "left_anti"),
        "kg_node_unregistered", F.col("n"), "evidence/kg_nodes"))

    # item-level kg_entities: ENTITY_NS namespace policy, no registration
    ents = items.select(
        "dataset_id", "line", F.explode("kg_entities").alias("e")
    ).filter(F.col("e") != "")
    e_http = F.col("e").startswith("http://") | F.col("e").startswith("https://")
    e_legacy = F.lit(False)
    for ns in LEGACY_NS_LIST:
        e_legacy = e_legacy | F.col("e").startswith(ns)
    out.append(viol(ents.filter(e_http & e_legacy),
                    "kg_entity_legacy", F.col("e"), "kg_entities"))
    out.append(viol(
        ents.filter(e_http & ~e_legacy & ~F.col("e").startswith(ENTITY_NS)),
        "kg_entity_namespace", F.col("e"), "kg_entities"))

    # kg_paths registration
    paths = items.select(
        "dataset_id", "line", F.explode("kg_paths").alias("p")
    ).filter(F.col("p") != "")
    out.append(viol(
        paths.join(F.broadcast(manifest_paths),
                   paths["p"] == manifest_paths["v"], "left_anti"),
        "kg_path_unregistered", F.col("p"), "evidence/kg_paths"))

    # temporal + regression
    out.append(viol(
        items.filter(
            F.col("effective_date").isNotNull()
            & ~F.col("effective_date").rlike(DATE_PATTERN)
        ),
        "effective_date_pattern", F.col("effective_date"),
        "temporal/effective_date"))
    out.append(viol(
        items.filter(
            F.col("expected_outcome").isNotNull()
            & ~F.col("expected_outcome").isin("pass", "fail")
        ),
        "regression_outcome_enum", F.col("expected_outcome"), "regression"))

    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("dataset_id", "line", "rule", "value")


def _fixture_items(docs: DataFrame) -> DataFrame:
    """Deterministic eval items with seeded violations of every rule."""
    d = F.col("doc_id")
    return docs.select(
        dataset_id(d).alias("dataset_id"),
        d.alias("line"),
        F.when(d % 23 == 0, F.lit("")).otherwise(
            F.concat(F.lit("item-"), d.cast("string"))
        ).alias("id"),
        F.when(d % 29 == 0, F.lit("")).otherwise(
            F.concat(F.lit("Does "), section_id(d), F.lit(" apply?"))
        ).alias("question"),
        F.when(d % 31 == 0, F.lit(None).cast("string")).otherwise(
            F.lit("It applies.")
        ).alias("answer_text"),
        F.filter(
            F.array(
                section_id(d),
                F.when(d % 8 == 0, F.lit("EAR-9999.1")),
                F.when(d % 10 == 0, F.lit("EAR-736")),
            ),
            lambda x: x.isNotNull(),
        ).alias("ear_sections"),
        F.filter(
            F.array(
                F.struct(section_id(d).alias("doc_id"), section_body(d).alias("span_id")),
                F.when(
                    d % 6 == 0,
                    F.struct(
                        F.lit("EAR-736#p0001").alias("doc_id"),
                        F.lit("736.2(b)").alias("span_id"),
                    ),
                ),
                F.when(
                    d % 12 == 0,
                    F.struct(
                        F.concat(F.lit("D"), d.cast("string")).alias("doc_id"),
                        section_body(d).alias("span_id"),
                    ),
                ),
                F.when(
                    d % 15 == 0,
                    F.struct(section_id(d).alias("doc_id"),
                             F.lit("weird span").alias("span_id")),
                ),
            ),
            lambda x: x.isNotNull(),
        ).alias("doc_spans"),
        F.filter(
            F.array(
                F.concat(F.lit(RESOURCE_NS + "ear/entity/e"),
                         (d % 7).cast("string")),
                F.when(d % 9 == 0, F.lit("https://example.org/ear#legacy")),
                F.when(d % 14 == 0, F.lit("https://other.example/x")),
                F.when(d % 16 == 0,
                       F.lit(RESOURCE_NS + "ear/entity/unknown")),
            ),
            lambda x: x.isNotNull(),
        ).alias("kg_nodes"),
        F.filter(
            F.array(
                F.concat(F.lit(ENTITY_NS + "ent"), (d % 5).cast("string")),
                F.when(d % 18 == 0, F.lit("https://example.org/entity#old")),
                F.when(d % 22 == 0, F.lit("https://other.example/y")),
            ),
            lambda x: x.isNotNull(),
        ).alias("kg_entities"),
        F.array(F.concat(F.lit("path-"), (d % 4).cast("string"))).alias(
            "kg_paths"
        ),
        F.when(d % 19 == 0, F.lit("Feb 2020"))
        .when(d % 2 == 0, F.lit("2020-06-15"))
        .alias("effective_date"),
        F.when(d % 21 == 0, F.lit("maybe"))
        .when(d % 3 == 0, F.lit("pass"))
        .alias("expected_outcome"),
    )


def q_eval_schema_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_datasets over seeded items: clean items produce no rows;
    every seeded defect (pattern, required, enum, registration,
    namespace) yields exactly its ValidationIssue rows."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # the validator unions one check per rule family, each re-referencing
    # the items fixture — checkpoint it once (was 44 parquet scans).  Pays
    # at sf0.1: without it the row takes 1.19x as long (same boot, 3
    # interleaved runs a side, A/A spread 0.08).
    items = _fixture_items(docs).localCheckpoint()
    # manifest references: every section registers its own span body and
    # the next one; entity nodes e0..e6; paths path-0..2 (path-3 is the
    # seeded unregistered value)
    manifest_spans = (
        docs.select(section_id(d).alias("mdoc_id"), section_body(d).alias("mspan_id"))
        .unionByName(
            docs.select(section_id(d).alias("mdoc_id"), section_body(d + 1).alias("mspan_id"))
        )
        .distinct()
    )
    node_ns = RESOURCE_NS + "ear/entity/"
    manifest_nodes = spark.createDataFrame(
        [(f"{node_ns}e{i}",) for i in range(7)], "v string"
    )
    manifest_paths = spark.createDataFrame(
        [(f"path-{i}",) for i in range(3)], "v string"
    )
    return validate_items(items, manifest_spans, manifest_nodes, manifest_paths)


def _schema_sql() -> str:
    sec_d, body_d = section_id_sql("doc_id"), section_body_sql("doc_id")
    body_d1 = section_body_sql("doc_id + 1")
    node_ns = RESOURCE_NS + "ear/entity/"
    legacy = " OR ".join(f"n LIKE '{ns}%'" for ns in LEGACY_NS_LIST)
    e_legacy = " OR ".join(f"e LIKE '{ns}%'" for ns in LEGACY_NS_LIST)
    return f"""
WITH items AS (
  SELECT {dataset_id_sql('doc_id')} AS dataset_id,
         doc_id AS line,
         CASE WHEN doc_id % 23 = 0 THEN '' ELSE 'item-' || CAST(doc_id AS VARCHAR) END AS id,
         CASE WHEN doc_id % 29 = 0 THEN '' ELSE 'Does ' || {sec_d} || ' apply?' END AS question,
         CASE WHEN doc_id % 31 = 0 THEN NULL ELSE 'It applies.' END AS answer_text,
         list_filter([{sec_d},
                      CASE WHEN doc_id % 8 = 0 THEN 'EAR-9999.1' END,
                      CASE WHEN doc_id % 10 = 0 THEN 'EAR-736' END],
                     x -> x IS NOT NULL) AS ear_sections,
         list_filter([{{'doc_id': {sec_d}, 'span_id': {body_d}}},
                      CASE WHEN doc_id % 6 = 0 THEN {{'doc_id': 'EAR-736#p0001', 'span_id': '736.2(b)'}} END,
                      CASE WHEN doc_id % 12 = 0 THEN {{'doc_id': 'D' || CAST(doc_id AS VARCHAR), 'span_id': {body_d}}} END,
                      CASE WHEN doc_id % 15 = 0 THEN {{'doc_id': {sec_d}, 'span_id': 'weird span'}} END],
                     x -> x IS NOT NULL) AS doc_spans,
         list_filter(['{node_ns}e' || CAST(doc_id % 7 AS VARCHAR),
                      CASE WHEN doc_id % 9 = 0 THEN 'https://example.org/ear#legacy' END,
                      CASE WHEN doc_id % 14 = 0 THEN 'https://other.example/x' END,
                      CASE WHEN doc_id % 16 = 0 THEN '{node_ns}unknown' END],
                     x -> x IS NOT NULL) AS kg_nodes,
         list_filter(['{ENTITY_NS}ent' || CAST(doc_id % 5 AS VARCHAR),
                      CASE WHEN doc_id % 18 = 0 THEN 'https://example.org/entity#old' END,
                      CASE WHEN doc_id % 22 = 0 THEN 'https://other.example/y' END],
                     x -> x IS NOT NULL) AS kg_entities,
         ['path-' || CAST(doc_id % 4 AS VARCHAR)] AS kg_paths,
         CASE WHEN doc_id % 19 = 0 THEN 'Feb 2020'
              WHEN doc_id % 2 = 0 THEN '2020-06-15' END AS effective_date,
         CASE WHEN doc_id % 21 = 0 THEN 'maybe'
              WHEN doc_id % 3 = 0 THEN 'pass' END AS expected_outcome
  FROM documents
), manifest_spans AS (
  SELECT DISTINCT mdoc_id, mspan_id FROM (
    SELECT {sec_d} AS mdoc_id, {body_d} AS mspan_id FROM documents
    UNION ALL
    SELECT {sec_d}, {body_d1} FROM documents)
), manifest_nodes AS (
  SELECT '{node_ns}e' || CAST(i AS VARCHAR) AS v FROM unnest(range(0, 7)) t(i)
), manifest_paths AS (
  SELECT 'path-' || CAST(i AS VARCHAR) AS v FROM unnest(range(0, 3)) t(i)
), secs AS (
  SELECT dataset_id, line, unnest(ear_sections) AS s FROM items
), spans AS (
  SELECT dataset_id, line, sp.doc_id AS doc_id, sp.span_id AS span_id
  FROM (SELECT dataset_id, line, unnest(doc_spans) AS sp FROM items)
), nz AS (
  SELECT * FROM spans WHERE doc_id <> '' AND span_id <> ''
), nodes AS (
  SELECT dataset_id, line, unnest(kg_nodes) AS n FROM items
), ents AS (
  SELECT dataset_id, line, unnest(kg_entities) AS e FROM items
), paths AS (
  SELECT dataset_id, line, unnest(kg_paths) AS p FROM items
), viols AS (
  SELECT dataset_id, line, 'id_required' AS rule,
         coalesce(id, '') AS value, 'id' AS instance_path
  FROM items WHERE coalesce(id, '') = ''
  UNION ALL
  SELECT dataset_id, line, 'question_required', coalesce(question, ''), 'question'
  FROM items WHERE coalesce(question, '') = ''
  UNION ALL
  SELECT dataset_id, line, 'ground_truth_answer_required', '', 'ground_truth/answer_text'
  FROM items WHERE answer_text IS NULL
  UNION ALL
  SELECT dataset_id, line, 'ear_section_pattern', s, 'ear_sections'
  FROM secs WHERE NOT regexp_matches(s, '{SECTION_ID_PATTERN}')
  UNION ALL
  SELECT dataset_id, line, 'doc_id_pattern', doc_id, 'evidence/doc_spans'
  FROM spans WHERE NOT regexp_matches(doc_id, '{DOC_ID_PATTERN}')
  UNION ALL
  SELECT dataset_id, line, 'span_id_pattern', span_id, 'evidence/doc_spans'
  FROM spans WHERE NOT regexp_matches(span_id, '{SPAN_ID_PATTERN}')
  UNION ALL
  SELECT z.dataset_id, z.line, 'doc_id_unregistered', z.doc_id, 'evidence/doc_spans'
  FROM nz z WHERE NOT EXISTS (
    SELECT 1 FROM manifest_spans m WHERE m.mdoc_id = z.doc_id)
  UNION ALL
  SELECT z.dataset_id, z.line, 'span_id_unregistered', z.span_id, 'evidence/doc_spans'
  FROM nz z WHERE EXISTS (
    SELECT 1 FROM manifest_spans m WHERE m.mdoc_id = z.doc_id)
    AND NOT EXISTS (
      SELECT 1 FROM manifest_spans m
      WHERE m.mdoc_id = z.doc_id AND m.mspan_id = z.span_id)
  UNION ALL
  SELECT dataset_id, line, 'kg_node_legacy', n, 'evidence/kg_nodes'
  FROM nodes WHERE (n LIKE 'http://%' OR n LIKE 'https://%') AND ({legacy})
  UNION ALL
  SELECT dataset_id, line, 'kg_node_namespace', n, 'evidence/kg_nodes'
  FROM nodes WHERE (n LIKE 'http://%' OR n LIKE 'https://%')
    AND NOT ({legacy}) AND n NOT LIKE '{RESOURCE_NS}%'
  UNION ALL
  SELECT o.dataset_id, o.line, 'kg_node_unregistered', o.n, 'evidence/kg_nodes'
  FROM nodes o WHERE o.n <> '' AND NOT EXISTS (
    SELECT 1 FROM manifest_nodes m WHERE m.v = o.n)
  UNION ALL
  SELECT dataset_id, line, 'kg_entity_legacy', e, 'kg_entities'
  FROM ents WHERE (e LIKE 'http://%' OR e LIKE 'https://%') AND ({e_legacy})
  UNION ALL
  SELECT dataset_id, line, 'kg_entity_namespace', e, 'kg_entities'
  FROM ents WHERE (e LIKE 'http://%' OR e LIKE 'https://%')
    AND NOT ({e_legacy}) AND e NOT LIKE '{ENTITY_NS}%'
  UNION ALL
  SELECT q.dataset_id, q.line, 'kg_path_unregistered', q.p, 'evidence/kg_paths'
  FROM paths q WHERE q.p <> '' AND NOT EXISTS (
    SELECT 1 FROM manifest_paths m WHERE m.v = q.p)
  UNION ALL
  SELECT dataset_id, line, 'effective_date_pattern', effective_date, 'temporal/effective_date'
  FROM items WHERE effective_date IS NOT NULL
    AND NOT regexp_matches(effective_date, '{DATE_PATTERN}')
  UNION ALL
  SELECT dataset_id, line, 'regression_outcome_enum', expected_outcome, 'regression'
  FROM items WHERE expected_outcome IS NOT NULL
    AND expected_outcome NOT IN ('pass', 'fail')
)
SELECT * FROM viols ORDER BY dataset_id, line, rule, value
"""


SCHEMA_QUERIES["eval_schema_violations"] = q_eval_schema_violations
SCHEMA_ORACLES["eval_schema_violations"] = _schema_sql()


# --- index ↔ corpus binding ---------------------------------------------------

INDEX_EMBED_MODEL = "all-MiniLM-L6-v2"


def q_index_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index↔corpus binding verdicts (rag/index_builder.py:42,87 +
    rag/snapshot_index.py:77-120): the live corpus digest (reference's
    exact sequential sha256 over doc_id\\n text\\n in str-id order)
    checks five seeded index manifests — bound, wrong-model, stale
    digest, doc-count drift, and a missing sidecar (NULL digest/count,
    which must refuse, not pass through as NULL) — producing the
    reference's refusal reasons in its model → digest → count check
    order."""
    from earcrawler_spark.operators.index_binding import (
        exact_corpus_digest,
        verify_index_binding,
    )

    docs = table(spark, sf_dir, "documents")
    digest = exact_corpus_digest(docs)
    truth = digest.select("digest", "doc_count")
    manifests = (
        spark.createDataFrame(
            [
                ("idx-good", INDEX_EMBED_MODEL, "corpus", 0),
                ("idx-wrong-model", "bert-base", "corpus", 0),
                ("idx-stale", INDEX_EMBED_MODEL, "stale", 0),
                ("idx-partial", INDEX_EMBED_MODEL, "corpus", -1),
                ("idx-no-meta", INDEX_EMBED_MODEL, "missing", None),
            ],
            "index_id string, embedding_model string, digest_src string, count_delta int",
        )
        .crossJoin(F.broadcast(truth))
        .select(
            "index_id",
            "embedding_model",
            F.when(F.col("digest_src") == "corpus", F.col("digest"))
            .when(F.col("digest_src") == "missing",
                  F.lit(None).cast("string"))
            .otherwise(F.sha2(F.lit("stale"), 256))
            .alias("corpus_digest"),
            (F.col("doc_count") + F.col("count_delta")).alias("doc_count"),
        )
    )
    return verify_index_binding(digest, manifests, INDEX_EMBED_MODEL)


def _index_binding_sql() -> str:
    # Reference falsy-id quirk mirrored (build_corpus.py:64-68):
    # null/0 doc_ids hash and sort as '' — and the testdata documents
    # table DOES contain doc_id 0.  IS NOT DISTINCT FROM makes a missing
    # sidecar digest/count refuse instead of NULLing through.
    idk = "CASE WHEN doc_id IS NULL OR doc_id = 0 THEN '' ELSE CAST(doc_id AS VARCHAR) END"
    return f"""
WITH truth AS (
  SELECT sha256(string_agg({idk} || chr(10) || coalesce(text, '') || chr(10),
                           '' ORDER BY {idk})) AS digest,
         count(*) AS doc_count
  FROM documents
), manifests AS (
  SELECT m.index_id, m.embedding_model,
         CASE WHEN m.digest_src = 'corpus' THEN t.digest
              WHEN m.digest_src = 'missing' THEN NULL
              ELSE sha256('stale') END AS corpus_digest,
         t.doc_count + m.count_delta AS mcount
  FROM (VALUES
    ('idx-good', '{INDEX_EMBED_MODEL}', 'corpus', 0),
    ('idx-wrong-model', 'bert-base', 'corpus', 0),
    ('idx-stale', '{INDEX_EMBED_MODEL}', 'stale', 0),
    ('idx-partial', '{INDEX_EMBED_MODEL}', 'corpus', -1),
    ('idx-no-meta', '{INDEX_EMBED_MODEL}', 'missing', NULL)
  ) AS m(index_id, embedding_model, digest_src, count_delta), truth t
)
SELECT m.index_id,
       t.digest AS expected_digest,
       m.corpus_digest AS meta_digest,
       t.doc_count AS expected_doc_count,
       m.mcount AS meta_doc_count,
       (coalesce(m.embedding_model, '') = '{INDEX_EMBED_MODEL}') AS model_match,
       (m.corpus_digest IS NOT DISTINCT FROM t.digest) AS digest_match,
       (m.mcount IS NOT DISTINCT FROM t.doc_count) AS count_match,
       (coalesce(m.embedding_model, '') = '{INDEX_EMBED_MODEL}'
        AND m.corpus_digest IS NOT DISTINCT FROM t.digest
        AND m.mcount IS NOT DISTINCT FROM t.doc_count) AS binding_ok,
       CASE WHEN coalesce(m.embedding_model, '') <> '{INDEX_EMBED_MODEL}'
              THEN 'embedding_model mismatch'
            WHEN NOT (m.corpus_digest IS NOT DISTINCT FROM t.digest)
              THEN 'corpus_digest mismatch'
            WHEN NOT (m.mcount IS NOT DISTINCT FROM t.doc_count)
              THEN 'doc_count mismatch' END AS refusal
FROM manifests m, truth t
ORDER BY m.index_id
"""


SCHEMA_QUERIES["index_binding"] = q_index_binding
SCHEMA_ORACLES["index_binding"] = _index_binding_sql()


# --- strict LLM-output validation --------------------------------------------

def q_llm_output_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_strict_answer_json (rag/output_schema.py:197-455) over
    seeded answer payloads: every error code fires on its seeded defect
    (invalid_json, top-level wrong_type, extra/missing key, empty
    answer_text, label enum, citations wrong_type, citation missing
    key / non-canonical section / ungrounded quote, evidence_not_ok,
    assumption_unsupported, answerable-without-grounded-citations, and
    the unanswerable answer-quality rule); clean payloads and compliant
    unanswerable refusals verdict 'ok'."""
    from earcrawler_spark.operators.output_schema import validate_llm_outputs

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    sec_d, sec_d1 = section_id(d), section_id(d + 1)
    body_d = section_body(d)

    entries = docs.select(
        d.alias("item_id"),
        F.concat(F.lit("["), sec_d,
                 F.lit("] Exports of encryption software require licensing "
                       "review under "), sec_d).alias("entry"),
    ).unionByName(
        docs.select(
            d.alias("item_id"),
            F.concat(F.lit("["), sec_d1,
                     F.lit("] Additional provisions apply to re-exports")
                     ).alias("entry"),
        )
    )

    def ok_payload(label=None, answer=None, citations=None, evidence=None,
                   assumptions=None, extra=""):
        label = label if label is not None else F.lit("permitted")
        answer = answer if answer is not None else F.lit(
            "Export is permitted per the cited provision.")
        citations = citations if citations is not None else F.concat(
            F.lit('[{"section_id": "'), sec_d,
            F.lit('", "quote": "require licensing review under '), sec_d,
            F.lit('"}]'),
        )
        evidence = evidence if evidence is not None else F.lit(
            '{"ok": true, "reasons": ["grounded"]}')
        assumptions = assumptions if assumptions is not None else F.lit("[]")
        return F.concat(
            F.lit('{"label": "'), label, F.lit('", "answer_text": "'), answer,
            F.lit('", "citations": '), citations,
            F.lit(', "evidence_okay": '), evidence,
            F.lit(', "assumptions": '), assumptions, F.lit(extra), F.lit("}"),
        )

    raw = (
        F.when(d % 23 == 0, F.lit('{"label": "permitted"'))
        .when(d % 19 == 0, F.lit('["not an object"]'))
        .when(d % 17 == 0, ok_payload(extra=', "bogus": "1"'))
        .when(
            d % 13 == 0,
            F.concat(
                F.lit('{"label": "permitted", "answer_text": "x", '
                      '"citations": [], "evidence_okay": '
                      '{"ok": true, "reasons": []}}'),
            ),
        )
        .when(d % 29 == 0, ok_payload(answer=F.lit("")))
        .when(d % 11 == 0, ok_payload(label=F.lit("maybe")))
        .when(d % 31 == 0, ok_payload(citations=F.lit('"none"')))
        .when(
            d % 37 == 0,
            ok_payload(citations=F.concat(
                F.lit('[{"section_id": "'), sec_d, F.lit('"}]'))),
        )
        .when(
            d % 5 == 0,
            ok_payload(citations=F.concat(
                F.lit('[{"section_id": "§ '), body_d,
                F.lit('", "quote": "require licensing review"}]'))),
        )
        .when(
            d % 41 == 0,
            ok_payload(evidence=F.lit('{"ok": false, "reasons": ["weak"]}')),
        )
        .when(
            d % 43 == 0,
            ok_payload(assumptions=F.lit('["galactic wizardry assumption"]')),
        )
        .when(
            d % 47 == 0,
            ok_payload(citations=F.lit("[]")),
        )
        .when(
            d % 7 == 0,
            F.when(
                d % 2 == 0,
                ok_payload(
                    label=F.lit("unanswerable"),
                    answer=F.lit("Cannot determine from the provided "
                                 "context; need more information."),
                    citations=F.lit("[]"),
                ),
            ).otherwise(
                ok_payload(
                    label=F.lit("unanswerable"),
                    answer=F.lit("Determination is final here."),
                    citations=F.lit("[]"),
                )
            ),
        )
        .when(
            d % 3 == 0,
            ok_payload(citations=F.concat(
                F.lit('[{"section_id": "'), sec_d,
                F.lit('", "quote": "quantum tunneling manifold"}]'))),
        )
        .otherwise(ok_payload())
    )
    payloads = docs.select(d.alias("item_id"), raw.alias("raw"))
    return validate_llm_outputs(payloads, entries)


def normalize_ear_section_sql(expr: str) -> str:
    """corpus_contract.normalize_ear_section_id as a DuckDB expression."""
    v1 = f"trim(replace({expr}, chr(160), ' '))"
    v2 = f"trim(regexp_replace({v1}, '^§+', ''))"
    v3 = f"trim(regexp_replace({v2}, '(?i)^15\\s*cfr\\s*', ''))"
    b0 = (f"CASE WHEN upper({v3}) LIKE 'EAR-%' THEN substr({v3}, 5) "
          f"WHEN upper({v3}) LIKE 'EAR %' THEN trim(substr({v3}, 5)) "
          f"ELSE {v3} END")
    b1 = (f"lower(regexp_replace(replace(trim(regexp_replace({b0}, '^§+', '')),"
          f" ' ', ''), '\\.+$', ''))")
    return (f"CASE WHEN ({b1}) <> '' AND regexp_matches({b1}, "
            f"'^(\\d{{3}}(?:\\.\\d+[a-z0-9]*)*)((?:\\([a-z0-9]+\\))*)$') "
            f"THEN 'EAR-' || ({b1}) END")


def _llm_output_sql() -> str:
    from earcrawler_spark.operators.output_schema import (
        ALLOWED_LABELS,
        HINT_PATTERN,
        OPTIONAL_KEYS,
        REFUSAL_PATTERN,
        REQUIRED_KEYS,
    )

    sd = section_id_sql("doc_id")
    sd1 = section_id_sql("doc_id + 1")
    bd = section_body_sql("doc_id")
    allowed_keys = ", ".join(f"'{k}'" for k in REQUIRED_KEYS + OPTIONAL_KEYS)
    required_keys = ", ".join(f"'{k}'" for k in REQUIRED_KEYS)
    labels = ", ".join(f"'{v}'" for v in ALLOWED_LABELS)
    refusal = REFUSAL_PATTERN.replace("'", "''")
    hint = HINT_PATTERN.replace("'", "''")
    norm_csec = normalize_ear_section_sql("csec")
    nws = "trim(regexp_replace({x}, '\\s+', ' ', 'g'))"
    ent_sec = normalize_ear_section_sql(
        "regexp_extract(entry, '^\\[([^\\]]+)\\]', 1)"
    )
    ent_text = ("trim(regexp_extract(entry, "
                "'^\\[[^\\]]+\\]\\s*([\\s\\S]*)$', 1))")
    full_agg = nws.format(
        x="string_agg(entry, chr(10) || chr(10) ORDER BY entry)"
    )
    g_q = nws.format(x="c.q")
    g_qc = nws.format(x="coalesce(c.q, '')")
    g_t = nws.format(x="e.text")
    a_el = nws.format(
        x="coalesce(json_extract_string(f.t, '$.assumptions[' || i || ']'), '')"
    )
    a_el2 = nws.format(
        x="json_extract_string(f.t, '$.assumptions[' || i || ']')"
    )

    def okp(label="'permitted'",
            answer="'Export is permitted per the cited provision.'",
            citations=None,
            evidence='\'{"ok": true, "reasons": ["grounded"]}\'',
            assumptions="'[]'", extra="''"):
        if citations is None:
            citations = ('\'[{"section_id": "\' || ' + sd +
                         ' || \'", "quote": "require licensing review under \''
                         ' || ' + sd + ' || \'"}]\'')
        return ('\'{"label": "\' || ' + label +
                ' || \'", "answer_text": "\' || ' + answer +
                ' || \'", "citations": \' || ' + citations +
                ' || \', "evidence_okay": \' || ' + evidence +
                ' || \', "assumptions": \' || ' + assumptions +
                ' || ' + extra + ' || \'}\'')

    c_extra = okp(extra='\', "bogus": "1"\'')
    c_missing = ('\'{"label": "permitted", "answer_text": "x", '
                 '"citations": [], "evidence_okay": '
                 '{"ok": true, "reasons": []}}\'')
    c_empty_answer = okp(answer="''")
    c_enum = okp(label="'maybe'")
    c_cit_str = okp(citations='\'"none"\'')
    c_noquote = okp(citations='\'[{"section_id": "\' || ' + sd + ' || \'"}]\'')
    c_badsec = okp(citations='\'[{"section_id": "§ \' || ' + bd +
                   ' || \'", "quote": "require licensing review"}]\'')
    c_evid = okp(evidence='\'{"ok": false, "reasons": ["weak"]}\'')
    c_assume = okp(assumptions='\'["galactic wizardry assumption"]\'')
    c_nocits = okp(citations="'[]'")
    c_unans_ok = okp(
        label="'unanswerable'",
        answer="'Cannot determine from the provided context; "
               "need more information.'",
        citations="'[]'",
    )
    c_unans_bad = okp(label="'unanswerable'",
                      answer="'Determination is final here.'",
                      citations="'[]'")
    c_unground = okp(citations='\'[{"section_id": "\' || ' + sd +
                     ' || \'", "quote": "quantum tunneling manifold"}]\'')
    c_ok = okp()

    return f"""
WITH payloads AS (
  SELECT doc_id AS item_id,
    CASE
      WHEN doc_id % 23 = 0 THEN '{{"label": "permitted"'
      WHEN doc_id % 19 = 0 THEN '["not an object"]'
      WHEN doc_id % 17 = 0 THEN {c_extra}
      WHEN doc_id % 13 = 0 THEN {c_missing}
      WHEN doc_id % 29 = 0 THEN {c_empty_answer}
      WHEN doc_id % 11 = 0 THEN {c_enum}
      WHEN doc_id % 31 = 0 THEN {c_cit_str}
      WHEN doc_id % 37 = 0 THEN {c_noquote}
      WHEN doc_id % 5 = 0 THEN {c_badsec}
      WHEN doc_id % 41 = 0 THEN {c_evid}
      WHEN doc_id % 43 = 0 THEN {c_assume}
      WHEN doc_id % 47 = 0 THEN {c_nocits}
      WHEN doc_id % 7 = 0 THEN CASE WHEN doc_id % 2 = 0
        THEN {c_unans_ok}
        ELSE {c_unans_bad} END
      WHEN doc_id % 3 = 0 THEN {c_unground}
      ELSE {c_ok}
    END AS raw
  FROM documents
), entries AS (
  SELECT doc_id AS item_id,
         '[' || {sd} || '] Exports of encryption software require licensing review under ' || {sd} AS entry
  FROM documents
  UNION ALL
  SELECT doc_id,
         '[' || {sd1} || '] Additional provisions apply to re-exports'
  FROM documents
), ent AS (
  SELECT item_id,
         {ent_sec} AS sec,
         {ent_text} AS text,
         entry
  FROM entries
), full_ctx AS (
  SELECT item_id,
         {full_agg} AS full_c
  FROM ent GROUP BY item_id
), p AS (
  SELECT item_id, trim(raw) AS t FROM payloads
), flags AS (
  SELECT item_id, t,
    (t = '' OR NOT json_valid(t)) AS invalid_json,
    (t NOT LIKE '{{%') AS not_object,
    CASE WHEN json_valid(t) AND t LIKE '{{%'
         THEN list_sort(list_filter(json_keys(t), k -> k NOT IN ({allowed_keys})))
         ELSE [] END AS extras,
    CASE WHEN json_valid(t) AND t LIKE '{{%'
         THEN list_sort(list_filter([{required_keys}],
                        k -> NOT list_contains(json_keys(t), k)))
         ELSE [] END AS missing,
    CASE WHEN json_valid(t) THEN lower(coalesce(json_extract_string(t, '$.label'), '')) ELSE '' END AS label,
    CASE WHEN json_valid(t) THEN coalesce(json_extract_string(t, '$.answer_text'), '') ELSE '' END AS answer,
    CASE WHEN json_valid(t) AND t LIKE '{{%'
         THEN (json_type(t, '$.citations') IS NOT NULL
               AND json_type(t, '$.citations') <> 'ARRAY')
         ELSE FALSE END AS cit_not_array,
    CASE WHEN json_valid(t) AND t LIKE '{{%'
              AND json_type(t, '$.citations') = 'ARRAY'
         THEN json_array_length(t, '$.citations') ELSE 0 END AS n_cits,
    CASE WHEN json_valid(t) THEN json_extract_string(t, '$.evidence_okay.ok') END AS evid_ok,
    CASE WHEN json_valid(t) AND t LIKE '{{%'
              AND json_type(t, '$.assumptions') = 'ARRAY'
         THEN json_array_length(t, '$.assumptions') ELSE 0 END AS n_ass
  FROM p
), cit_rows AS (
  SELECT f.item_id, i AS pos,
         json_extract_string(f.t, '$.citations[' || i || '].section_id') AS csec,
         json_extract_string(f.t, '$.citations[' || i || '].quote') AS q
  FROM flags f, unnest(range(CAST(f.n_cits AS BIGINT))) u(i)
), cit_n AS (
  SELECT *, ({norm_csec}) AS norm FROM cit_rows
), per_cit AS (
  SELECT c.item_id, c.pos, any_value(c.csec) AS csec, any_value(c.q) AS q,
         any_value(c.norm) AS norm,
         max(CASE WHEN e.text IS NOT NULL AND {g_qc} <> ''
                       AND position({g_q} IN {g_t}) > 0
                  THEN 1 ELSE 0 END) AS grounded
  FROM cit_n c LEFT JOIN ent e ON c.item_id = e.item_id AND c.norm = e.sec
  GROUP BY c.item_id, c.pos
), first_cit AS (
  SELECT item_id, arg_min(code, pos) AS cit_code FROM (
    SELECT item_id, pos,
      CASE WHEN q IS NULL OR csec IS NULL THEN 'missing_key'
           WHEN norm IS NULL OR norm <> csec THEN 'invalid_section_id'
           WHEN grounded = 0 THEN 'ungrounded_citation' END AS code
    FROM per_cit) WHERE code IS NOT NULL GROUP BY item_id
), ass_rows AS (
  SELECT f.item_id,
         max(CASE WHEN {a_el} <> ''
                       AND position({a_el2} IN fc.full_c) = 0
                  THEN 1 ELSE 0 END) AS ass_bad
  FROM flags f
  JOIN full_ctx fc ON f.item_id = fc.item_id, unnest(range(CAST(f.n_ass AS BIGINT))) u(i)
  GROUP BY f.item_id
)
SELECT f.item_id,
  CASE
    WHEN f.invalid_json THEN 'invalid_json'
    WHEN f.not_object THEN 'wrong_type'
    WHEN len(f.extras) > 0 THEN 'extra_key'
    WHEN len(f.missing) > 0 THEN 'missing_key'
    WHEN f.label = '' OR f.answer = '' THEN 'invalid_value'
    WHEN f.label NOT IN ({labels}) THEN 'invalid_enum'
    WHEN f.cit_not_array THEN 'wrong_type'
    WHEN fc.cit_code IS NOT NULL THEN fc.cit_code
    WHEN f.evid_ok = 'false' THEN 'evidence_not_ok'
    WHEN f.label <> 'unanswerable' AND coalesce(a.ass_bad, 0) = 1 THEN 'assumption_unsupported'
    WHEN f.label <> 'unanswerable' AND f.n_cits = 0 THEN 'ungrounded_citation'
    WHEN f.label = 'unanswerable' AND (
           NOT regexp_matches(f.answer, '{refusal}')
           OR NOT regexp_matches(f.answer, '{hint}')
           OR lower(trim(f.answer)) LIKE 'yes%'
           OR lower(trim(f.answer)) LIKE 'no%')
         THEN 'invalid_value'
    ELSE 'ok'
  END AS code
FROM flags f
LEFT JOIN first_cit fc ON f.item_id = fc.item_id
LEFT JOIN ass_rows a ON f.item_id = a.item_id
ORDER BY f.item_id
"""


SCHEMA_QUERIES["llm_output_violations"] = q_llm_output_violations
SCHEMA_ORACLES["llm_output_violations"] = _llm_output_sql()


# --- generation policy (thin-retrieval refusal) ------------------------------

THIN_MIN_DOCS = 2
THIN_MIN_TOP_SCORE = 0.35
THIN_MIN_TOTAL_CHARS = 80


def q_generation_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluate_generation_policy (rag/policy.py:105-160): per item, the
    refusal decision ladder — temporal should_refuse wins (with its
    refusal reason, default 'temporal_evidence_ambiguous'), then
    empty-retrieval refusal, then the thin-retrieval thresholds
    (doc count / top score / total context chars, refuse-on-thin
    enabled with the seeded thresholds) → (should_refuse,
    disabled_reason).  Retrieval stats come from seeded per-item doc and
    context tables via plain aggregation, exactly how a policy gate
    would read a retrieval log table at scale."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    items = docs.select(
        d.alias("item_id"),
        (d % 13 == 0).alias("temporal_refuse"),
        F.when(d % 26 == 0, F.lit("effective_date_conflict")).alias(
            "temporal_reason"
        ),
    )
    # retrieval log: 0..3 docs per item with scores; context chars
    rdocs = None
    for k, flt in ((0, d % 11 != 0), (1, d % 3 == 0), (2, d % 4 == 0)):
        part = docs.filter(flt).select(
            d.alias("item_id"),
            F.round((((d + k) % 20) / F.lit(20.0)), 2).alias("score"),
            ((d + k) % 70 + 10).cast("long").alias("n_chars"),
        )
        rdocs = part if rdocs is None else rdocs.unionByName(part)
    stats = rdocs.groupBy("item_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("score").alias("top_score"),
        F.sum("n_chars").alias("total_chars"),
    )
    j = items.join(stats, "item_id", "left").select(
        "item_id", "temporal_refuse", "temporal_reason",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("top_score", F.lit(0.0)).alias("top_score"),
        F.coalesce("total_chars", F.lit(0)).alias("total_chars"),
    )
    thin = (
        (F.col("n_docs") == 0)
        | (F.col("n_docs") < THIN_MIN_DOCS)
        | (F.col("top_score") < THIN_MIN_TOP_SCORE)
        | (F.col("total_chars") < THIN_MIN_TOTAL_CHARS)
    )
    should = F.col("temporal_refuse") | thin
    reason = (
        F.when(
            F.col("temporal_refuse"),
            F.coalesce("temporal_reason", F.lit("temporal_evidence_ambiguous")),
        )
        .when(thin, F.lit("insufficient_evidence"))
        .otherwise(F.lit(None).cast("string"))
    )
    return j.select(
        "item_id", "n_docs",
        F.round("top_score", 2).alias("top_score"),
        "total_chars",
        should.alias("should_refuse"),
        reason.alias("disabled_reason"),
    ).orderBy("item_id")


def _generation_policy_sql() -> str:
    # Version-stable SQL only (VERDICT r4 What's-wrong #1): every float is
    # DOUBLE from the first operation — bare literals like `/ 20.0` make
    # DuckDB run DECIMAL division, whose result-scale rules moved across
    # DuckDB versions and broke the driver's value hash while matching
    # locally.  CAST-to-DOUBLE math is plain IEEE 754 in every version.
    return f"""
WITH items AS (
  SELECT doc_id AS item_id,
         (doc_id % 13 = 0) AS temporal_refuse,
         CASE WHEN doc_id % 26 = 0 THEN 'effective_date_conflict' END AS temporal_reason
  FROM documents
), rdocs AS (
  SELECT doc_id AS item_id,
         round(CAST((doc_id + 0) % 20 AS DOUBLE) / CAST(20.0 AS DOUBLE), 2) AS score,
         (doc_id + 0) % 70 + 10 AS n_chars
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id,
         round(CAST((doc_id + 1) % 20 AS DOUBLE) / CAST(20.0 AS DOUBLE), 2),
         (doc_id + 1) % 70 + 10
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id,
         round(CAST((doc_id + 2) % 20 AS DOUBLE) / CAST(20.0 AS DOUBLE), 2),
         (doc_id + 2) % 70 + 10
  FROM documents WHERE doc_id % 4 = 0
), stats AS (
  SELECT item_id, count(*) AS n_docs, max(score) AS top_score,
         -- BIGINT cast: DuckDB integer sum() widens to HUGEINT (r5 red)
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM rdocs GROUP BY item_id
), j AS (
  SELECT i.item_id, i.temporal_refuse, i.temporal_reason,
         coalesce(s.n_docs, 0) AS n_docs,
         coalesce(s.top_score, CAST(0.0 AS DOUBLE)) AS top_score,
         coalesce(s.total_chars, 0) AS total_chars
  FROM items i LEFT JOIN stats s ON i.item_id = s.item_id
)
SELECT item_id, n_docs,
       CAST(round(top_score, 2) AS DOUBLE) AS top_score, total_chars,
       (temporal_refuse OR n_docs = 0 OR n_docs < {THIN_MIN_DOCS}
        OR top_score < CAST({THIN_MIN_TOP_SCORE} AS DOUBLE)
        OR total_chars < {THIN_MIN_TOTAL_CHARS}) AS should_refuse,
       CASE WHEN temporal_refuse
              THEN coalesce(temporal_reason, 'temporal_evidence_ambiguous')
            WHEN n_docs = 0 OR n_docs < {THIN_MIN_DOCS}
              OR top_score < CAST({THIN_MIN_TOP_SCORE} AS DOUBLE)
              OR total_chars < {THIN_MIN_TOTAL_CHARS}
              THEN 'insufficient_evidence' END AS disabled_reason
FROM j
ORDER BY item_id
"""


SCHEMA_QUERIES["generation_policy"] = q_generation_policy
SCHEMA_ORACLES["generation_policy"] = _generation_policy_sql()


# --- snapshot payload validation ---------------------------------------------

def q_snapshot_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_snapshot_payload (rag/offline_snapshot_manifest.py:
    182-224): per snapshot line — missing/empty/non-normalizable
    section_id, missing/null/blank text, and duplicate canonical
    section ids (every line after the first occurrence reports, with
    the first-seen line number, via a min-over-window instead of the
    reference's driver-side dict)."""
    from earcrawler_spark.sources import normalize_ear_section_id

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    sec_raw = (
        F.when(d % 23 == 0, F.lit(""))
        .when(d % 19 == 0, F.lit("part x"))
        .when(d % 17 == 0, F.lit(None).cast("string"))
        .otherwise(section_id(d % 101))  # 101 > 37x7 classes -> duplicates seeded
    )
    text = (
        F.when(d % 29 == 0, F.lit(None).cast("string"))
        .when(d % 31 == 0, F.lit("   "))
        .otherwise(F.concat(F.lit("Provision text "), d.cast("string")))
    )
    snap = docs.select(d.alias("line"), sec_raw.alias("section_id"), text.alias("text"))
    canon = normalize_ear_section_id(F.col("section_id"))
    v = snap.select(
        "line", "section_id", "text", canon.alias("_canon"),
        F.when(F.col("section_id").isNull(), F.lit("missing_section_id"))
        .when(F.trim("section_id") == "", F.lit("invalid_section_id"))
        .when(canon.isNull(), F.lit("unnormalizable_section_id"))
        .when(F.col("text").isNull(), F.lit("null_text"))
        .when(F.trim("text") == "", F.lit("empty_text"))
        .alias("violation"),
    )
    w = W.partitionBy("_canon")
    dups = (
        v.filter(F.col("violation").isNull() & F.col("_canon").isNotNull())
        .withColumn("_first", F.min("line").over(w))
        .filter(F.col("line") != F.col("_first"))
        .select(
            "line",
            F.lit("duplicate_section_id").alias("violation"),
            F.col("_canon").alias("value"),
            F.col("_first").alias("first_seen_line"),
        )
    )
    base = v.filter(F.col("violation").isNotNull()).select(
        "line", "violation",
        F.coalesce("section_id", F.lit("")).alias("value"),
        F.lit(None).cast("long").alias("first_seen_line"),
    )
    return base.unionByName(dups).orderBy("line", "violation")


def _snapshot_sql() -> str:
    sd = section_id_sql("doc_id % 101")
    norm = normalize_ear_section_sql("section_id")
    return f"""
WITH snap AS (
  SELECT doc_id AS line,
    CASE WHEN doc_id % 23 = 0 THEN ''
         WHEN doc_id % 19 = 0 THEN 'part x'
         WHEN doc_id % 17 = 0 THEN NULL
         ELSE {sd} END AS section_id,
    CASE WHEN doc_id % 29 = 0 THEN NULL
         WHEN doc_id % 31 = 0 THEN '   '
         ELSE 'Provision text ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents
), v AS (
  SELECT line, section_id, text, ({norm}) AS canon,
    CASE WHEN section_id IS NULL THEN 'missing_section_id'
         WHEN trim(section_id) = '' THEN 'invalid_section_id'
         WHEN ({norm}) IS NULL THEN 'unnormalizable_section_id'
         WHEN text IS NULL THEN 'null_text'
         WHEN trim(text) = '' THEN 'empty_text' END AS violation
  FROM snap
), base AS (
  SELECT line, violation, coalesce(section_id, '') AS value,
         CAST(NULL AS BIGINT) AS first_seen_line
  FROM v WHERE violation IS NOT NULL
), dups AS (
  SELECT line, 'duplicate_section_id' AS violation, canon AS value,
         first_seen_line
  FROM (
    SELECT line, canon, min(line) OVER (PARTITION BY canon) AS first_seen_line
    FROM v WHERE violation IS NULL AND canon IS NOT NULL
  ) WHERE line <> first_seen_line
)
SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM dups)
ORDER BY line, violation
"""


SCHEMA_QUERIES["snapshot_violations"] = q_snapshot_violations
SCHEMA_ORACLES["snapshot_violations"] = _snapshot_sql()


# --- telemetry redaction ------------------------------------------------------

def telemetry_scrub(col):
    """_scrub_string (telemetry/redaction.py:29-35) as a native
    regexp_replace chain — EXACT reference order (email, token, path,
    url-query, guid), which carries two deliberate reference quirks:
    any 20+ run of [A-Za-z0-9_-=] (including every GUID) is taken by
    the token rule before the guid rule can fire, and absolute-path
    scrubbing also hits the path part of URLs.  The env-secret
    replacement step is driver-side configuration (os.environ) and out
    of the data plane."""
    c = F.regexp_replace(
        col, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[redacted]"
    )
    c = F.regexp_replace(
        c, r"(?i)(?:bearer\s+)?[A-Za-z0-9\-_=]{20,}", "[redacted]"
    )
    c = F.regexp_replace(c, r"(?:[A-Za-z]:\\\\[^\s]+|/[^\s]+)", "[path]")
    c = F.regexp_replace(c, r"(https?://[^\s?]+)\?[^\s]+", "$1")
    c = F.regexp_replace(
        c,
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "[guid]",
    )
    return c


def q_telemetry_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry event redaction (telemetry/redaction.py:7-53): the
    key allowlist as a projection and the string-scrub chain over the
    free-text fields, on events seeded with emails, bearer tokens,
    absolute paths, query-string URLs, and GUIDs."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    error = (
        F.when(
            d % 7 == 0,
            F.concat(F.lit("auth failed for user"), d.cast("string"),
                     F.lit("@example.com retry later")),
        )
        .when(
            d % 7 == 1,
            F.concat(F.lit("denied: bearer tok"),
                     F.lpad(d.cast("string"), 24, "x"), F.lit(" expired")),
        )
        .when(
            d % 7 == 2,
            F.concat(F.lit("read error at /var/data/part-"),
                     d.cast("string"), F.lit(".parquet on node")),
        )
        .when(
            d % 7 == 3,
            F.concat(F.lit("fetch https://api.example.gov/v1/items?key=abc&item="),
                     d.cast("string"), F.lit(" timed out")),
        )
        .when(
            d % 7 == 4,
            F.concat(F.lit("session 0123abcd-0000-1111-2222-00005555"),
                     F.lpad((d % 10000).cast("string"), 4, "0"),
                     F.lit(" dropped")),
        )
        .when(d % 7 == 5, F.lit("plain failure message"))
        .otherwise(F.concat(F.lit("mixed j.doe@corp.io at /opt/app run "),
                            d.cast("string")))
    )
    events = docs.select(
        d.alias("event_id"),
        F.when(d % 2 == 0, F.lit("crawl")).otherwise(F.lit("kg")).alias("command"),
        (d % 5000).cast("long").alias("duration_ms"),
        (d % 3).cast("int").alias("exit_code"),
        error.alias("error"),
    )
    # ALLOWED_KEYS projection keeps event metadata; the scrub chain runs
    # over the free-text fields
    return events.select(
        "event_id",
        telemetry_scrub(F.col("command")).alias("command"),
        "duration_ms", "exit_code",
        telemetry_scrub(F.col("error")).alias("error"),
    ).orderBy("event_id")


def _telemetry_sql() -> str:
    return """
WITH events AS (
  SELECT doc_id AS event_id,
         CASE WHEN doc_id % 2 = 0 THEN 'crawl' ELSE 'kg' END AS command,
         doc_id % 5000 AS duration_ms,
         CAST(doc_id % 3 AS INT) AS exit_code,
         CASE WHEN doc_id % 7 = 0 THEN 'auth failed for user' || CAST(doc_id AS VARCHAR) || '@example.com retry later'
              WHEN doc_id % 7 = 1 THEN 'denied: bearer tok' || lpad(CAST(doc_id AS VARCHAR), 24, 'x') || ' expired'
              WHEN doc_id % 7 = 2 THEN 'read error at /var/data/part-' || CAST(doc_id AS VARCHAR) || '.parquet on node'
              WHEN doc_id % 7 = 3 THEN 'fetch https://api.example.gov/v1/items?key=abc&item=' || CAST(doc_id AS VARCHAR) || ' timed out'
              WHEN doc_id % 7 = 4 THEN 'session 0123abcd-0000-1111-2222-00005555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' dropped'
              WHEN doc_id % 7 = 5 THEN 'plain failure message'
              ELSE 'mixed j.doe@corp.io at /opt/app run ' || CAST(doc_id AS VARCHAR) END AS error
  FROM documents
), scrubbed AS (
  SELECT event_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      command,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[redacted]', 'g'),
      '(?i)(?:bearer\\s+)?[A-Za-z0-9\\-_=]{20,}', '[redacted]', 'g'),
      '(?:[A-Za-z]:\\\\\\\\[^\\s]+|/[^\\s]+)', '[path]', 'g'),
      '(https?://[^\\s?]+)\\?[^\\s]+', '\\1', 'g'),
      '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '[guid]', 'g')
      AS command,
    duration_ms, exit_code,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      error,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[redacted]', 'g'),
      '(?i)(?:bearer\\s+)?[A-Za-z0-9\\-_=]{20,}', '[redacted]', 'g'),
      '(?:[A-Za-z]:\\\\\\\\[^\\s]+|/[^\\s]+)', '[path]', 'g'),
      '(https?://[^\\s?]+)\\?[^\\s]+', '\\1', 'g'),
      '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '[guid]', 'g')
      AS error
  FROM events
)
SELECT * FROM scrubbed ORDER BY event_id
"""


SCHEMA_QUERIES["telemetry_scrub"] = q_telemetry_scrub
SCHEMA_ORACLES["telemetry_scrub"] = _telemetry_sql()


# --- data-egress audit record -------------------------------------------------

def normalize_egress_text(col):
    """data_egress.normalize_text (security/data_egress.py:37-39): CRLF/CR
    to LF, rstrip each line, strip trailing newlines (RE2-safe — no
    lookahead: the per-line rstrip consumes and restores the newline).
    Documented narrow bound: the per-line rstrip covers space/tab (the
    reference's str.rstrip also strips exotic unicode whitespace, which
    the synthetic domain never emits)."""
    n1 = F.regexp_replace(col, r"\r\n|\r", "\n")
    n2 = F.regexp_replace(n1, r"[ \t]+\n", "\n")
    n3 = F.regexp_replace(n2, r"[ \t]+$", "")
    return F.regexp_replace(n3, r"\n+$", "")


def q_egress_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_data_egress_decision's deterministic hashing core
    (security/data_egress.py:37-125): per item, the normalized-text
    sha256 question hash, per-context hashes in context order, the
    canonical-JSON prompt hash over the (system, user) message pair
    (sorted keys, compact separators), the resolved redaction mode, and
    the mode-applied scrubbed question (env_rules_v1 = the P5 privacy
    scrub, already reference-fuzzed)."""
    from earcrawler_spark.functions.text import pii_scrub

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    question = F.concat(
        F.lit("Does section "), section_id(d),
        F.lit(" apply?  \r\nContact j.doe@example.com for detail\t\r\n\r\n"),
    )
    sysmsg = F.lit("You are an export-control assistant.")
    ctx1 = F.concat(F.lit("[CTX] provision text "), d.cast("string"),
                    F.lit("   \r\n line two  "))
    ctx2 = F.concat(F.lit("supplementary note "), (d % 9).cast("string"))
    mode = F.when(d % 2 == 0, F.lit("env_rules_v1")).otherwise(F.lit("none"))

    qn = normalize_egress_text(question)
    c1n, c2n = normalize_egress_text(ctx1), normalize_egress_text(ctx2)
    sn = normalize_egress_text(sysmsg)
    esc = lambda c: F.regexp_replace(c, r"\n", r"\\n")
    prompt_json = F.concat(
        F.lit('[{"content":"'), esc(sn), F.lit('","role":"system"},'),
        F.lit('{"content":"'), esc(qn), F.lit('","role":"user"}]'),
    )
    return docs.select(
        d.alias("item_id"),
        mode.alias("redaction_mode"),
        F.sha2(qn, 256).alias("question_hash"),
        F.sha2(prompt_json, 256).alias("prompt_hash"),
        F.concat_ws("|", F.sha2(c1n, 256), F.sha2(c2n, 256)).alias(
            "context_hashes"
        ),
        F.lit(2).alias("context_count"),
        F.when(mode == "env_rules_v1", pii_scrub(question))
        .otherwise(question).alias("question_out"),
    ).orderBy("item_id")


def _egress_sql() -> str:
    from earcrawler_spark.functions.text import pii_scrub_sql

    sd = section_id_sql("doc_id")

    def norm(expr):
        n1 = f"regexp_replace({expr}, '\\r\\n|\\r', chr(10), 'g')"
        n2 = f"regexp_replace({n1}, '[ \\t]+\\n', chr(10), 'g')"
        n3 = f"regexp_replace({n2}, '[ \\t]+$', '')"
        return f"regexp_replace({n3}, '\\n+$', '')"

    q = ("'Does section ' || " + sd +
         " || ' apply?  ' || chr(13) || chr(10) || "
         "'Contact j.doe@example.com for detail' || chr(9) || chr(13) || "
         "chr(10) || chr(13) || chr(10)")
    c1 = ("'[CTX] provision text ' || CAST(doc_id AS VARCHAR) || '   ' || "
          "chr(13) || chr(10) || ' line two  '")
    c2 = "'supplementary note ' || CAST(doc_id % 9 AS VARCHAR)"
    s = "'You are an export-control assistant.'"
    qn, c1n, c2n, sn = norm(q), norm(c1), norm(c2), norm(s)
    esc = lambda e: f"replace({e}, chr(10), '\\n')"
    prompt = ("'[{\"content\":\"' || " + esc(sn) +
              " || '\",\"role\":\"system\"},' || '{\"content\":\"' || "
              + esc(qn) + " || '\",\"role\":\"user\"}]'")
    return f"""
SELECT doc_id AS item_id,
       CASE WHEN doc_id % 2 = 0 THEN 'env_rules_v1' ELSE 'none' END AS redaction_mode,
       sha256({qn}) AS question_hash,
       sha256({prompt}) AS prompt_hash,
       sha256({c1n}) || '|' || sha256({c2n}) AS context_hashes,
       2 AS context_count,
       CASE WHEN doc_id % 2 = 0 THEN {pii_scrub_sql(q)}
            ELSE {q} END AS question_out
FROM documents
ORDER BY item_id
"""


SCHEMA_QUERIES["egress_audit"] = q_egress_audit
SCHEMA_ORACLES["egress_audit"] = _egress_sql()


# --- HITL decision-event ingest summary --------------------------------------

def q_hitl_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ingest_hitl_directory's parse + summary core
    (audit/hitl_events.py:102-186): each decision event parses with the
    reference's coercions — _as_bool truthy set {1,true,yes,y,on} after
    lowercase-strip (:83-87), _as_int falling back to 0 on non-numeric
    then floored at 0 (:90-99,111), empty reason_code -> 'other' (:108)
    — then the ingest report aggregates: event count, override rate,
    mean time-to-decision, and reason codes sorted by (-count, code)
    (:166-186).  Rates emit as round(CAST double, 6) per the
    version-stable oracle rules.

    Scale shape: one projection pass over the event relation + two
    partial-agg-friendly aggregates; the reason histogram (<=4 rows)
    broadcast-crossJoins the 1-row stats."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    labels = ["export_controlled", "not_controlled", "unanswerable"]
    initial = (
        F.when(d % 3 == 0, F.lit(labels[0]))
        .when(d % 3 == 1, F.lit(labels[1]))
        .otherwise(F.lit(labels[2]))
    )
    override_raw = (
        F.when(d % 7 == 0, F.lit("true"))
        .when(d % 7 == 1, F.lit("1"))
        .when(d % 7 == 2, F.lit(" YES "))
        .when(d % 7 == 3, F.lit("y"))
        .when(d % 7 == 4, F.lit("on"))
        .when(d % 7 == 5, F.lit("false"))
        .otherwise(F.lit(""))
    )
    override = F.lower(F.trim(override_raw)).isin("1", "true", "yes", "y", "on")
    time_raw = (
        F.when(d % 5 == 0, F.lit("1200"))
        .when(d % 5 == 1, F.lit("-50"))
        .when(d % 5 == 2, F.lit(""))
        .when(d % 5 == 3, F.lit("notanum"))
        .otherwise(F.lit("88"))
    )
    time_ms = F.greatest(
        F.lit(0).cast("long"),
        F.coalesce(F.trim(time_raw).try_cast("long"), F.lit(0).cast("long")),
    )
    reason = (
        F.when(d % 4 == 0, F.lit("insufficient_evidence"))
        .when(d % 4 == 1, F.lit("wrong_citation"))
        .when(d % 4 == 2, F.lit("policy_override"))
        .otherwise(F.lit(""))
    )
    reason = F.when(F.trim(reason) == "", F.lit("other")).otherwise(reason)

    events = docs.select(
        F.concat(F.lit("t-"), d.cast("string")).alias("trace_id"),
        override.alias("override"),
        time_ms.alias("time_to_decision_ms"),
        reason.alias("reason_code"),
    )
    stats = events.agg(
        F.count(F.lit(1)).alias("ingested_events"),
        F.sum(F.col("override").cast("long")).alias("overrides"),
        F.round(
            F.sum(F.col("override").cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("override_rate"),
        F.round(
            F.sum("time_to_decision_ms").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_time_to_decision_ms"),
    )
    reasons = (
        events.groupBy("reason_code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("cnt")).alias("neg"),
                                F.col("reason_code").alias("rc"),
                                F.col("cnt").alias("cnt"),
                            )
                        )
                    ),
                    lambda s: F.concat(
                        s["rc"], F.lit(":"), s["cnt"].cast("string")
                    ),
                ),
                "|",
            ).alias("top_reason_codes")
        )
    )
    return stats.crossJoin(F.broadcast(reasons)).select(
        "ingested_events", "overrides", "override_rate",
        "avg_time_to_decision_ms", "top_reason_codes",
    )


def _hitl_sql() -> str:
    return """
WITH events AS (
  SELECT
    CASE WHEN lower(trim(CASE doc_id % 7
        WHEN 0 THEN 'true' WHEN 1 THEN '1' WHEN 2 THEN ' YES '
        WHEN 3 THEN 'y' WHEN 4 THEN 'on' WHEN 5 THEN 'false'
        ELSE '' END)) IN ('1', 'true', 'yes', 'y', 'on')
      THEN 1 ELSE 0 END AS override,
    greatest(CAST(0 AS BIGINT), coalesce(TRY_CAST(trim(CASE doc_id % 5
        WHEN 0 THEN '1200' WHEN 1 THEN '-50' WHEN 2 THEN ''
        WHEN 3 THEN 'notanum' ELSE '88' END) AS BIGINT),
      CAST(0 AS BIGINT))) AS time_to_decision_ms,
    CASE doc_id % 4
        WHEN 0 THEN 'insufficient_evidence' WHEN 1 THEN 'wrong_citation'
        WHEN 2 THEN 'policy_override' ELSE 'other' END AS reason_code
  FROM documents
), stats AS (
  SELECT count(*) AS ingested_events,
         CAST(sum(override) AS BIGINT) AS overrides,
         round(CAST(sum(override) AS DOUBLE) / count(*), 6) AS override_rate,
         round(CAST(sum(time_to_decision_ms) AS DOUBLE) / count(*), 6)
           AS avg_time_to_decision_ms
  FROM events
), reasons AS (
  SELECT string_agg(reason_code || ':' || CAST(cnt AS VARCHAR), '|'
                    ORDER BY cnt DESC, reason_code) AS top_reason_codes
  FROM (SELECT reason_code, count(*) AS cnt FROM events GROUP BY reason_code)
)
SELECT ingested_events, overrides, override_rate, avg_time_to_decision_ms,
       top_reason_codes
FROM stats CROSS JOIN reasons
"""


SCHEMA_QUERIES["hitl_summary"] = q_hitl_summary
SCHEMA_ORACLES["hitl_summary"] = _hitl_sql()


# --- trace-pack contract validation ------------------------------------------

def q_trace_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_trace_pack + validate_trace_pack + provenance_hash
    (trace/trace_pack.py:218-344) with require_kg_paths and
    require_run_provenance on: per synthetic pack, the canonical-JSON
    provenance hash over the five normalized evidence parts (sorted
    keys, compact separators, reference sort orders, droppable
    entries), the deterministic issue ladder (missing core fields,
    label-conditional section_quotes on the NORMALIZED list, kg_paths,
    the five required run_provenance scalars, missing/invalid
    provenance_hash), and the recomputed expected hash.

    Scale shape: one pack per row, every normalize/serialize/hash step
    a native higher-order-function column — no explode, no shuffle
    before the final orderBy."""
    from earcrawler_spark.operators.trace import (
        REQUIRED_PROVENANCE_FIELDS,
        kg_paths_kept_size,
        provenance_hash,
        section_quotes_kept_size,
    )

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    answerable = (d % 4 == 0) | (d % 4 == 1)
    label = (
        F.when(d % 4 == 0, F.lit("export_controlled"))
        .when(d % 4 == 1, F.lit("not_controlled"))
        .when(d % 4 == 2, F.lit("unanswerable"))
        .otherwise(F.lit(" Unanswerable "))
    )
    ns = F.lit(None).cast("string")
    nd = F.lit(None).cast("double")
    has_q = answerable & (d % 21 != 0)
    sq = F.filter(
        F.array(
            F.when(
                has_q,
                F.struct(
                    section_id(d).alias("section_id"),
                    F.concat(F.lit("alpha "), d.cast("string")).alias("quote"),
                    F.concat(F.lit("https://s/"), d.cast("string")).alias(
                        "source_url"
                    ),
                    F.lit(0.5).alias("score"),
                ),
            ),
            F.when(
                has_q & (d % 2 == 0),
                F.struct(
                    F.concat(F.lit("§ "), section_body(d + 1)).alias("section_id"),
                    F.lit("beta").alias("quote"),
                    ns.alias("source_url"),
                    nd.alias("score"),
                ),
            ),
            F.when(
                has_q & (d % 6 == 0),
                F.struct(
                    F.lit("").alias("section_id"),
                    F.lit("orphan").alias("quote"),
                    ns.alias("source_url"),
                    F.lit(1.5).alias("score"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    def edge(s, p_, t):
        return F.struct(
            F.lit(s).alias("source"), F.lit(p_).alias("predicate"),
            F.lit(t).alias("target"),
        )

    kg = F.filter(
        F.array(
            F.when(
                d % 15 != 0,
                F.struct(
                    F.concat(F.lit("p"), d.cast("string")).alias("path_id"),
                    F.array(
                        F.struct(
                            F.concat(F.lit("n"), d.cast("string")).alias(
                                "source"
                            ),
                            F.lit("cites").alias("predicate"),
                            F.concat(F.lit("n"), (d + 1).cast("string")).alias(
                                "target"
                            ),
                        )
                    ).alias("edges"),
                ),
            ),
            F.when(
                (d % 15 != 0) & (d % 3 == 0),
                F.struct(
                    F.concat(F.lit("a"), d.cast("string")).alias("path_id"),
                    F.array(
                        edge("b", "r", "c"), edge("a", "r", "b"),
                        edge("", "x", "y"),
                    ).alias("edges"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    cit = F.filter(
        F.array(
            F.struct(
                section_id(d).alias("section_id"), F.lit("z").alias("quote"),
                F.lit("s1").alias("span_id"), F.lit("faiss").alias("source"),
            ),
            F.when(
                d % 5 == 0,
                F.struct(
                    F.lit("736.2").alias("section_id"),
                    F.lit("").alias("quote"), F.lit("").alias("span_id"),
                    F.lit("kg").alias("source"),
                ),
            ),
            F.when(
                d % 7 == 0,
                F.struct(
                    F.lit("").alias("section_id"), F.lit("drop").alias("quote"),
                    F.lit("").alias("span_id"), F.lit("").alias("source"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    meta = F.filter(
        F.array(
            F.struct(
                F.concat(F.lit("d"), d.cast("string")).alias("id"),
                section_id(d).alias("section"), F.lit(1.5).alias("score"),
                F.lit("faiss").alias("source"),
                F.concat(F.lit("https://u/"), d.cast("string")).alias("url"),
                F.lit("T").alias("title"),
            ),
            F.when(
                d % 2 == 1,
                F.struct(
                    F.lit("").alias("id"),
                    F.concat(F.lit("15 CFR "), section_body(d + 1)).alias("section"),
                    nd.alias("score"), F.lit("kg").alias("source"),
                    F.lit("").alias("url"), F.lit("").alias("title"),
                ),
            ),
            F.when(
                d % 8 == 0,
                F.struct(
                    F.concat(F.lit("x"), d.cast("string")).alias("id"),
                    F.lit("").alias("section"), F.lit(0.25).alias("score"),
                    F.lit("x").alias("source"), F.lit("").alias("url"),
                    F.lit("").alias("title"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    prov = F.struct(
        F.concat(F.lit("snap-"), d.cast("string")).alias("snapshot_id"),
        F.sha2(F.concat(F.lit("s"), d.cast("string")), 256).alias(
            "snapshot_sha256"
        ),
        F.sha2(F.concat(F.lit("c"), d.cast("string")), 256).alias(
            "corpus_digest"
        ),
        F.concat(F.lit("/idx/"), (d % 5).cast("string")).alias("index_path"),
        F.lit("").alias("index_sha256"),
        ns.alias("index_meta_path"),
        ns.alias("index_meta_sha256"),
        ns.alias("index_meta_schema_version"),
        ns.alias("index_build_timestamp_utc"),
        F.when(d % 19 == 0, F.lit("")).otherwise(F.lit("minilm")).alias(
            "embedding_model"
        ),
        F.lit("").alias("llm_provider"),
        F.when(d % 2 == 0, F.lit("m1")).otherwise(F.lit("")).alias("llm_model"),
    )

    base = docs.select(
        d.alias("item_id"),
        F.when(d % 23 == 0, F.lit("")).otherwise(
            F.concat(F.lit("t"), d.cast("string"))
        ).alias("trace_id"),
        F.when(d % 29 == 0, F.lit("")).otherwise(
            F.sha2(F.concat(F.lit("q"), d.cast("string")), 256)
        ).alias("question_hash"),
        F.when(d % 31 == 0, F.lit("")).otherwise(
            F.concat(F.lit("Answer for "), section_id(d))
        ).alias("answer_text"),
        label.alias("label"),
        sq.alias("section_quotes"),
        kg.alias("kg_paths"),
        cit.alias("citations"),
        meta.alias("retrieval_metadata"),
        prov.alias("run_provenance"),
    ).withColumn(
        "expected_hash",
        provenance_hash(
            F.col("section_quotes"), F.col("kg_paths"), F.col("citations"),
            F.col("retrieval_metadata"), F.col("run_provenance"),
        ),
    ).withColumn(
        "provided_hash",
        F.when(F.col("item_id") % 27 == 0, F.lit(""))
        .when(F.col("item_id") % 27 == 13, F.lit("f" * 8))
        .otherwise(F.col("expected_hash")),
    )

    require_quotes = F.lower(F.trim(F.col("label"))) != "unanswerable"
    ladder = [
        F.when(F.col("trace_id") == "", F.lit("missing:trace_id")),
        F.when(F.col("question_hash") == "", F.lit("missing:question_hash")),
        F.when(F.col("answer_text") == "", F.lit("missing:answer_text")),
        F.when(F.col("label") == "", F.lit("missing:label")),
        F.when(
            require_quotes
            & (section_quotes_kept_size(F.col("section_quotes")) == 0),
            F.lit("missing:section_quotes"),
        ),
        F.when(
            kg_paths_kept_size(F.col("kg_paths")) == 0,
            F.lit("missing:kg_paths"),
        ),
        *[
            F.when(
                F.trim(F.coalesce(F.col("run_provenance")[f], F.lit(""))) == "",
                F.lit(f"missing:run_provenance.{f}"),
            )
            for f in REQUIRED_PROVENANCE_FIELDS
        ],
        F.when(F.col("provided_hash") == "", F.lit("missing:provenance_hash")),
        F.when(
            (F.col("provided_hash") != "")
            & (F.col("provided_hash") != F.col("expected_hash")),
            F.lit("invalid:provenance_hash"),
        ),
    ]
    issues = F.filter(F.array(*ladder), lambda x: x.isNotNull())
    return base.select(
        "item_id",
        "expected_hash",
        F.array_join(issues, "|").alias("issues"),
        F.size(issues).alias("n_issues"),
        (F.size(issues) == 0).alias("valid"),
    ).orderBy("item_id")


def _trace_sql() -> str:
    # The oracle reconstructs the canonical payload from fixture
    # knowledge: entry order within each <=3-entry list is resolved with
    # explicit CASE comparisons on the reference sort keys (the engine
    # side runs the general normalize/sort operators).  Strings + one
    # sha256 per part — version-stable.
    numd, numd1 = section_body_sql("doc_id"), section_body_sql("doc_id + 1")
    di = "CAST(doc_id AS VARCHAR)"
    d1 = "CAST(doc_id + 1 AS VARCHAR)"
    jA = (f"'{{\"quote\":\"alpha ' || {di} || '\",\"score\":0.5,"
          f"\"section_id\":\"EAR-' || {numd} || '\",\"source_url\":"
          f"\"https://s/' || {di} || '\"}}'")
    jB = (f"'{{\"quote\":\"beta\",\"score\":null,\"section_id\":\"EAR-' "
          f"|| {numd1} || '\",\"source_url\":null}}'")
    sq = (f"CASE WHEN NOT (doc_id % 4 IN (0, 1) AND doc_id % 21 <> 0) THEN '[]' "
          f"WHEN doc_id % 2 <> 0 THEN '[' || {jA} || ']' "
          f"WHEN 'EAR-' || {numd} < 'EAR-' || {numd1} "
          f"THEN '[' || {jA} || ',' || {jB} || ']' "
          f"ELSE '[' || {jB} || ',' || {jA} || ']' END")
    jP1 = (f"'{{\"edges\":[{{\"predicate\":\"cites\",\"source\":\"n' || {di} "
           f"|| '\",\"target\":\"n' || {d1} || '\"}}],\"path_id\":\"p' "
           f"|| {di} || '\"}}'")
    jP2 = (f"'{{\"edges\":[{{\"predicate\":\"r\",\"source\":\"a\","
           f"\"target\":\"b\"}},{{\"predicate\":\"r\",\"source\":\"b\","
           f"\"target\":\"c\"}}],\"path_id\":\"a' || {di} || '\"}}'")
    kg = (f"CASE WHEN doc_id % 15 = 0 THEN '[]' "
          f"WHEN doc_id % 3 = 0 THEN '[' || {jP2} || ',' || {jP1} || ']' "
          f"ELSE '[' || {jP1} || ']' END")
    jC1 = (f"'{{\"quote\":\"z\",\"section_id\":\"EAR-' || {numd} || '\","
           f"\"source\":\"faiss\",\"span_id\":\"s1\"}}'")
    jC2 = ("'{\"quote\":\"\",\"section_id\":\"EAR-736.2\","
           "\"source\":\"kg\",\"span_id\":\"\"}'")
    cit = (f"CASE WHEN doc_id % 5 <> 0 THEN '[' || {jC1} || ']' "
           f"WHEN 'EAR-' || {numd} < 'EAR-736.2' "
           f"THEN '[' || {jC1} || ',' || {jC2} || ']' "
           f"ELSE '[' || {jC2} || ',' || {jC1} || ']' END")
    jR1 = (f"'{{\"id\":\"d' || {di} || '\",\"score\":1.5,\"section\":\"EAR-' "
           f"|| {numd} || '\",\"source\":\"faiss\",\"title\":\"T\","
           f"\"url\":\"https://u/' || {di} || '\"}}'")
    jR2 = (f"'{{\"id\":\"EAR-' || {numd1} || '\",\"score\":null,"
           f"\"section\":\"EAR-' || {numd1} || '\",\"source\":\"kg\","
           f"\"title\":\"\",\"url\":\"\"}}'")
    jR3 = (f"'{{\"id\":\"x' || {di} || '\",\"score\":0.25,\"section\":\"x' "
           f"|| {di} || '\",\"source\":\"x\",\"title\":\"\",\"url\":\"\"}}'")
    meta = (f"'[' || CASE WHEN doc_id % 2 = 1 THEN {jR2} || ',' ELSE '' END "
            f"|| {jR1} "
            f"|| CASE WHEN doc_id % 8 = 0 THEN ',' || {jR3} ELSE '' END "
            f"|| ']'")
    prov = (
        "'{\"corpus_digest\":\"' || sha256('c' || " + di + ") || '\"'"
        " || CASE WHEN doc_id % 19 <> 0 THEN "
        "',\"embedding_model\":\"minilm\"' ELSE '' END"
        " || ',\"index_path\":\"/idx/' || CAST(doc_id % 5 AS VARCHAR) || '\"'"
        " || CASE WHEN doc_id % 2 = 0 THEN ',\"llm_model\":\"m1\"' "
        "ELSE '' END"
        " || ',\"snapshot_id\":\"snap-' || " + di + " || '\","
        "\"snapshot_sha256\":\"' || sha256('s' || " + di + ") || '\"}'"
    )
    payload = (f"'{{\"citations\":' || {cit} || ',\"kg_paths\":' || {kg} "
               f"|| ',\"retrieval_metadata\":' || {meta} "
               f"|| ',\"run_provenance\":' || {prov} "
               f"|| ',\"section_quotes\":' || {sq} || '}}'")
    ladder = [
        ("doc_id % 23 = 0", "missing:trace_id"),
        ("doc_id % 29 = 0", "missing:question_hash"),
        ("doc_id % 31 = 0", "missing:answer_text"),
        ("doc_id % 4 IN (0, 1) AND doc_id % 21 = 0", "missing:section_quotes"),
        ("doc_id % 15 = 0", "missing:kg_paths"),
        ("doc_id % 19 = 0", "missing:run_provenance.embedding_model"),
        ("doc_id % 27 = 0", "missing:provenance_hash"),
        ("doc_id % 27 = 13", "invalid:provenance_hash"),
    ]
    cases = ", ".join(
        f"CASE WHEN {cond} THEN '{code}' END" for cond, code in ladder
    )
    flags = " + ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END" for cond, _ in ladder
    )
    return f"""
SELECT doc_id AS item_id, sha256({payload}) AS expected_hash,
       coalesce(concat_ws('|', {cases}), '') AS issues,
       CAST({flags} AS INTEGER) AS n_issues,
       ({flags}) = 0 AS valid
FROM documents
ORDER BY doc_id
"""


SCHEMA_QUERIES["trace_validation"] = q_trace_validation
SCHEMA_ORACLES["trace_validation"] = _trace_sql()


# --- canary probe evaluation --------------------------------------------------

def q_canary_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluate_canary_response (observability/canary.py:32-68): each
    probe outcome checks status (skipped when status_code is NULL),
    latency, and row-count against its budget, accumulating the
    reference's message parts in order ('; '-joined, 'within budget'
    when clean) and the pass/fail status."""
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    latency = ((d * 7) % 5000).cast("double") * 0.5
    rows_ = (d % 40).cast("int")
    status_code = (
        F.when(d % 11 == 0, F.lit(None).cast("int"))
        .when(d % 13 == 0, F.lit(500))
        .otherwise(F.lit(200))
    )
    max_latency, min_rows, expect = 1200.0, 10, 200
    parts = F.filter(
        F.array(
            F.when(
                status_code.isNotNull() & (status_code != expect),
                F.concat(
                    F.lit("status "), status_code.cast("string"),
                    F.lit(f" != expected {expect}"),
                ),
            ),
            F.when(
                latency > max_latency,
                F.concat(
                    F.lit("latency "), F.format_string("%.2f", latency),
                    F.lit(f"ms > {max_latency}ms budget"),
                ),
            ),
            F.when(
                rows_ < min_rows,
                F.concat(
                    F.lit("rows "), rows_.cast("string"),
                    F.lit(f" < min {min_rows}"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    ok = F.size(parts) == 0
    return docs.select(
        F.concat(F.lit("probe-"), d.cast("string")).alias("name"),
        ok.alias("ok"),
        F.round(latency, 2).alias("latency_ms"),
        rows_.alias("observed_rows"),
        status_code.alias("status_code"),
        F.when(ok, F.lit("within budget"))
        .otherwise(F.array_join(parts, "; "))
        .alias("message"),
        F.when(ok, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
    ).orderBy("name")


def _canary_sql() -> str:
    lat = "CAST((doc_id * 7) % 5000 AS DOUBLE) * 0.5"
    sc = ("CASE WHEN doc_id % 11 = 0 THEN NULL "
          "WHEN doc_id % 13 = 0 THEN 500 ELSE 200 END")
    parts = [
        (f"{sc} IS NOT NULL AND {sc} <> 200",
         f"'status ' || CAST({sc} AS VARCHAR) || ' != expected 200'"),
        (f"{lat} > 1200.0",
         f"'latency ' || printf('%.2f', {lat}) || 'ms > 1200.0ms budget'"),
        ("doc_id % 40 < 10",
         "'rows ' || CAST(doc_id % 40 AS VARCHAR) || ' < min 10'"),
    ]
    cases = ", ".join(f"CASE WHEN {c} THEN {m} END" for c, m in parts)
    anybad = " OR ".join(f"({c})" for c, _ in parts)
    return f"""
SELECT 'probe-' || CAST(doc_id AS VARCHAR) AS name,
       NOT ({anybad}) AS ok,
       round({lat}, 2) AS latency_ms,
       CAST(doc_id % 40 AS INTEGER) AS observed_rows,
       CAST({sc} AS INTEGER) AS status_code,
       CASE WHEN NOT ({anybad}) THEN 'within budget'
            ELSE concat_ws('; ', {cases}) END AS message,
       CASE WHEN NOT ({anybad}) THEN 'pass' ELSE 'fail' END AS status
FROM documents
ORDER BY name
"""


SCHEMA_QUERIES["canary_eval"] = q_canary_eval
SCHEMA_ORACLES["canary_eval"] = _canary_sql()


# --- upstream status tracker --------------------------------------------------

def q_upstream_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UpstreamStatusTracker.snapshot (api_clients/upstream_status.py:
    88-129): every client operation emits a status from the six-state
    taxonomy; the tracker keeps the LATEST per (source, operation) —
    here via a partial-agg-friendly max(struct(ts, event_id, ...)), no
    window — and the snapshot reports sorted rows with the derived
    `degraded` flag (state outside {ok, no_results}, :39-41) and the
    3-dp-rounded cache age (:60)."""
    ev = table(spark, sf_dir, "events")
    d = F.col("event_id")
    state = (
        F.when(d % 6 == 0, F.lit("ok"))
        .when(d % 6 == 1, F.lit("no_results"))
        .when(d % 6 == 2, F.lit("missing_credentials"))
        .when(d % 6 == 3, F.lit("upstream_unavailable"))
        .when(d % 6 == 4, F.lit("invalid_response"))
        .otherwise(F.lit("retry_exhausted"))
    )
    emitted = ev.select(
        F.concat(F.lit("src"), (F.col("user_id") % 4).cast("string")).alias(
            "source"
        ),
        F.col("event_type").alias("operation"),
        F.col("ts"),
        d.alias("event_id"),
        state.alias("state"),
        F.when(d % 5 != 0, (200 + (d % 3) * 100).cast("int")).alias(
            "status_code"
        ),
        (d % 4).cast("int").alias("retry_attempts"),
        F.when(d % 6 <= 1, (d % 50).cast("int")).alias("result_count"),
        (d % 7 == 0).alias("cache_hit"),
        F.when(d % 7 == 0, F.round(F.col("value"), 3)).alias(
            "cache_age_seconds"
        ),
    )
    latest = (
        emitted.groupBy("source", "operation")
        .agg(
            F.max(
                F.struct(
                    "ts", "event_id", "state", "status_code",
                    "retry_attempts", "result_count", "cache_hit",
                    "cache_age_seconds",
                )
            ).alias("m")
        )
        .select(
            "source",
            "operation",
            F.col("m.state").alias("state"),
            (~F.col("m.state").isin("ok", "no_results")).alias("degraded"),
            F.col("m.status_code").alias("status_code"),
            F.col("m.retry_attempts").alias("retry_attempts"),
            F.col("m.result_count").alias("result_count"),
            F.col("m.cache_hit").alias("cache_hit"),
            F.col("m.cache_age_seconds").alias("cache_age_seconds"),
        )
    )
    return latest.orderBy("source", "operation")


def _upstream_sql() -> str:
    state = ("CASE event_id % 6 WHEN 0 THEN 'ok' WHEN 1 THEN 'no_results' "
             "WHEN 2 THEN 'missing_credentials' "
             "WHEN 3 THEN 'upstream_unavailable' "
             "WHEN 4 THEN 'invalid_response' ELSE 'retry_exhausted' END")
    return f"""
WITH emitted AS (
  SELECT 'src' || CAST(user_id % 4 AS VARCHAR) AS source,
         event_type AS operation, ts, event_id,
         {state} AS state,
         CASE WHEN event_id % 5 <> 0
              THEN CAST(200 + (event_id % 3) * 100 AS INTEGER) END
           AS status_code,
         CAST(event_id % 4 AS INTEGER) AS retry_attempts,
         CASE WHEN event_id % 6 <= 1
              THEN CAST(event_id % 50 AS INTEGER) END AS result_count,
         event_id % 7 = 0 AS cache_hit,
         CASE WHEN event_id % 7 = 0 THEN round(value, 3) END
           AS cache_age_seconds
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source, operation
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM emitted
)
SELECT source, operation, state,
       state NOT IN ('ok', 'no_results') AS degraded,
       status_code, retry_attempts, result_count, cache_hit,
       cache_age_seconds
FROM ranked WHERE rn = 1
ORDER BY source, operation
"""


SCHEMA_QUERIES["upstream_status"] = q_upstream_status
SCHEMA_ORACLES["upstream_status"] = _upstream_sql()
