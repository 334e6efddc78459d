"""The query-side table contract: ``session.TABLE_SCHEMAS`` equals the
footer schema of every fixture, ``session.table`` reads with it and starts
no Spark job, a column the file lacks fails loudly instead of reading as
NULLs, and no other parquet reader exists in the package. Building a
registered query starts no more Spark jobs than its ceiling, and the rows
whose pins went leave no cached intermediate."""

from __future__ import annotations

import ast
import contextlib
import glob
import os

import pytest
from pyspark.sql import types as T

from earcrawler_spark.session import _SHARED, TABLE_SCHEMAS, table
from perfbench import sweep, tables
from tests.conftest import SF_MED, SF_SMALL

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "earcrawler_spark"
)
FIXTURE_DIRS = [SF_SMALL, SF_MED, os.path.join(os.path.dirname(SF_SMALL), "sf0.1")]
DOC_ROWS = [(1, "alpha beta", "en", "s1", 10), (2, "gamma", "de", "s2", 5)]


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory) -> str:
    """perfbench's seeded tables, written by its own generator."""
    return tables.write_tables(str(tmp_path_factory.mktemp("perfbench_tables")), 0.001, 7)


@contextlib.contextmanager
def _job_group(spark, group: str):
    """Run the block under job group ``group``; yields a callable that
    returns the number of jobs the group has started so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_declared_tables_are_the_fixture_tables():
    assert set(TABLE_SCHEMAS) == set(tables.TABLES)


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS + ["generated"])
def test_declared_schemas_match_footers(spark, sf_dir, generated_dir):
    """A fixture that drifts a type must fail here: the declared read
    never casts it silently."""
    sf_dir = generated_dir if sf_dir == "generated" else sf_dir
    for name, ddl in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert inferred == T.StructType.fromDDL(ddl), (sf_dir, name)


def test_unknown_table_raises_key_error(spark):
    with pytest.raises(KeyError):
        table(spark, FIXTURE_DIRS[0], "no_such_table")


def test_missing_column_raises(spark, tmp_path):
    spark.createDataFrame(
        [r[:2] + r[3:] for r in DOC_ROWS], "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    with pytest.raises(ValueError, match=r"'documents'.*documents\.parquet.*\['lang'\]"):
        table(spark, str(tmp_path), "documents")


def test_narrower_int_column_widens(spark, tmp_path):
    """n_chars written as int reads as the declared bigint, values kept;
    an extra column in the file is dropped, not an error."""
    spark.createDataFrame(
        [r + ("x",) for r in DOC_ROWS],
        "doc_id long, text string, lang string, source string, n_chars int, extra string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    df = table(spark, str(tmp_path), "documents")
    assert df.schema == T.StructType.fromDDL(TABLE_SCHEMAS["documents"])
    assert sorted(tuple(r) for r in df.collect()) == DOC_ROWS


def test_declared_reads_start_no_jobs(spark):
    sf_dir = FIXTURE_DIRS[0]
    with _job_group(spark, "declared-reads") as jobs:
        for name in TABLE_SCHEMAS:
            table(spark, sf_dir, name)
        assert jobs() == 0
    # the same reads without a schema each start an inference job, so the
    # zero above is not a blind counter
    for name in TABLE_SCHEMAS:
        with _job_group(spark, f"inferred-read-{name}") as jobs:
            spark.read.parquet(f"{sf_dir}/{name}.parquet")
            assert jobs() >= 1, name


def test_sweep_rows_build_without_jobs(spark):
    from earcrawler_spark.queries import QUERIES

    for name in sweep.ROWS:
        with _job_group(spark, f"build-{name}") as jobs:
            QUERIES[name](spark, FIXTURE_DIRS[0])
            assert jobs() == 0, name


# Jobs a row may start while it is built (sf0.001, the row alone in a fresh
# session); any row not listed builds with none. Building starts jobs only
# (a) inside an iterative loop, with the inputs it re-reads every round,
# (b) in the result pin of a session.shared_frame / shared_output build, or
# (c) at a fan-out waist whose pin an sf0.1 A/B showed to pay (the ratio is
# in the pin's comment).
BUILD_JOB_CEILINGS = {
    # (a) connected components (operators/reconcile.py); dedup_clusters
    # also (c) pins its LSH candidate set
    "connected_components": 22, "sparql_construct": 22, "dedup_clusters": 39,
    # (a) Lloyd k-means, inside the (b) ivf_centroids build
    "ann_ivf_lists": 23, "ann_ivf_search": 23, "semdedup": 23, "pq_codes": 13,
    # (a) BPE merges, inside the (b) bpe_train build
    "bpe_merges": 26, "bpe_segment": 26,
    # (a) the edge table the unrolled PageRank/HITS rounds re-read
    "link_pagerank": 4, "hits_scores": 4,
    # (b) decided_pairs, rag_context, scored_citations and the gate outputs
    "reconcile_v2": 20, "reconcile_summary": 20,
    "rag_context": 26, "context_lines": 26, "rag_context_kg": 26,
    "multihop_ablation": 40, "citation_scores_agg": 8, "eval_report": 98,
    "fr_coverage": 30, "groundedness_gate": 20, "groundedness_reasons": 6,
    # (c) fan-out waists
    "retrieval_compare": 14, "citation_boost": 11, "sparql_update": 7,
    "eval_schema_violations": 1, "id_consistency": 1,
}


def test_rows_build_within_job_ceilings(spark):
    from earcrawler_spark.queries import QUERIES

    assert set(BUILD_JOB_CEILINGS) <= set(QUERIES)
    over = {}
    for name, fn in QUERIES.items():
        with _job_group(spark, f"ceiling-{name}") as jobs:
            fn(spark, FIXTURE_DIRS[0])
            if jobs() > BUILD_JOB_CEILINGS.get(name, 0):
                over[name] = jobs()
    assert over == {}


def _cache_manager_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_unpinned_rows_leave_no_cache_entries(spark):
    """A ``.cache()`` frame stays in the CacheManager until unpersisted,
    so a row whose pins went must not cache an intermediate instead."""
    from earcrawler_spark.queries import QUERIES

    before = _cache_manager_entries(spark)
    for name in (
        "id_consistency", "graph_triangles", "dedup_clusters", "shape_violations",
        "eval_schema_violations", "cross_source_overlap", "anchor_text_agg",
    ):
        for _ in range(2):
            QUERIES[name](spark, FIXTURE_DIRS[0]).count()
        assert _cache_manager_entries(spark) == before, name

    # a shared_output build leaves its one pin and no intermediate
    for key in [k for k in _SHARED if k[2] == "fr_coverage"]:
        _SHARED.pop(key).unpersist()
    before = _cache_manager_entries(spark)
    QUERIES["fr_coverage"](spark, FIXTURE_DIRS[0]).count()
    assert _cache_manager_entries(spark) == before + 1


# -- one reader ----------------------------------------------------------

_HELPER_NAMES = {"_t", "_docs", "_emb"}


def _is_reader(node: ast.AST) -> bool:
    """True if ``node`` is (a chain of calls on) ``<x>.read``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def _reader_sites(source: str, filename: str) -> list[str]:
    """``read[...].parquet`` calls, each with its enclosing function, and
    module-level ``_t``/``_docs``/``_emb`` definitions, assignments or
    import aliases."""
    hits = []

    def visit(node: ast.AST, func: str) -> None:
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and _is_reader(node.func.value)
        ):
            hits.append((node.lineno, f"read.parquet in {func}"))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    tree = ast.parse(source, filename)
    visit(tree, "<module>")
    for node in tree.body:
        names = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.asname or a.name for a in node.names]
        hits += [(node.lineno, f"helper {n}") for n in names if n in _HELPER_NAMES]
    return [f"{filename}:{line} {what}" for line, what in sorted(hits)]


def test_guard_flags_parquet_readers_and_helpers():
    bad = (
        "spark.read.parquet(p)\n"
        "spark.read.schema(s).parquet(p)\n"
        "spark.read.option('k', 1).parquet(p)\n"
        "df.write.parquet(p)\n"  # a write, not a read
        "def _t(spark, sf_dir, name):\n"
        "    return table(spark, sf_dir, name)\n"
        "_docs = table\n"
        "from earcrawler_spark.session import table as _emb\n"
        "def table(spark, sf_dir, name):\n"
        "    return spark.read.schema(s).parquet(p)\n"
    )
    assert [h.split(" ", 1)[1] for h in _reader_sites(bad, "x.py")] == [
        "read.parquet in <module>", "read.parquet in <module>", "read.parquet in <module>",
        "helper _t", "helper _docs", "helper _emb", "read.parquet in table",
    ]


def test_one_parquet_reader_in_package():
    """Every table read goes through session.table; the crawl state keeps
    its own declared-schema reader."""
    hits = []
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG_DIR)
        if rel == os.path.join("crawler", "state.py"):
            continue
        with open(path, encoding="utf-8") as f:
            hits += _reader_sites(f.read(), rel)
    assert [f"{h.split(':')[0]} {h.split(' ', 1)[1]}" for h in hits] == [
        "session.py read.parquet in table"
    ]
