"""Crawl-state contracts: every table's writer matches the schema that
``state.SCHEMAS`` declares for its reads, the driver-side frames are
Arrow-built (no pickled rows, no RDD conversions on the crawler path),
the seen filter's Spark kernels stay behind bloom.py, the snapshot
layout and its rewrite protocol stay behind state.py, and the shard map
a crawler keeps between waves never outlives the filter snapshot it was
written as."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pytest
from pyspark.sql import types as T

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.bloom import probe_hashes
from earcrawler_spark.crawler.robots import ROBOTS_SCHEMA, fetch_robots
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig
from earcrawler_spark.crawler.state import SCHEMAS, CrawlState

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "earcrawler_spark"
)
CRAWLER_DIR = os.path.join(PKG_DIR, "crawler")


def _snapshot_dirs(state_dir: str, table: str) -> list[str]:
    return sorted(
        d for d in glob.glob(os.path.join(state_dir, table, "*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )


def test_written_tables_match_declared_schemas(spark, tmp_path):
    """A writer that drifts a type must fail here, not turn into NULLs
    under a declared-schema read: footer inference on every snapshot
    equals the declared schema."""
    c = Crawler(
        spark, str(tmp_path / "s"),
        CrawlConfig(max_iters=1, n_partitions=4, cache_ttl_iters=5),
    )
    c.init_seeds(synth.seed_list())
    c.run(max_iters=1)
    c.expire_seen(older_than_iter=1)  # seen base + a bloom generation
    for table, ddl in SCHEMAS.items():
        dirs = _snapshot_dirs(c.state.dir, table)
        assert dirs, table
        for d in dirs:
            assert spark.read.parquet(d).schema == T.StructType.fromDDL(ddl), d


def test_fetch_robots_empty_host_list(spark):
    df = fetch_robots(spark, [], synth.robots_txt)
    assert df.schema == ROBOTS_SCHEMA
    assert df.collect() == []


def test_empty_seed_list(spark, tmp_path):
    c = Crawler(spark, str(tmp_path / "e"), CrawlConfig(max_iters=2, n_partitions=4))
    c.init_seeds([])
    for table in ("frontier", "seen", "bloom", "robots"):
        d = _snapshot_dirs(c.state.dir, table)[0]
        assert spark.read.parquet(d).schema == T.StructType.fromDDL(SCHEMAS[table])
    assert c.state.read_latest("frontier", 0).collect() == []
    assert c.run()["completed_iter"] == 0  # nothing to crawl


def test_non_ascii_disallow_prefixes_round_trip(spark, tmp_path):
    txt = "User-agent: *\nDisallow: /ünïcødé\nDisallow: /日本/\nCrawl-delay: 2"
    state = CrawlState(spark, str(tmp_path / "r"))
    state.write("robots", 0, fetch_robots(spark, ["xn--d1acufc.example"], lambda h: txt))
    [row] = state.read_latest("robots", 0).collect()
    assert row["host"] == "xn--d1acufc.example"
    assert row["disallow_prefixes"] == ["/ünïcødé", "/日本/"]
    assert row["crawl_delay"] == 2.0


# -- no pickled rows on the crawler path --------------------------------

_LITERAL_ROWS = (ast.List, ast.Tuple, ast.Set, ast.ListComp, ast.SetComp, ast.GeneratorExp)


def _pickled_row_sites(source: str, filename: str) -> list[str]:
    """``.rdd`` accesses and ``createDataFrame`` calls whose data is a
    list/tuple/comprehension literal — each scan of such a frame runs
    Python workers."""
    hits = []
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Attribute) and node.attr == "rdd":
            hits.append((node.lineno, ".rdd"))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if isinstance(data, _LITERAL_ROWS):
                hits.append((node.lineno, "createDataFrame(<literal rows>)"))
    return [f"{filename}:{line} {what}" for line, what in sorted(hits)]


def test_guard_flags_pickled_row_frames():
    bad = (
        "df.rdd.isEmpty()\n"
        "spark.createDataFrame([], 'a int')\n"
        "spark.createDataFrame(data=[(s, b) for s, b in m], schema='a int')\n"
        "spark.createDataFrame(pdf, 'a int')\n"
    )
    assert [h.split(" ", 1)[1] for h in _pickled_row_sites(bad, "x.py")] == [
        ".rdd", "createDataFrame(<literal rows>)", "createDataFrame(<literal rows>)",
    ]


def test_crawler_has_no_pickled_row_frames():
    hits = []
    for path in sorted(glob.glob(os.path.join(CRAWLER_DIR, "*.py"))):
        with open(path, encoding="utf-8") as f:
            hits += _pickled_row_sites(f.read(), os.path.basename(path))
    assert hits == []


# -- bloom.py owns every seen-filter kernel -----------------------------

_KERNEL_NAMES = {"applyInPandas", "cogroup", "pandas_udf", "conv"}


def _filter_kernel_sites(source: str, filename: str) -> list[str]:
    """Spark constructs of the seen-filter kernels: ``applyInPandas``,
    ``cogroup``, ``pandas_udf``, ``sparkContext.broadcast`` and ``conv``
    (the JVM shard-id expression) — as attributes, names or imports."""
    hits = []
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Attribute) and node.attr in _KERNEL_NAMES:
            hits.append((node.lineno, node.attr))
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "broadcast"
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "sparkContext"
        ):
            hits.append((node.lineno, "sparkContext.broadcast"))
        elif isinstance(node, ast.Name) and node.id in _KERNEL_NAMES:
            hits.append((node.lineno, node.id))
        elif isinstance(node, ast.alias) and node.name in _KERNEL_NAMES:
            hits.append((node.lineno, f"import {node.name}"))
    return [f"{filename}:{line} {what}" for line, what in sorted(hits)]


def test_guard_flags_filter_kernels():
    bad = (
        "df.groupBy('s').applyInPandas(f, 'a int')\n"
        "a.groupBy('s').cogroup(b.groupBy('s'))\n"
        "@F.pandas_udf('boolean')\n"
        "def f(s): return s\n"
        "spark.sparkContext.broadcast({})\n"
        "F.conv(F.substring('url_hash', 1, 8), 16, 10)\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "df.join(F.broadcast(small), 'host')\n"  # a join hint, not a filter kernel
    )
    assert [h.split(" ", 1)[1] for h in _filter_kernel_sites(bad, "x.py")] == [
        "applyInPandas", "cogroup", "pandas_udf", "sparkContext.broadcast", "conv",
        "import pandas_udf",
    ]


def test_filter_kernels_live_in_bloom():
    """The runner only picks a kernel; the filter format, its Spark plans
    and the one JVM shard-id expression stay behind bloom.py."""
    sites = {}
    for name in ("runner.py", "bloom.py"):
        with open(os.path.join(CRAWLER_DIR, name), encoding="utf-8") as f:
            sites[name] = _filter_kernel_sites(f.read(), name)
    assert sites["runner.py"] == []
    assert len([h for h in sites["bloom.py"] if h.endswith(" conv")]) == 1


# -- state.py owns the snapshot layout and its rewrite protocol ---------

_STATE_PRIVATES = {"_iter_dir", "_base_dir", "_write_manifest", "fresh_gen"}


def _state_private_sites(source: str, filename: str) -> list[str]:
    """References to CrawlState's directory layout and manifest writer —
    as attributes, names or imports."""
    hits = []
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Attribute) and node.attr in _STATE_PRIVATES:
            hits.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in _STATE_PRIVATES:
            hits.append((node.lineno, node.id))
        elif isinstance(node, ast.alias) and node.name in _STATE_PRIVATES:
            hits.append((node.lineno, f"import {node.name}"))
    return [f"{filename}:{line} {what}" for line, what in sorted(hits)]


def test_guard_flags_state_privates():
    bad = (
        "p = self.state._iter_dir('bloom', upto, gen)\n"
        "gen = state.fresh_gen('seen', 'base', upto)\n"
        "self.state._write_manifest(m)\n"
        "from earcrawler_spark.crawler.state import _base_dir\n"
        "path = self.state.write('bloom', it, df)\n"  # the public writer
    )
    assert [h.split(" ", 1)[1] for h in _state_private_sites(bad, "x.py")] == [
        "_iter_dir", "fresh_gen", "_write_manifest", "import _base_dir",
    ]


def test_state_layout_lives_in_state():
    """Every rewrite of committed state (compaction, seen-set expiry) goes
    through CrawlState.rewrite; no other package module names a snapshot
    directory or writes the manifest. Tests stay exempt: they simulate
    crashes between the protocol's stages."""
    hits = []
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG_DIR)
        if rel == os.path.join("crawler", "state.py"):
            continue
        with open(path, encoding="utf-8") as f:
            hits += _state_private_sites(f.read(), rel)
    assert hits == []


# -- the kept filter never outlives its snapshot ------------------------


def _filter_probe(c: Crawler, hashes: list[str]):
    blooms = c._load_bloom(c.state.manifest()["completed_iter"])
    return probe_hashes(hashes, blooms, c.cfg.n_shards, c.cfg.seen_filter)


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_wave_after_expire_matches_fresh_resume(spark, tmp_path, kind):
    """A wave run on the crawler that just expired its seen set must see
    the rebuilt filter, exactly like a fresh Crawler resumed on a copy of
    the state dir — not the shard map it kept from its last wave."""
    cfg = dict(max_iters=3, n_partitions=4, seen_filter=kind)
    a = Crawler(spark, str(tmp_path / f"a_{kind}"), CrawlConfig(**cfg))
    a.init_seeds(synth.seed_list())
    # steady state: the filter just written is served without a read
    assert a._load_bloom(0) is a._kept_filter[1]
    a.run(max_iters=2)
    old = {r["url_hash"] for r in a.seen_set().collect() if r["iter"] < 2}
    a.expire_seen(older_than_iter=2)
    shutil.copytree(a.state.dir, str(tmp_path / f"b_{kind}"))

    ma = a.run(max_iters=3)
    b = Crawler(spark, str(tmp_path / f"b_{kind}"), CrawlConfig(**cfg))
    mb = b.run(max_iters=3)
    assert ma["completed_iter"] == mb["completed_iter"] == 3
    assert ma["chain_hash"] == mb["chain_hash"]
    seen_a = {r["url_hash"] for r in a.seen_set().collect()}
    assert seen_a == {r["url_hash"] for r in b.seen_set().collect()}
    # expired and not re-discovered: gone from the written filter (a
    # stale kept map would still hold every one of them)
    ghosts = sorted(old - seen_a)
    assert ghosts
    for c in (a, b):
        assert _filter_probe(c, ghosts).mean() < 0.1
    if kind == "bloom":  # bit-OR build: bytes are order-independent
        assert a._load_bloom(3) == b._load_bloom(3)
