"""Checkpointed crawl state with per-iteration deltas + atomic manifest.

Layout (one directory per run):

    state_dir/
      manifest.json                 # {"completed_iter": N, "chain_hash": …}
      frontier/iter=NNNNN/          # full rewrite per iteration
      seen/iter=NNNNN/              # append-only url_hash deltas
      content_seen/iter=NNNNN/      # append-only content-hash deltas
      bloom/iter=NNNNN/             # (shard, bits) — full rewrite
      robots/iter=NNNNN/            # full rewrite (host rules cache)
      documents/iter=NNNNN/         # append-only crawled docs (spans)
      visits/iter=NNNNN/            # append-only ordered visit log
      metrics/iter=NNNNN/           # append-only per-partition lineage

Every table has a declared schema (``SCHEMAS``): reads pass it to the
parquet reader, so no read pays a footer schema-inference job, and
driver-built frames (seed frontier, robots rows, filter shards) go
through ``arrow_frame`` — an Arrow-backed LocalRelation whose scans stay
in the JVM, with no pickled rows and no Python-worker scan.

Crash safety: an iteration's directories are written first; the manifest
(update via write-temp + atomic rename) is the commit point. A run killed
mid-iteration resumes from the last committed manifest and recomputes the
partial iteration from identical inputs — determinism makes the redo
byte-equivalent (tests/test_crawler_engine.py::test_resume_reconverges).
Rewrites of committed state (compaction's ``base=NNNNN`` snapshots,
seen-set expiry) all go through ``CrawlState.rewrite``.

On a production deployment every append-only table here is an Iceberg
table (snapshot = manifest) and `seen` is MERGE'd; the store keeps that
swap behind ``read_all``, ``write`` and ``rewrite`` so the engine code is
layout-agnostic.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from earcrawler_spark.crawler.bloom import FILTER_SCHEMA
from earcrawler_spark.crawler.cache import CACHE_SCHEMA
from earcrawler_spark.crawler.spans import SPANS_SCHEMA

APPEND_TABLES = ("seen", "content_seen", "documents", "visits", "metrics")
FULL_TABLES = ("frontier", "bloom", "robots", "fetch_cache")

# Crawler writes are coalesced to this many files per table per
# iteration: at sandbox scale 96-way writes mean ~300 tiny-file commit
# renames per wave, which dominates wall time. On a cluster with a real
# object store you'd raise this to the write parallelism you want.
WRITE_PARTITIONS = 8

FRONTIER_SCHEMA = "url string, url_hash string, host string, priority int, seq bigint"
# What each table's writer produces, as parquet reads it back (every field
# nullable). tests/test_crawl_state_contract.py pins writers to these.
SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "seen": "url_hash string, url string, iter int",
    "content_seen": "content_hash string",
    "bloom": FILTER_SCHEMA,
    "robots": "host string, disallow_prefixes array<string>, crawl_delay double",
    "fetch_cache": CACHE_SCHEMA,
    "documents": f"doc_id string, url_hash string, content_hash string, spans {SPANS_SCHEMA}, iter int",
    "visits": "iter int, url string, url_hash string, host string, priority int, seq bigint, "
              "status int, content_hash string",
    "metrics": "part_id int, n_fetched bigint, n_ok bigint, n_attempts bigint, n_links bigint, iter int",
}


def arrow_frame(
    spark: SparkSession, columns: Mapping[str, Sequence], schema: str | T.StructType
) -> DataFrame:
    """Driver-side columns as an Arrow-backed frame (a LocalRelation:
    scans stay in the JVM, no pickled rows). Built through pyarrow, not
    pandas, so empty list/binary columns keep their declared types."""
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    table = pa.Table.from_pydict(dict(columns), schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)


def crawl_report(state_dir: str) -> list[dict]:
    """The committed waves' stats records of the crawl in ``state_dir``,
    in iteration order, each with its "iter": the stage counts `totals`
    does not carry (rows into and out of dequeue, parse, content dedup,
    link expansion and the seen-filter probe), the filter's live
    false-positive rate and the probe mode. The manifest keeps `totals`
    and `stage_secs` for the last committed wave only; they join its
    record. Reads the manifest only; starts no Spark job."""
    path = os.path.join(state_dir, "manifest.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        m = json.load(f)
    records = m.get("wave_stats", {})
    report = [{"iter": i, **records[str(i)]}
              for i in range(1, m["completed_iter"] + 1) if str(i) in records]
    if report and report[-1]["iter"] == m["completed_iter"]:
        report[-1].update(m["totals"], stage_secs=m["stage_secs"])
    return report


class CrawlState:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- manifest -----------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.json")

    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"completed_iter": -1, "chain_hash": ""}
        with open(self._manifest_path) as f:
            return json.load(f)

    # durable manifest keys that survive per-iteration commits
    _STICKY_KEYS = ("compacted", "gens", "filter_config")

    def commit(self, iteration: int, chain_hash: str, extra: dict | None = None) -> None:
        prev = self.manifest()
        m = {
            **{k: v for k, v in prev.items() if k in self._STICKY_KEYS},
            "completed_iter": iteration,
            "chain_hash": chain_hash,
            **(extra or {}),
        }
        self._write_manifest(m)

    def _write_manifest(self, m: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(m, f, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # -- table io -----------------------------------------------------
    # Generations: a rewrite of an already-committed snapshot writes a
    # fresh `...-gN` sibling, and the manifest's "gens" map names the
    # committed one; ``rewrite`` is the one place that happens.

    def _dir(self, table: str, kind: str, iteration: int, gen: int = 0) -> str:
        """``kind`` "iter": an iteration's snapshot or delta; "base": a
        compacted base covering the deltas through ``iteration``."""
        name = f"{kind}={iteration:05d}" + (f"-g{gen}" if gen else "")
        return os.path.join(self.dir, table, name)

    def _iter_dir(self, table: str, iteration: int, gen: int = 0) -> str:
        return self._dir(table, "iter", iteration, gen)

    def _base_dir(self, table: str, upto: int, gen: int = 0) -> str:
        return self._dir(table, "base", upto, gen)

    def _gen_of(self, m: dict, table: str, kind: str, iteration: int) -> int:
        return m.get("gens", {}).get(f"{table}:{kind}:{iteration}", 0)

    def fresh_gen(self, table: str, kind: str, iteration: int) -> int:
        """Smallest generation whose directory does not exist yet."""
        gen = 0
        while os.path.exists(self._dir(table, kind, iteration, gen)):
            gen += 1
        return gen

    def write(self, table: str, iteration: int, df: DataFrame, n_files: int | None = None) -> str:
        """Write an iteration's snapshot or delta. → its directory."""
        path = self._iter_dir(table, iteration)
        if n_files is not None and n_files > 0:
            df = df.coalesce(n_files)
        df.write.mode("overwrite").parquet(path)
        return path

    def read(self, table: str, *paths: str) -> DataFrame:
        """The given snapshot directories of ``table``, read with its
        declared schema."""
        return self.spark.read.schema(SCHEMAS[table]).parquet(*paths)

    def latest_path(self, table: str, upto_iter: int) -> str | None:
        """Directory of the latest full-rewrite snapshot of a FULL_TABLES
        table (at the manifest-committed generation for each iteration)."""
        m = self.manifest()
        for i in range(upto_iter, -1, -1):
            p = self._iter_dir(table, i, self._gen_of(m, table, "iter", i))
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                return p
        return None

    def read_latest(self, table: str, upto_iter: int) -> DataFrame | None:
        p = self.latest_path(table, upto_iter)
        return None if p is None else self.read(table, p)

    def expire(self, upto_iter: int, keep_full_last: int = 1) -> list[str]:
        """Retention GC (reference utils/retention.py:77-130 age-based
        deletion): full-rewrite tables only need their latest snapshot —
        drop iteration dirs older than the last ``keep_full_last``
        committed ones. Append-only tables are history and are kept
        (Iceberg snapshot expiry would handle both).

        Returns the deleted directory paths."""
        assert keep_full_last >= 1
        m = self.manifest()
        deleted: list[str] = []
        for table in FULL_TABLES:
            committed = [
                i
                for i in range(upto_iter + 1)
                if os.path.exists(
                    os.path.join(
                        self._iter_dir(table, i, self._gen_of(m, table, "iter", i)),
                        "_SUCCESS",
                    )
                )
            ]
            keep_names = {
                os.path.basename(
                    self._iter_dir(table, i, self._gen_of(m, table, "iter", i))
                )
                for i in committed[-keep_full_last:]
            }
            tdir = os.path.join(self.dir, table)
            if not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if not d.startswith("iter=") or d in keep_names:
                    continue
                try:
                    iter_num = int(d.split("=")[1].split("-")[0])
                except (IndexError, ValueError):
                    continue
                if iter_num <= upto_iter:
                    path = os.path.join(tdir, d)
                    shutil.rmtree(path, ignore_errors=True)
                    deleted.append(path)
        return deleted

    def read_all(self, table: str, upto_iter: int) -> DataFrame | None:
        """Union of committed deltas of an APPEND_TABLES table — a
        compacted base (if the manifest records one) plus the deltas
        after it, so read fan-in stays bounded over long crawls."""
        m = self.manifest()
        base_iter = m.get("compacted", {}).get(table, -1)
        paths = []
        if base_iter >= 0 and base_iter <= upto_iter:
            base = self._base_dir(
                table, base_iter, self._gen_of(m, table, "base", base_iter)
            )
            if os.path.exists(os.path.join(base, "_SUCCESS")):
                paths.append(base)
        paths += [
            self._iter_dir(table, i)
            for i in range(base_iter + 1, upto_iter + 1)
            if os.path.exists(os.path.join(self._iter_dir(table, i), "_SUCCESS"))
        ]
        if not paths:
            return None
        return self.read(table, *paths)

    def compact(self, tables: tuple[str, ...] = APPEND_TABLES, n_files: int = WRITE_PARTITIONS) -> dict:
        """Compact append-only deltas into one base snapshot per table
        (Iceberg rewrite_data_files analog), through ``rewrite``."""
        upto = self.manifest()["completed_iter"]
        frames = {}
        for table in tables:
            df = self.read_all(table, upto)
            if df is not None:
                frames[table] = df.coalesce(n_files)
        return self.rewrite(upto, frames)["compacted"]

    def rewrite(self, upto: int, frames: Mapping[str, DataFrame]) -> dict:
        """Replace each table's committed state at ``upto`` with its frame:
        an APPEND_TABLES table's deltas through ``upto`` by one compacted
        base, a FULL_TABLES table's snapshot at ``upto`` by a new
        generation of it. Compaction and seen-set expiry both commit here.

        Crash-safe: each frame is written to a fresh generation directory,
        never over one a reader (or the frame itself) may be sourcing; one
        manifest write flips every "gens" entry and commits them all; only
        then are the directories they supersede deleted: the deltas and
        every other base of a compacted table, every other generation of
        a rewritten snapshot. A crash before the manifest write leaves the
        previous state intact. → the committed manifest."""
        m = self.manifest()
        compacted = m.setdefault("compacted", {})
        gens = m.setdefault("gens", {})
        keep = {}
        for table, df in frames.items():
            kind = "base" if table in APPEND_TABLES else "iter"
            gen = self.fresh_gen(table, kind, upto)
            keep[table] = self._dir(table, kind, upto, gen)
            df.write.mode("overwrite").parquet(keep[table])
            gens[f"{table}:{kind}:{upto}"] = gen
            if kind == "base":
                compacted[table] = upto
        self._write_manifest(m)  # the commit point
        for table, path in keep.items():
            tdir = glob.escape(os.path.join(self.dir, table))
            if table in APPEND_TABLES:
                doomed = glob.glob(os.path.join(tdir, "base=*"))
                doomed += [self._iter_dir(table, i) for i in range(upto + 1)]
            else:
                doomed = glob.glob(os.path.join(tdir, f"iter={upto:05d}*"))
            for d in doomed:
                if d != path:
                    shutil.rmtree(d, ignore_errors=True)
        return m
