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
byte-equivalent (proven by tests/test_crawler_resume.py).

On a production deployment every append-only table here is an Iceberg
table (snapshot = manifest) and `seen` is MERGE'd; the store keeps that
swap behind ``read_all`` / ``write_delta`` so the engine code is
layout-agnostic.
"""

from __future__ import annotations

import json
import os
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
    # Generations: rewrites of an already-committed snapshot (compaction,
    # seen-set expiry) NEVER overwrite the directory readers are sourcing.
    # They write to a fresh `...-gN` sibling; the manifest's "gens" map is
    # flipped in the same atomic manifest write that commits the rewrite;
    # superseded directories are deleted only after that commit. A crash
    # at any point leaves the previously-committed snapshot fully intact.

    def _iter_dir(self, table: str, iteration: int, gen: int = 0) -> str:
        name = f"iter={iteration:05d}" + (f"-g{gen}" if gen else "")
        return os.path.join(self.dir, table, name)

    def _gen_of(self, m: dict, table: str, kind: str, iteration: int) -> int:
        return m.get("gens", {}).get(f"{table}:{kind}:{iteration}", 0)

    def fresh_gen(self, table: str, kind: str, iteration: int) -> int:
        """Smallest generation whose directory does not exist yet."""
        path_fn = self._base_dir if kind == "base" else self._iter_dir
        gen = 0
        while os.path.exists(path_fn(table, iteration, gen)):
            gen += 1
        return gen

    def write(self, table: str, iteration: int, df: DataFrame, n_files: int | None = None) -> None:
        if n_files is not None and n_files > 0:
            df = df.coalesce(n_files)
        df.write.mode("overwrite").parquet(self._iter_dir(table, iteration))

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
        import shutil

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

    def _base_dir(self, table: str, upto: int, gen: int = 0) -> str:
        name = f"base={upto:05d}" + (f"-g{gen}" if gen else "")
        return os.path.join(self.dir, table, name)

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

    def compact(self, tables: tuple[str, ...] = APPEND_TABLES, n_files: int = 8) -> dict:
        """Compact append-only deltas into one base snapshot per table
        (Iceberg rewrite_data_files analog). Crash-safe: the base dir is
        written first; the manifest update is the commit point; old
        delta dirs are removed only after it. A crash in between leaves
        both base and deltas readable (read_all prefers base + tail).
        """
        import shutil

        m = self.manifest()
        upto = m["completed_iter"]
        compacted = dict(m.get("compacted", {}))
        gens = dict(m.get("gens", {}))
        for table in tables:
            df = self.read_all(table, upto)
            if df is None:
                continue
            # fresh generation: never overwrite a directory read_all may be
            # sourcing (the old base at the same iteration in particular)
            gen = self.fresh_gen(table, "base", upto)
            df.coalesce(n_files).write.mode("overwrite").parquet(
                self._base_dir(table, upto, gen)
            )
            compacted[table] = upto
            gens[f"{table}:base:{upto}"] = gen
        m["compacted"] = compacted
        m["gens"] = gens
        self._write_manifest(m)  # the commit point
        # post-commit cleanup of superseded deltas + old bases
        self.cleanup_superseded(tables)
        return compacted

    def cleanup_superseded(self, tables: tuple[str, ...]) -> None:
        """Delete delta dirs covered by a committed base and base dirs
        other than the committed generation. Safe to re-run; only reads
        the committed manifest."""
        import shutil

        m = self.manifest()
        for table in tables:
            upto_t = m.get("compacted", {}).get(table, -1)
            if upto_t < 0:
                continue
            keep = os.path.basename(
                self._base_dir(table, upto_t, self._gen_of(m, table, "base", upto_t))
            )
            for i in range(upto_t + 1):
                shutil.rmtree(self._iter_dir(table, i), ignore_errors=True)
            tdir = os.path.join(self.dir, table)
            if os.path.isdir(tdir):
                for d in os.listdir(tdir):
                    if d.startswith("base=") and d != keep:
                        shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
