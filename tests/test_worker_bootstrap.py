"""Python-worker bootstrap: on a local master the workers import the
installed PySpark (the driver's), not the copy in Spark's ``pyspark.zip``,
keep no zipimporter for PySpark's per-task ``invalidate_caches()`` to
re-read, and import this package from any working directory."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile

import pandas as pd
import pyspark
from pyspark.sql import functions as F

from earcrawler_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    @F.pandas_udf("string")
    def worker_info(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        import pyspark

        info = json.dumps({
            "file": pyspark.__file__,
            "version": pyspark.__version__,
            "zipimporters": sorted(k for k, v in sys.path_importer_cache.items()
                                   if isinstance(v, zipimport.zipimporter)),
        })
        return s.map(lambda _: info)

    rows = spark.range(4).select(worker_info(F.col("id").cast("string")).alias("i")).collect()
    for info in {json.loads(r.i)["file"]: json.loads(r.i) for r in rows}.values():
        # a module inside an archive has a __file__ that is no file on disk
        assert os.path.isfile(info["file"]), info
        assert info["version"] == pyspark.__version__ == spark.version
        assert info["zipimporters"] == []


def _package(root, name: str) -> None:
    os.makedirs(os.path.join(root, name))
    with open(os.path.join(root, name, "__init__.py"), "w") as f:
        f.write("")


def test_select_path_drops_archives_when_pyspark_is_installed(tmp_path):
    site = str(tmp_path / "site")
    _package(site, "pyspark")
    _package(site, "py4j")
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
    missing = str(tmp_path / "python311.zip")  # no such file: not an archive entry
    assert pyworker.select_path(["", archive, missing, site]) == ["", missing, site]


def test_select_path_keeps_path_when_pyspark_is_only_in_an_archive(tmp_path):
    site = str(tmp_path / "site")
    _package(site, "py4j")
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
    path = [archive, site]
    assert pyworker.select_path(path) == [archive, site]


def test_package_init_imports_no_pyspark():
    """``python -m earcrawler_spark.pyworker`` imports the package's
    ``__init__`` before the entry drops the archives from sys.path."""
    with open(os.path.join(REPO, "earcrawler_spark", "__init__.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    modules = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    modules += [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    assert not [m for m in modules if m.split(".")[0] == "pyspark"]


_ANY_CWD_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from earcrawler_spark.crawler.canonicalize import canonical_url, canonicalize_one
from earcrawler_spark.session import get_spark
url = "HTTP://Example.COM:80/a/./b?utm_source=x&k=1#frag"
spark = get_spark("any-cwd", master="local[1]", shuffle_partitions=1)
row = spark.createDataFrame([(url,)], "u string").select(canonical_url("u").alias("c")).collect()
spark.stop()
print("RESULT", row[0].c == canonicalize_one(url), row[0].c)
"""


def test_package_udf_runs_from_any_working_directory(tmp_path):
    """A driver outside the repo, with the package only on its own
    sys.path and no PYTHONPATH, still runs the package's UDFs."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _ANY_CWD_DRIVER.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert proc.returncode == 0 and result, proc.stderr[-3000:]
    assert result[0].split()[1] == "True", result
