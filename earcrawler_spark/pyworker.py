"""Python-daemon entry for local masters: workers import the installed
PySpark, not the copy inside Spark's ``pyspark.zip``.

The JVM puts ``pyspark.zip``, py4j's zip and the spark-core jar first on
the workers' PYTHONPATH.  PySpark's per-task setup
(``worker_util.setup_spark_files``) calls ``importlib.invalidate_caches()``,
and on CPython 3.11 that makes every cached ``zipimporter`` re-read its
archive's whole central directory: 16 importers over the 1328-entry zip,
about 0.25 s of CPU per task before it reads a row.  Run as
``python -m earcrawler_spark.pyworker`` (``session.get_spark`` sets it as
``spark.python.daemon.module``), this drops the archives from ``sys.path``
before pyspark is imported, so no worker ever caches a zipimporter, and
then runs PySpark's own daemon.  When pyspark or py4j is installed only
in an archive, ``sys.path`` is kept as it was.

Python imports ``earcrawler_spark/__init__.py`` before this module runs,
so that file must not import pyspark (tests/test_worker_bootstrap.py).
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def select_path(path: list[str]) -> list[str]:
    """``path`` without its archive entries (files, not directories) if
    pyspark and py4j both resolve from what remains, else ``path``."""
    dirs = [p for p in path if not os.path.isfile(p)]
    if all(PathFinder.find_spec(name, dirs) for name in ("pyspark", "py4j")):
        return dirs
    return path


if __name__ == "__main__":
    kept = select_path(sys.path)
    for dropped in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(dropped, None)
    sys.path[:] = kept

    import pyspark.daemon

    pyspark.daemon.manager()
