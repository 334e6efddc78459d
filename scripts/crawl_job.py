"""spark-submit entry point for the crawl engine.

Usage:
    python scripts/package.py
    spark-submit --master local[8] \
        --py-files dist/earcrawler_spark.zip \
        scripts/crawl_job.py --state-dir /tmp/crawl --max-iters 2

On a cluster, swap --master and point --state-dir at shared storage; the
engine code ships in the zip (no cluster-side install). The flags and
the printed summary are those of ``python -m earcrawler_spark.crawler.runner``.

The session here is built directly, not with ``session.get_spark``, so
the workers keep Spark's default daemon (``pyspark.daemon``).  The
package arrives by ``--py-files``, and workers add that zip to their path
per task, after the daemon has started; a daemon module inside the
package (``earcrawler_spark.pyworker``) could not be imported when the
daemon starts.  So these workers import pyspark from Spark's zip and pay
its per-task zip-directory re-read (see README, "Sessions and Python
workers").  The engine's static settings (``session.ENGINE_CONFS``,
among them the codegen cache size) are the same as ``get_spark``'s.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

if __name__ == "__main__":
    from earcrawler_spark.crawler import runner
    from earcrawler_spark.session import ENGINE_CONFS

    spark = SparkSession.builder.appName("earcrawler-crawl").config(map=ENGINE_CONFS).getOrCreate()

    runner.main(spark=spark)
    spark.stop()
