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
workers").
"""

from __future__ import annotations

from pyspark.sql import SparkSession

if __name__ == "__main__":
    spark = (
        SparkSession.builder.appName("earcrawler-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from earcrawler_spark.crawler import runner

    runner.main(spark=spark)
    spark.stop()
