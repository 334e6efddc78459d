"""spark-submit entry point for the crawl engine.

Usage:
    python scripts/package.py
    spark-submit --master local[8] \
        --py-files dist/earcrawler_spark.zip \
        scripts/crawl_job.py --state-dir /tmp/crawl --max-iters 2

On a cluster, swap --master and point --state-dir at shared storage; the
engine code ships in the zip (no cluster-side install).

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

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--max-iters", type=int, default=2)
    ap.add_argument("--wave-seconds", type=float, default=20.0)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("earcrawler-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from earcrawler_spark.crawler import synth
    from earcrawler_spark.crawler.runner import Crawler, CrawlConfig

    c = Crawler(
        spark, args.state_dir,
        CrawlConfig(wave_seconds=args.wave_seconds, max_iters=args.max_iters),
    )
    if not args.resume:
        c.init_seeds(synth.seed_list())
    m = c.run(max_iters=args.max_iters)
    print(json.dumps({"completed_iter": m["completed_iter"],
                      "chain_hash": m["chain_hash"],
                      "totals": m.get("totals")}))
    spark.stop()


if __name__ == "__main__":
    main()
