"""spark-submit entry point (north rule: launched by
`spark-submit --py-files dist/minicrawler_spark.zip` on a cluster).

    spark-submit --master local[8] \
        --py-files dist/minicrawler_spark.zip \
        minicrawler_spark/jobs/crawl_job.py \
        --seeds seeds.txt --output /tmp/out --checkpoint-dir /tmp/ck \
        --extract-links --dedup --respect-robots --max-depth 2

Seeds: one URL per line (blank lines / '#' comments skipped). The
--fetcher sets the clock: the default fixture web runs on the virtual
clock, and a real-network fetcher such as
`minicrawler_spark.sources.httpfetch:http_fetcher` spaces same-host
requests by --delay ms on the wall clock. Each round's task count
follows its row count. Results are written as parquet to --output;
per-round lineage metrics land in the frontier snapshots' summaries
and a JSON summary on stdout. The session is taken from spark-submit
via getOrCreate, so --master / --num-executors / --conf flow through
untouched; only spark.sql.shuffle.partitions is defaulted when unset.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="minicrawler-spark crawl job")
    p.add_argument("--seeds", required=True, help="text file, one URL/line")
    p.add_argument("--output", required=True, help="result parquet dir")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--timeout", type=int, default=5)
    p.add_argument("--delay", type=int, default=100)
    p.add_argument("--max-redirects", type=int, default=21)
    p.add_argument("--max-depth", type=int, default=3)
    p.add_argument("--max-rounds", type=int, default=64)
    p.add_argument("--per-host-budget", type=int, default=0)
    p.add_argument("--extract-links", action="store_true")
    p.add_argument("--dedup", action="store_true")
    p.add_argument("--respect-robots", action="store_true")
    p.add_argument("--convert-to-utf8", action="store_true")
    p.add_argument("--convert-to-text", action="store_true")
    p.add_argument("--username", default="")
    p.add_argument("--password", default="")
    p.add_argument("--agent", default="")
    p.add_argument(
        "--fetcher",
        default="minicrawler_spark.sources.fixtures:fixture_fetcher",
        help="module:function with the (method,url,headers,body)->"
             "(raw_bytes,delay_ms) contract; one whose module also has "
             "function_async (sources.httpfetch) crawls on the wall clock",
    )
    return p.parse_args(argv)


def load_seeds(path: str) -> list:
    seeds = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                seeds.append(line)
    return seeds


def main(argv=None):
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("minicrawler-spark-crawl")
    spark = builder.getOrCreate()
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )

    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    settings = CrawlSettings(
        timeout=args.timeout,
        delay=args.delay,
        max_redirects=args.max_redirects,
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        per_host_budget=args.per_host_budget,
        extract_links=args.extract_links,
        dedup=args.dedup,
        respect_robots=args.respect_robots,
        convert_to_utf8=args.convert_to_utf8,
        convert_to_text=args.convert_to_text,
        username=args.username,
        password=args.password,
        customagent=args.agent,
    )

    report: dict = {}
    results = crawl(
        spark,
        load_seeds(args.seeds),
        settings,
        fetcher_spec=args.fetcher,
        checkpoint_dir=args.checkpoint_dir,
        report=report,
    )
    results.write.mode("overwrite").parquet(args.output)

    written = spark.read.parquet(args.output)
    summary = {
        "results": written.count(),
        "rounds": len(report.get("rounds", [])),
        "by_outcome": {
            r["outcome"]: r["count"]
            for r in written.groupBy("outcome").count().collect()
        },
        "output": args.output,
    }
    print("CRAWL_JOB_SUMMARY " + json.dumps(summary, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
