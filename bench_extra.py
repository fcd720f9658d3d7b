"""Extra benchmarks for the r6 optimization round (guide §1.4):
noop-sink isolation of the stages inside the heavy queries, so the
OPTIMIZATION_r06.md numbers are reproducible. Does NOT replace
bench.py (frozen for measurement); prints one JSON line with
per-stage seconds.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import time


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[%d]" % cpus)
        .appName("minicrawler-spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from minicrawler_spark.operators import dedup as D

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    timings = {}

    def t(label, mk):
        # mk is a thunk: iterative operators (dup_clusters) run their
        # driver loop eagerly at construction, so construction must
        # sit inside the timed region
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        mk().write.format("noop").mode("overwrite").save()
        timings[label] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    # warm the JVM + python workers so stage deltas are comparable
    t("warmup_sigs", lambda: D.minhash_signatures(docs))

    # --- minhash_dup_pairs stage isolation ---
    t("minhash_sigs", lambda: D.minhash_signatures(docs))
    t("minhash_pairs_t05",
      lambda: D.minhash_dup_pairs(docs, threshold=0.5))
    t("minhash_pairs_t09",
      lambda: D.minhash_dup_pairs(docs, threshold=0.9))

    # --- connected components on a materialized pair set ---
    pairs = D.minhash_dup_pairs(docs, threshold=0.9).localCheckpoint(
        eager=True
    )
    n_edges = pairs.count()
    timings["cc_edges"] = n_edges
    t("cc", lambda: D.dup_clusters(pairs, assume_canonical=True))

    # --- the other reworked operators ---
    t("ngram_jaccard", lambda: D.ngram_jaccard_pairs(docs))
    t("simhash", lambda: D.simhash(docs))
    t("simhash_pairs", lambda: D.simhash_dup_pairs(docs))
    t("exact_dedup", lambda: D.exact_dedup(docs))
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    t("embed_near_dups",
      lambda: D.embedding_near_dups(emb, threshold=0.45))

    print(json.dumps({"metric": "r6 stage isolation", "unit": "sec",
                      "sf_dir": sf_dir, "cpus": cpus,
                      "stages": timings}))


if __name__ == "__main__":
    main()
