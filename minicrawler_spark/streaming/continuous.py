"""Continuous crawling on Structured Streaming — the SURVEY §2.10
extension (the reference is a bounded batch over argv; this mode runs
the same round logic incrementally, micro-batch per frontier slice).

Topology:

    {frontier_dir}/*.tsv  --readStream-->  foreachBatch(round)
          ^                                   |         |
          |   discovered links (depth+1)      |         v
          +-----------------------------------+   {output_dir} parquet

- the frontier is a FILE STREAMING SOURCE of tab-separated
  `depth \t url` lines; discovered links are written back into the
  same directory, so BFS happens through the stream itself (each
  wave is a new micro-batch) and Spark's checkpointLocation tracks
  which frontier files are already consumed — restart-safe offsets,
- URL-seen state persists across batches (and restarts) in the
  bloom-sharded SeenFilter (plans/seen.py) under the checkpoint dir,
- per-host state (host_count for cross-batch host_seq, host_err)
  persists through the SnapshotCatalog table "host_stats", and robots
  rules through the table "robots",
- each micro-batch runs the batch crawl's round gates, the same
  private helpers of crawl.py: seen gate, robots step (the UDF at one
  task per core), crawl_round (window politeness, host-salted
  repartition, mapInPandas fetch), result rows, host-stats merge and
  discovered links. Redirects and auth retries finish inside the
  fetch stage, so nothing but links and budget-deferred rows returns
  to the frontier. What is the stream's own: one row per URL within
  a micro-batch and the per-host budget cut, both before the seen
  gate, the catalog reads and commits, the denied sink, the WARC
  archive and the TSV feedback.

`applyInPandasWithState` is the alternative for per-host state; the
foreachBatch formulation is chosen because the frontier feedback loop
(links -> new source files) needs a sink side-effect anyway, and
state lives in storage (restartable) rather than executor memory.
"""

from __future__ import annotations

import dataclasses
import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlSettings
from ..plans.snapshots import SnapshotCatalog
from .crawl import (
    ROBOTS_SCHEMA,
    _canonicalize_df,
    _discovered_links,
    _frontier_rows,
    _merge_host_stats,
    _robots_step,
    _round_partitions,
    _round_results,
    _seen_gate,
    _split_valid,
    crawl_round,
    finalize_results,
    resolve_async_fetcher,
)

HOST_STATS_SCHEMA = "host string, host_count long, host_err long"


def write_seeds(frontier_dir: str, urls, depth: int = 0) -> str:
    """Drop a frontier file (depth\\turl per line) into the stream."""
    os.makedirs(frontier_dir, exist_ok=True)
    name = os.path.join(
        frontier_dir, "seeds-%s.tsv" % uuid.uuid4().hex[:12]
    )
    tmp = name + ".tmp"
    with open(tmp, "w") as f:
        for u in urls:
            f.write("%d\t%s\n" % (depth, u))
    os.replace(tmp, name)  # atomic: the file source never sees partials
    return name


def crawl_stream(
    spark: SparkSession,
    frontier_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    settings: Optional[CrawlSettings] = None,
    fetcher_spec: str = "minicrawler_spark.sources.fixtures:fixture_fetcher",
    trigger_seconds: float = 1.0,
    archive_dir: Optional[str] = None,
    archive_partitions: int = 8,
):
    """Start the continuous crawl; returns the StreamingQuery.

    `fetcher_spec` is resolved before the stream starts and sets the
    clock, as in crawl() (resolve_async_fetcher).

    `archive_dir`: when given, every micro-batch's done pages are
    ALSO archived as rolled .warc.gz files there (sources/warc.py
    write_warc) before bodies are dropped from the parquet results —
    the streaming twin of the batch crawl->archive pipeline.
    Idempotent across epoch replays: the batch is deterministically
    repartitioned (fixed `archive_partitions` count, hash of url)
    and sorted within partitions before writing, so a replayed
    epoch — even on a restarted cluster with different parallelism —
    produces the same per-file record sets, hence the same
    content-digest-derived file names, and rewrites identical bytes
    atomically instead of duplicating records."""
    settings = settings or CrawlSettings()
    resolve_async_fetcher(fetcher_spec)  # a bad spec fails here
    catalog = SnapshotCatalog(checkpoint_dir)
    seen_filter = None
    if settings.dedup:
        from ..plans.seen import SeenFilter

        # the round-2 SeenFilter reloads its sidecar manifest in the
        # constructor, so restart-resume needs no explicit refresh
        seen_filter = SeenFilter(spark, checkpoint_dir + "/seen")

    stream = (
        spark.readStream.schema("depth INT, rawurl STRING")
        .option("sep", "\t")
        .csv(frontier_dir)
    )
    # the budget cut happens before the seen gate (below), not in
    # crawl_round
    run_settings = dataclasses.replace(settings, per_host_budget=0)
    parallelism = spark.sparkContext.defaultParallelism

    def _read_or_none(table: str, schema) -> Optional[DataFrame]:
        try:
            return catalog.read(spark, table, schema=schema)
        except FileNotFoundError:
            return None

    def process_batch(batch: DataFrame, epoch_id: int):
        if batch.isEmpty():
            return
        round_no = int(epoch_id)
        canon = _canonicalize_df(
            _frontier_rows(batch.withColumn("index", F.lit(0)), settings)
        ).localCheckpoint(eager=True)

        if seen_filter is not None:
            # the seen gate only drops URLs of earlier batches, so a URL
            # twice in this one (two seed files, a link and a seed) is
            # kept once: its shallowest row
            valid, bad = _split_valid(canon)
            first = Window.partitionBy("href").orderBy("depth", "seq")
            canon = (
                valid.withColumn("href_rank", F.row_number().over(first))
                .filter(F.col("href_rank") == 1)
                .drop("href_rank")
                .unionByName(bad)
            )

        if settings.per_host_budget > 0:
            # budget cut BEFORE the seen-add: deferred rows go back
            # into the frontier stream as fresh files, so they must
            # not be marked seen yet
            valid, bad = _split_valid(canon)
            w = Window.partitionBy("host").orderBy("priority", "seq")
            slotted = valid.withColumn(
                "bslot", F.row_number().over(w) - 1
            )
            deferred = slotted.filter(
                F.col("bslot") >= settings.per_host_budget
            ).select("depth", "rawurl")
            if not deferred.isEmpty():
                (deferred.coalesce(1).write.mode("append")
                 .option("sep", "\t").csv(frontier_dir))
            canon = (
                slotted.filter(F.col("bslot") < settings.per_host_budget)
                .drop("bslot")
                .unionByName(bad)
            ).localCheckpoint(eager=True)

        if seen_filter is not None:
            canon, _ = _seen_gate(canon, seen_filter, None)

        if settings.respect_robots:
            # robots rules persist across micro-batches (and restarts)
            # through the catalog table; new hosts are fetched per batch
            canon, denied, robots = _robots_step(
                canon, _read_or_none("robots", ROBOTS_SCHEMA), settings,
                fetcher_spec, round_no,
            )
            # the denied write reads the rules' checkpoint first, so
            # the commit never reads the snapshot it overwrites (an
            # epoch replay commits the same id again)
            denied.write.mode("append").parquet(output_dir + "_robots_denied")
            catalog.commit("robots", robots, snapshot_id=round_no + 1,
                           summary={"epoch": round_no})

        host_stats = _read_or_none("host_stats", HOST_STATS_SCHEMA)
        fetched, errors, _ = crawl_round(
            canon, run_settings, fetcher_spec, round_no, host_stats,
            _round_partitions(canon.count(), parallelism),
        )
        fetched = fetched.localCheckpoint(eager=True)
        if archive_dir is not None:
            from ..sources.warc import write_warc

            write_warc(
                fetched.repartition(
                    archive_partitions, F.xxhash64("url")
                ).sortWithinPartitions("url"),
                archive_dir,
            ).collect()
        out = finalize_results(_round_results(fetched, errors))
        out.drop("body", "head", "post").write.mode("append").parquet(output_dir)

        # cross-batch host_seq continuity
        catalog.commit(
            "host_stats", _merge_host_stats(host_stats, fetched),
            snapshot_id=round_no + 1, summary={"epoch": round_no},
        )

        # feedback loop: discovered links become new frontier files,
        # written distributed (the file source picks up new part
        # files; no driver-side collect). The files carry depth and
        # URL only, so no link priority is computed here.
        if settings.extract_links:
            links = _discovered_links(fetched, settings).select("depth", "rawurl")
            if not links.isEmpty():
                (links.coalesce(1).write.mode("append")
                 .option("sep", "\t").csv(frontier_dir))

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir + "/offsets")
        .trigger(processingTime="%d milliseconds" % int(trigger_seconds * 1000))
        .start()
    )
    return query
