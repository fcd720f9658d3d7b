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
  bloom-sharded SeenFilter (plans/seen.py) under the checkpoint dir;
  each epoch opens it as of the generation it started from, so a
  replayed epoch's gate returns the rows it returned the first time,
- per-host state (host_count for cross-batch host_seq, host_err)
  persists through the SnapshotCatalog table "host_stats", and robots
  rules through the table "robots"; epoch e reads both at the
  snapshot it started from and commits them as snapshot e+1,
- each micro-batch is one call of the batch crawl's round function
  (crawl.run_round): seen gate, robots step (the UDF at one task per
  core), crawl_round (window politeness, host-salted repartition,
  mapInPandas fetch), impatient cutoff, result rows, host-stats merge
  and discovered links. Redirects and auth retries finish inside the
  fetch stage, so nothing but links and budget-deferred rows returns
  to the frontier. What is the stream's own: TSV rows to frontier
  rows, one row per URL within a micro-batch and the per-host budget
  cut before the round, the state loads, and the sinks (results and
  denied rows, each epoch in its own `epoch=<id>` directory that a
  replay overwrites; robots and host_stats commits, WARC archive, TSV
  feedback).

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
from ..plans.local import local_frame
from ..plans.seen import SeenFilter
from ..plans.snapshots import SnapshotCatalog
from .crawl import (
    HOST_STATS_SCHEMA,
    ROBOTS_SCHEMA,
    RoundState,
    _canonicalize_df,
    _frontier_rows,
    _split_valid,
    finalize_results,
    resolve_async_fetcher,
    run_round,
)

# archive partitions per micro-batch: the archive's file names derive
# from each partition's records, so a replayed epoch rewrites the same
# files only while this count stays the same across restarts
ARCHIVE_PARTITIONS = 8


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
):
    """Start the continuous crawl; returns the StreamingQuery. Each
    micro-batch is one run_round call, as one round of crawl().

    `fetcher_spec` is resolved before the stream starts and sets the
    clock, as in crawl() (resolve_async_fetcher).

    `archive_dir`: when given, every micro-batch's fetched pages are
    ALSO archived as rolled .warc.gz files there (sources/warc.py
    write_warc) before bodies are dropped from the parquet results —
    the streaming twin of the batch crawl->archive pipeline.
    Idempotent across epoch replays: the batch is deterministically
    repartitioned (ARCHIVE_PARTITIONS, hash of url) and sorted within
    partitions before writing, so a replayed epoch — even on a
    restarted cluster with different parallelism — produces the same
    per-file record sets, hence the same content-digest-derived file
    names, and rewrites identical bytes atomically instead of
    duplicating records."""
    settings = settings or CrawlSettings()
    resolve_async_fetcher(fetcher_spec)  # a bad spec fails here
    catalog = SnapshotCatalog(checkpoint_dir)

    stream = (
        spark.readStream.schema("depth INT, rawurl STRING")
        .option("sep", "\t")
        .csv(frontier_dir)
    )
    # the budget cut happens before the round (below), not in
    # crawl_round
    run_settings = dataclasses.replace(settings, per_host_budget=0)

    def started_from(table: str, epoch: int) -> Optional[int]:
        """The snapshot of `table` epoch `epoch` started from: CURRENT,
        or its parent when CURRENT is the epoch's own commit (a
        replayed epoch); None before the first commit."""
        sid = catalog.current_id(table)
        if sid == epoch + 1:
            sid = catalog.manifest(table, sid)["parent_id"]
        return sid

    def load(table: str, schema, epoch: int) -> DataFrame:
        sid = started_from(table, epoch)
        if sid is None:
            return local_frame(spark, [], schema)
        return catalog.read(spark, table, snapshot_id=sid, schema=schema)

    def open_seen(epoch: int) -> SeenFilter:
        """The URL-seen set as epoch `epoch` started: each host_stats
        commit records the seen generation after its epoch, so a
        replayed epoch whose seen add already published gets the same
        rows back from the gate instead of none. A snapshot that
        predates the record opens at the current generation."""
        sid = started_from("host_stats", epoch)
        gen = 0 if sid is None else (
            catalog.manifest("host_stats", sid)["summary"].get("seen_gen")
        )
        return SeenFilter(spark, checkpoint_dir + "/seen", as_of=gen)

    def process_batch(batch: DataFrame, epoch_id: int):
        if batch.isEmpty():
            return
        round_no = int(epoch_id)
        canon = _canonicalize_df(
            _frontier_rows(batch.withColumn("index", F.lit(0)), settings)
        ).localCheckpoint(eager=True)

        valid, bad = _split_valid(canon)
        if settings.dedup:
            # the seen gate only drops URLs of earlier batches, so a URL
            # twice in this one (two seed files, a link and a seed) is
            # kept once: its shallowest row
            first = Window.partitionBy("href").orderBy("depth", "seq")
            valid = valid.withColumn(
                "href_rank", F.row_number().over(first)
            ).filter(F.col("href_rank") == 1).drop("href_rank")

        if settings.per_host_budget > 0:
            # budget cut BEFORE the seen-add: deferred rows go back
            # into the frontier stream as fresh files, so they must
            # not be marked seen yet
            w = Window.partitionBy("host").orderBy("priority", "seq")
            valid = valid.withColumn("bslot", F.row_number().over(w) - 1)
            deferred = valid.filter(
                F.col("bslot") >= settings.per_host_budget
            ).select("depth", "rawurl")
            if not deferred.isEmpty():
                (deferred.coalesce(1).write.mode("append")
                 .option("sep", "\t").csv(frontier_dir))
            valid = valid.filter(
                F.col("bslot") < settings.per_host_budget
            ).drop("bslot")

        # the count materializes the cut rows once for the round
        canon = valid.unionByName(bad).localCheckpoint(eager=False)
        state = RoundState(
            open_seen(round_no),
            load("robots", ROBOTS_SCHEMA, round_no),
            load("host_stats", HOST_STATS_SCHEMA, round_no),
        )
        rnd = run_round(state, canon, None, canon.count(), run_settings,
                        fetcher_spec, round_no, tally=False)

        if archive_dir is not None:
            from ..sources.warc import write_warc

            write_warc(
                rnd.fetched.repartition(
                    ARCHIVE_PARTITIONS, F.xxhash64("url")
                ).sortWithinPartitions("url"),
                archive_dir,
            ).collect()
        # each epoch's rows go to their own epoch=<id> directory, so a
        # replayed epoch replaces them; both outputs read as one table
        # with an `epoch` partition column
        epoch_dir = "epoch=%d" % round_no
        out = finalize_results(rnd.results)
        (out.drop("body", "head", "post").write.mode("overwrite")
         .parquet(os.path.join(output_dir, epoch_dir)))

        snapshot = dict(snapshot_id=round_no + 1,
                        summary={"epoch": round_no,
                                 "seen_gen": rnd.state.seen.gen})
        if settings.respect_robots:
            rnd.denied.write.mode("overwrite").parquet(
                os.path.join(output_dir + "_robots_denied", epoch_dir)
            )
            # the rules come from the snapshot the epoch started from
            # and the robots gate has materialized their checkpoint, so
            # this commit never reads the snapshot it overwrites (a
            # replayed epoch commits the same id again)
            catalog.commit("robots", rnd.state.robots, **snapshot)
        # cross-batch host_seq continuity
        catalog.commit("host_stats", rnd.state.host_stats, **snapshot)

        # feedback loop: discovered links become new frontier files,
        # written distributed (the file source picks up new part
        # files; no driver-side collect). The files carry depth and
        # URL only, so the link priority is not carried over.
        if settings.extract_links:
            links = rnd.frontier.select("depth", "rawurl")
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
