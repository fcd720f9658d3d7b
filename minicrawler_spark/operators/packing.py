"""Sequence packing for LLM training pipelines (north-rule addition):
shard a tokenized corpus into fixed-token-budget training sequences.

`pack_token_sequences` assigns every document to the sequence that
contains its STARTING token offset in global doc_id order (offset
binning — the standard approximation of document packing where
sequence boundaries truncate rather than split documents; an exact
splitter is a tokenizer-side concern, not a shuffle-side one).

The interesting part at 100 TB is the GLOBAL running token count.
A naive `Window.orderBy(doc_id)` with no partition key collapses the
whole corpus into one task — the classic scale-killer. This module
uses the standard two-phase distributed prefix sum instead:

1. range-partition by doc_id (so partition order == key order) and
   cache,
2. collect ONE tiny row per partition (its token sum) to the driver
   — O(num_partitions), bounded by cluster size, never by data —
   and turn those into per-partition starting offsets,
3. broadcast-join the offsets back and finish with a per-partition
   window cumsum; every task only scans its own partition.

The DuckDB oracle reproduces the binning with a plain global window
(fine at oracle scale) — results are identical because the two-phase
cumsum computes exactly the same running total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.local import local_frame
from .dedup import tokenize

__all__ = ["pack_token_sequences", "pack_assignments"]


def _binned(docs: DataFrame, budget: int, num_partitions: int):
    """Shared two-phase prefix-sum core: every doc with its global
    starting token offset and sequence bin. Returns columns
    (doc_id, n_tokens, pid, p_offset, cum, seq_id)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    spark = docs.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    d = (
        docs.select(
            "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
        )
        .repartitionByRange(p, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        # lazy checkpoint: the psums collect below is the single
        # first reference, so it materializes the checkpoint in ONE
        # job (eager + collect was two); the cumsum pass then reads
        # the pinned pids from the materialized checkpoint (r6)
        .localCheckpoint(eager=False)
    )
    # phase 2: one row per partition to the driver (bounded by the
    # partition count, not the data)
    psums = sorted(
        (r["pid"], r["s"] or 0)
        for r in d.groupBy("pid").agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    offsets = []
    running = 0
    for pid, s in psums:
        offsets.append((pid, running))
        running += s
    off_df = F.broadcast(
        local_frame(spark, offsets, "pid int, p_offset long")
    )
    # phase 3: per-partition running sum + the partition's offset
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = (
        d.join(off_df, "pid")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "seq_id",
            F.floor(
                (F.col("p_offset") + F.col("cum") - F.col("n_tokens"))
                / budget
            ).cast("long"),
        )
    )
    return binned


def pack_token_sequences(
    docs: DataFrame, budget: int = 2048, num_partitions: int = None
) -> DataFrame:
    """-> one row per packed sequence: (seq_id, n_docs, total_tokens,
    first_doc_id, last_doc_id), seq_id = floor(start_offset/budget)
    over the doc_id-ordered corpus."""
    return _binned(docs, budget, num_partitions).groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


def pack_assignments(
    docs: DataFrame, budget: int = 2048, num_partitions: int = None
) -> DataFrame:
    """The doc -> sequence MAP a packer actually materializes for the
    data loader: (doc_id, seq_id, offset_in_seq, n_tokens), where
    offset_in_seq is the document's starting token position inside
    its sequence. Same two-phase prefix sum as the stats view —
    partitioning-invariant, no global window."""
    b = _binned(docs, budget, num_partitions)
    start = F.col("p_offset") + F.col("cum") - F.col("n_tokens")
    return b.select(
        "doc_id",
        "seq_id",
        (start - F.col("seq_id") * budget).cast("long")
        .alias("offset_in_seq"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
