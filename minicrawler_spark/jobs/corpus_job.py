"""End-to-end training-corpus build (north rule: the composition a
real LLM-data-pipeline user runs first):

    crawl -> write_warc -> warc_to_documents -> line_dedup (CCNet
    boilerplate removal) -> exact dedup -> minhash near-dup pairs ->
    dup_clusters survivors -> quality + repetition filters ->
    hash_split -> pack_token_sequences
    plus the media branch:
    warc_to_media -> decode_and_featurize / decode_pixels

Every stage is an individually-gated operator (see SURVEY §2 /
__spark_entry__.queries); this module proves and maintains the
COMPOSITION — schemas line up, survivor selection is deterministic,
splits are content-addressed, and the whole chain is re-runnable on
the same inputs with identical outputs (no RNG, no wall clock).

Library use:

    from minicrawler_spark.jobs.corpus_job import build_corpus
    out = build_corpus(spark, archive_dir)     # dict of DataFrames
    out["packed"].write.parquet(...)

spark-submit use (writes parquet per stage + a JSON summary line):

    spark-submit --py-files dist/minicrawler_spark.zip \
        minicrawler_spark/jobs/corpus_job.py \
        --archive /data/warc --output /data/corpus

Stage shapes at 100 TB (why this composes safely): line_dedup
shuffles (hash, count) pairs only; exact dedup is one map-side-
partial groupBy; minhash pairs are banded + size-gated-verified
(never all-pairs); cluster survivor selection is one anti join
against the loser set (losers << corpus); the quality/repetition
filters are pure codegen scans; hash_split adds a column with no
shuffle; packing's only driver collect is O(num_partitions).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_corpus(
    spark: SparkSession,
    archive_dir: str,
    *,
    line_max_count: int = 2,
    minhash_threshold: float = 0.8,
    min_quality: float = 0.25,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_frac: float = 0.5,
    min_chars: int = 1,
    splits=None,
    pack_budget: int = 2048,
    scrub: bool = True,
    eval_needles: DataFrame = None,
) -> dict:
    """Run the corpus chain over a .warc.gz archive directory.

    Returns a dict of LAZY DataFrames (caller actions them):
      documents   — archive -> documents-table adapter output
      line_deduped— after corpus-level line dedup (empty docs dropped)
      survivors   — after exact + near-dup cluster dedup (and, when
                    `eval_needles` (one `needle` string column) is
                    given, benchmark decontamination drops any doc
                    containing an eval needle)
      filtered    — after quality/repetition gates, with the scores
      scrubbed    — filtered text PII-scrubbed (typed placeholder
                    tokens + per-kind counts; `scrub=False` skips)
      split       — scrubbed + content-addressed `split` column
      packed      — fixed-token-budget sequences over the train split

    Determinism: every keep/drop decision is content-addressed
    (hashes of text/doc_id), so re-running on the same archives gives
    byte-identical outputs regardless of partitioning.
    """
    # absolute imports: build_corpus must also work when this file is
    # the spark-submit entry script (then it runs as __main__ with no
    # parent package and relative imports raise ImportError)
    from minicrawler_spark.operators.dedup import (
        dup_clusters,
        exact_dedup,
        line_dedup,
        minhash_dup_pairs,
    )
    from minicrawler_spark.operators.packing import pack_token_sequences
    from minicrawler_spark.operators.sampling import hash_split
    from minicrawler_spark.operators.textstats import (
        quality_score,
        repetition_stats,
    )
    from minicrawler_spark.sources.warc import warc_to_documents

    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}

    docs = warc_to_documents(spark, archive_dir)

    # 1. corpus-level line dedup (boilerplate chrome off every doc);
    #    documents reduced to nothing drop out here
    ld = line_dedup(docs, max_count=line_max_count)
    line_deduped = ld.filter(
        (F.length("text") >= min_chars)
    ).select("doc_id", "text")

    # 2. exact dedup: keep min doc_id per identical text
    keep_exact = exact_dedup(line_deduped).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    exact_kept = line_deduped.join(keep_exact, "doc_id", "left_semi")

    # 3. near-dup clusters: survivors are cluster representatives
    #    (min doc_id per connected component) plus every unpaired doc
    pairs = minhash_dup_pairs(exact_kept, threshold=minhash_threshold)
    clusters = dup_clusters(pairs)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    survivors = exact_kept.join(losers, "doc_id", "left_anti")

    # 3b. benchmark decontamination (optional): drop any doc whose
    #     text contains an eval needle — broadcast substring scan
    if eval_needles is not None:
        from minicrawler_spark.operators.textstats import decontaminate

        survivors = decontaminate(survivors, eval_needles, mode="drop")

    # 4. quality + repetition gates (Gopher-style), scores kept on
    #    the rows so downstream mixing can re-cut without re-scoring
    q = quality_score(survivors).select("doc_id", "quality")
    rep = repetition_stats(survivors).select(
        "doc_id", "dup_line_frac", "top_bigram_frac"
    )
    filtered = (
        survivors.join(q, "doc_id")
        .join(rep, "doc_id")
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("dup_line_frac") <= max_dup_line_frac)
            & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        )
    )

    # 4b. PII scrubbing: what ships (and packs) is the redacted
    #     text; scores above were computed on the raw text
    if scrub:
        from minicrawler_spark.operators.textstats import scrub_pii

        scrubbed = scrub_pii(filtered)  # scores pass through
    else:
        scrubbed = filtered

    # 5. content-addressed split + 6. sequence packing on train
    split = hash_split(scrubbed, splits)
    packed = pack_token_sequences(
        split.filter(F.col("split") == "train").select("doc_id", "text"),
        budget=pack_budget,
    )

    # 7. media branch: the archive's image/audio/video payloads into
    #    decoded features + raw samples (PNG/JPEG pixels; WAV PCM and
    #    the other codecs degrade to per-row decode errors, never
    #    task failures) — what a multimodal-pretraining mix consumes
    #    next to the packed text
    from minicrawler_spark.operators.multimodal import (
        audio_features,
        decode_and_featurize,
        decode_audio,
        decode_pixels,
        sample_frames,
    )
    from minicrawler_spark.sources.warc import warc_to_media

    media = warc_to_media(spark, archive_dir)
    return {
        "documents": docs,
        "line_deduped": line_deduped,
        "survivors": survivors,
        "filtered": filtered,
        "scrubbed": scrubbed,
        "split": split,
        "packed": packed,
        "media": media,
        "media_features": decode_and_featurize(
            media.filter(F.col("kind") == "image")
        ),
        "media_pixels": decode_pixels(
            media.filter(F.col("kind") == "image")
        ),
        # AV branches: video key frames as raw encoded access units
        # + pts (sample_frames), audio as PCM front-end features
        "media_frames": sample_frames(
            media.filter(F.col("kind") == "video")
        ),
        "media_audio_features": audio_features(
            decode_audio(media.filter(F.col("kind") == "audio"))
        ),
    }


def train_corpus_tokenizer(split_df: DataFrame, *,
                           n_merges: int = 1000,
                           max_words: int = 100_000):
    """Tokenizer stage over a MATERIALIZED split table (the parquet
    build_corpus's caller wrote): train BPE merges on the train
    split and encode it. Returns (merges_df, encoded_df).

    Kept out of build_corpus on purpose — train_bpe collects the
    bounded word-count table eagerly, and doing that against the
    lazy chain would recompute the minhash/cluster stages; feeding
    it the re-read split parquet trains from a one-pass scan."""
    from minicrawler_spark.operators.bpe import encode_bpe, train_bpe

    train = split_df.filter(F.col("split") == "train").select(
        "doc_id", "text")
    merges = train_bpe(train, n_merges=n_merges, max_words=max_words)
    return merges, encode_bpe(train, merges)


def parse_args(argv):
    p = argparse.ArgumentParser(
        description="minicrawler-spark corpus build"
    )
    p.add_argument("--archive", required=True,
                   help=".warc.gz directory (write_warc output)")
    p.add_argument("--output", required=True, help="parquet root")
    p.add_argument("--line-max-count", type=int, default=2)
    p.add_argument("--minhash-threshold", type=float, default=0.8)
    p.add_argument("--min-quality", type=float, default=0.25)
    p.add_argument("--max-dup-line-frac", type=float, default=0.5)
    p.add_argument("--max-top-bigram-frac", type=float, default=0.5)
    p.add_argument("--pack-budget", type=int, default=2048)
    p.add_argument("--train", type=float, default=0.9)
    p.add_argument("--val", type=float, default=0.05)
    p.add_argument("--test", type=float, default=0.05)
    p.add_argument("--no-scrub", action="store_true",
                   help="skip PII scrubbing of the shipped text")
    p.add_argument("--eval-needles", default=None,
                   help="parquet with a `needle` string column; docs "
                        "containing any needle are dropped "
                        "(benchmark decontamination)")
    p.add_argument("--bpe-merges", type=int, default=0,
                   help="train a BPE tokenizer on the train split "
                        "(N merges; 0 = off) and write the merge "
                        "table + encoded pieces")
    p.add_argument("--bpe-max-words", type=int, default=100_000)
    p.add_argument("--wet", default=None,
                   help="also export the corpus text as "
                        ".warc.wet.gz archives at this directory")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    spark = SparkSession.builder.getOrCreate()
    out = build_corpus(
        spark,
        args.archive,
        line_max_count=args.line_max_count,
        minhash_threshold=args.minhash_threshold,
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_bigram_frac=args.max_top_bigram_frac,
        splits={"train": args.train, "val": args.val,
                "test": args.test},
        pack_budget=args.pack_budget,
        scrub=not args.no_scrub,
        eval_needles=(
            spark.read.parquet(args.eval_needles)
            if args.eval_needles else None
        ),
    )
    # Materialize the expensive chain ONCE: `split` is the final
    # corpus (scrubbed unless --no-scrub) plus the split column, so
    # write it first and derive the other two outputs from the
    # re-read parquet — three independent write actions would each
    # recompute the minhash/cluster stages from the archive (3x the
    # dominant cost at corpus scale). The per-doc table ships as
    # `corpus/` — NOT as `filtered` (build_corpus's "filtered" stage
    # is the RAW post-gate text; what the CLI ships is the redacted
    # final corpus with the scrub-audit counts).
    root = args.output.rstrip("/")
    out["split"].write.mode("overwrite").parquet("%s/split" % root)
    split_pq = spark.read.parquet("%s/split" % root)
    split_pq.drop("split").write.mode("overwrite").parquet(
        "%s/corpus" % root
    )
    from minicrawler_spark.operators.packing import pack_token_sequences

    pack_token_sequences(
        split_pq.filter(F.col("split") == "train").select(
            "doc_id", "text"
        ),
        budget=args.pack_budget,
    ).write.mode("overwrite").parquet("%s/packed" % root)
    summary = {
        name: spark.read.parquet("%s/%s" % (root, name)).count()
        for name in ("corpus", "split", "packed")
    }
    extra = {}
    if args.bpe_merges > 0:
        merges, encoded = train_corpus_tokenizer(
            split_pq, n_merges=args.bpe_merges,
            max_words=args.bpe_max_words,
        )
        merges.write.mode("overwrite").parquet(
            "%s/tokenizer_merges" % root)
        encoded.write.mode("overwrite").parquet("%s/encoded" % root)
        extra["bpe_merges"] = spark.read.parquet(
            "%s/tokenizer_merges" % root).count()
        extra["encoded_docs"] = spark.read.parquet(
            "%s/encoded" % root).count()
    if args.wet:
        from minicrawler_spark.sources.warc import write_wet

        wet_manifest = write_wet(
            split_pq.select("doc_id", "text"), args.wet
        ).collect()
        extra["wet_files"] = len(wet_manifest)
    split_counts = {
        r["split"]: r["n"]
        for r in split_pq.groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(json.dumps(
        {"rows": summary, "splits": split_counts, **extra}
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
