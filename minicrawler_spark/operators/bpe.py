"""BPE tokenizer training and encoding over a document corpus.

The architecture is the one production tokenizer trainers use on web
corpora (SentencePiece, HuggingFace tokenizers fed by a counted word
list): the CORPUS-sized stage is a single distributed word count
(one shuffle, map-side combine), and the merge loop then runs on the
bounded top-`max_words` (word, count) table — the loop's cost is
O(max_words) per merge and independent of corpus size, so training
over 100 TB costs one aggregation plus a driver-side loop over a
table that fits in tens of MB. Encoding is embarrassingly parallel:
the learned merge table broadcasts (ranks dict, ~n_merges entries)
and each partition encodes its documents with a per-partition word
cache, so repeated words — the overwhelming majority in natural
text — are encoded once per partition.

Determinism: ties in pair counts break on the lexicographically
smallest (left, right) pair, and the word table is cut with the same
(count desc, word asc) ordering vocab_stats uses, so training is
reproducible across partitionings and engines.

Reference analogue: none (minicrawler never tokenizes for training);
this extends the LLM-pipeline surface beside textstats.vocab_stats.
"""
from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..plans.local import local_frame
from .dedup import tokenize

__all__ = ["word_counts", "train_bpe", "encode_bpe"]

MERGES_SCHEMA = StructType([
    StructField("rank", IntegerType(), False),
    StructField("left", StringType(), False),
    StructField("right", StringType(), False),
    StructField("merged", StringType(), False),
])

ENCODED_SCHEMA = StructType([
    StructField("doc_id", StringType(), True),
    StructField("pieces", ArrayType(StringType(), False), False),
    StructField("n_pieces", LongType(), False),
])


def word_counts(docs: DataFrame, text_col: str = "text",
                max_words: int | None = None) -> DataFrame:
    """Distributed (word, n) table — the only corpus-sized stage of
    BPE training. groupBy(word).count() partial-aggregates map-side,
    so the shuffle moves one row per distinct word per partition,
    not one per occurrence. With max_words the cut is a
    TakeOrderedAndProject (per-partition heap + driver merge of k
    rows), never a global sort."""
    agg = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("n"))
    )
    if max_words is not None:
        if max_words <= 0:
            raise ValueError("max_words must be positive")
        agg = agg.orderBy(F.desc("n"), F.asc("word")).limit(max_words)
    return agg


def _train_on_counts(counts: Iterable[tuple[str, int]],
                     n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE merge loop on a bounded (word, count) list with
    incremental pair-count maintenance: each merge touches only the
    words that contain the merged pair (tracked via an inverted
    pair -> word-index map), so the loop is far cheaper than
    rescanning the table per merge."""
    words: list[list[str]] = []
    freqs: list[int] = []
    for w, n in counts:
        if w:
            words.append(list(w))
            freqs.append(int(n))

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_pairs(idx: int, sign: int) -> None:
        syms, n = words[idx], freqs[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * n
            if sign > 0:
                pair_words.setdefault(p, set()).add(idx)

    for i in range(len(words)):
        add_pairs(i, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best: tuple[str, str] | None = None
        best_n = 0
        for p, n in pair_counts.items():
            if n > best_n or (n == best_n and best is not None
                              and n > 0 and p < best):
                best, best_n = p, n
        if best is None or best_n <= 0:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for idx in list(pair_words.get(best, ())):
            add_pairs(idx, -1)
            syms = words[idx]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = out
            add_pairs(idx, +1)
        # drop exhausted entries so the argmax scan stays tight
        for p in [p for p, n in pair_counts.items() if n <= 0]:
            del pair_counts[p]
            pair_words.pop(p, None)
    return merges


def train_bpe(docs: DataFrame, n_merges: int = 1000,
              text_col: str = "text",
              max_words: int = 100_000) -> DataFrame:
    """Learn `n_merges` BPE merges from the corpus. Returns a
    DataFrame (rank, left, right, merged) ordered by rank — the
    merge table `encode_bpe` consumes.

    The driver collect is the top-`max_words` word-count table
    (bounded, corpus-size-independent); everything corpus-sized
    stays in the word_counts aggregation."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    wc = word_counts(docs, text_col=text_col, max_words=max_words)
    counts = [(r["word"], r["n"]) for r in wc.collect()]
    # collect() of a TakeOrderedAndProject preserves the (n desc,
    # word asc) order, but re-sort defensively: the merge loop's
    # determinism must not depend on collect ordering.
    counts.sort(key=lambda t: (-t[1], t[0]))
    merges = _train_on_counts(counts, n_merges)
    spark = docs.sparkSession
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return local_frame(spark, rows, MERGES_SCHEMA)


def encode_bpe(docs: DataFrame, merges: DataFrame,
               text_col: str = "text") -> DataFrame:
    """Encode each document with a learned merge table: per word,
    repeatedly merge the lowest-rank adjacent pair (the canonical
    BPE encode). Returns (doc_id, pieces array<string>, n_pieces).

    Scale: the merge table broadcasts as a plain ranks dict
    (n_merges entries); encoding runs in mapInPandas with a
    per-partition word cache, so each distinct word is encoded once
    per partition and the hot path is a dict hit. Concatenating a
    word's pieces always reproduces the word — pinned in tests."""
    rank_rows = [((r["left"], r["right"]), r["rank"])
                 for r in merges.select("rank", "left", "right").collect()]
    ranks = dict(rank_rows)
    sc = docs.sparkSession.sparkContext
    b_ranks = sc.broadcast(ranks)

    src = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize(F.col(text_col)).alias("words"),
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        rk = b_ranks.value
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            while len(syms) > 1:
                best_i, best_r = -1, None
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best_r is None or r < best_r):
                        best_i, best_r = i, r
                if best_r is None:
                    break
                syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            cache[word] = syms
            return syms

        for pdf in batches:
            ids, pieces, npc = [], [], []
            for doc_id, words in zip(pdf["doc_id"], pdf["words"]):
                out: list[str] = []
                for w in words:
                    out.extend(enc(w))
                ids.append(doc_id)
                pieces.append(out)
                npc.append(len(out))
            yield pd.DataFrame(
                {"doc_id": ids, "pieces": pieces, "n_pieces": npc}
            )

    return src.mapInPandas(run, ENCODED_SCHEMA)
