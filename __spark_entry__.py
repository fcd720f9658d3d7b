"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship: a frontier crawl over the
deterministic fixture web producing interleaved text+media span
documents (the north-rule target table shape).

`queries()` maps SURVEY.md §2 operators + the training-data additions
onto the driver's parquet tables; `oracle_sql()` gives the DuckDB
mirror for every SQL-expressible one. Column names and rounding are
identical on both sides (floats rounded so double-summation ulp noise
cannot flip the value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minicrawler_spark.operators import dedup as D
from minicrawler_spark.operators import similarity as S
from minicrawler_spark.operators import packing as PK
from minicrawler_spark.operators import sampling as SM
from minicrawler_spark.operators import textstats as T
from minicrawler_spark.operators import bpe as B
from minicrawler_spark.operators.dedup import _P, _perm_coeffs
from minicrawler_spark.operators.textstats import STOPWORDS
from minicrawler_spark.operators.similarity import plane_component

EMB_DIM = 64


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet("%s/%s.parquet" % (sf_dir, name))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Frontier crawl over the fixture web -> interleaved span docs
    (doc_id, spans, status, host, host_seq, links...)."""
    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.sources.fixtures import synthetic_seeds
    from minicrawler_spark.streaming.crawl import crawl

    res = crawl(
        spark,
        synthetic_seeds(4, 1),
        CrawlSettings(
            timeout=600,
            extract_links=True,
            dedup=True,
            max_depth=1,
            max_rounds=3,
        ),
    )
    return res.select(
        "doc_id", "spans", "status", "host", "host_seq", "depth", "round",
        "content_length", "links",
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _tokens_sql(col: str = "text") -> str:
    return (
        "list_filter(string_split(lower(%s), ' '), t -> t <> '')" % col
    )


_TOK_HASH = "('0x' || substr(md5(t), 1, 15))::BIGINT"


def q_dedup_exact(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


def q_simhash(spark, sf):
    return D.simhash(_t(spark, sf, "documents"))


def q_minhash_sigs(spark, sf):
    return D.minhash_signatures(_t(spark, sf, "documents"))


def q_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(_t(spark, sf, "documents"))


def q_embed_near_dups(spark, sf):
    # 0.45 yields rows on the synthetic tables (max off-diagonal cosine
    # there is ~0.5); blocking is banded LSH, not the label column
    return D.embedding_near_dups(_t(spark, sf, "embeddings"), threshold=0.45)


def q_minhash_dup_pairs(spark, sf):
    return D.minhash_dup_pairs(_t(spark, sf, "documents"), threshold=0.5)


def q_dup_clusters(spark, sf):
    """Connected components over the verified minhash dup pairs:
    (doc_id, cluster_id=min doc_id of the component) — the survivor-
    selection step after pair generation (keep doc_id == cluster_id).
    To keep the gate fast at sf0.01 the pair graph is built at
    threshold 0.9 (near-exact dups only; 0.5 yields a ~91k-edge
    almost-clique on the pathologically self-similar synthetic
    corpus — a data artifact, not an algorithmic need)."""
    pairs = D.minhash_dup_pairs(_t(spark, sf, "documents"), threshold=0.9)
    # minhash_dup_pairs' emit-once candidates are canonical by
    # construction (doc_a < doc_b, no dupes), so the CC can skip its
    # defensive normalize+distinct over the full edge set (r6)
    return D.dup_clusters(pairs, assume_canonical=True)


def q_dup_clusters_star(spark, sf):
    """The same components through the same call as q_dup_clusters:
    dup_clusters has one algorithm, large-star/small-star (O(log^2)
    rounds regardless of diameter). The query name stays so the gate
    and bench lists keep their entries; it must be hash-exact against
    the SAME recursive-CTE oracle."""
    pairs = D.minhash_dup_pairs(_t(spark, sf, "documents"), threshold=0.9)
    return D.dup_clusters(pairs, assume_canonical=True)


def q_line_dedup(spark, sf):
    """CCNet/Gopher-style line-level boilerplate removal: lines
    occurring more than twice across the corpus are dropped from
    every document, survivors reassembled in order."""
    return D.line_dedup(_t(spark, sf, "documents"), max_count=2)


def q_pack_sequences(spark, sf):
    """Fixed-token-budget sequence packing over the doc_id-ordered
    corpus — offset binning via the two-phase distributed prefix sum
    (never a partitionless global window)."""
    return PK.pack_token_sequences(
        _t(spark, sf, "documents"), budget=2048
    )


def q_pack_assignments(spark, sf):
    """The doc -> sequence map (packing.py pack_assignments): each
    document's sequence id and starting token offset inside it —
    what the training data loader consumes; same two-phase prefix
    sum, mirrored by the oracle's plain global window."""
    return PK.pack_assignments(
        _t(spark, sf, "documents"), budget=2048
    )


def q_hash_split(spark, sf):
    """Deterministic content-addressed train/val/test assignment —
    reproducible across engines/partitionings (no RNG)."""
    return SM.hash_split(
        _t(spark, sf, "documents").select("doc_id"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).select("doc_id", "split")


def q_stratified_sample(spark, sf):
    """Per-source corpus mixing: keep different deterministic
    fractions per stratum via a broadcast fraction table."""
    fr = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
    return SM.stratified_sample(
        _t(spark, sf, "documents"), fr
    ).select("doc_id", "source")


def q_simhash_pairs(spark, sf):
    return D.simhash_dup_pairs(_t(spark, sf, "documents"))


def q_ann_ivf(spark, sf):
    return S.ivf_topk(_t(spark, sf, "embeddings"))


def q_ann_topk(spark, sf):
    return S.brute_force_topk(_t(spark, sf, "embeddings"))


def q_ann_lsh(spark, sf):
    return S.lsh_bucket_ann(_t(spark, sf, "embeddings"), dim=EMB_DIM)


def q_token_stats(spark, sf):
    return T.token_stats(_t(spark, sf, "documents"))


def q_quality(spark, sf):
    return T.quality_score(_t(spark, sf, "documents"))


def q_lang_guess(spark, sf):
    return T.lang_guess(_t(spark, sf, "documents"))


def q_fingerprint(spark, sf):
    return T.fingerprint(_t(spark, sf, "documents"))


def q_repetition(spark, sf):
    """Gopher-style repetition filters (dup lines / dup line chars /
    top-bigram fraction) per document."""
    return T.repetition_stats(_t(spark, sf, "documents"))


def q_politeness_lag(spark, sf):
    """Per-host politeness window (SURVEY §2.6): gap to the previous
    fetch of the same host (user_id stands in for host)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.unix_millis(F.lag("ts").over(w).cast("timestamp")),
            F.lit(-1),
        ).alias("gap_ms"),
    )


def q_cookie_upsert(spark, sf):
    """Dedup-last upsert keyed (user_id, event_type) — the cookie-jar
    replacement rule (cookies.c:334-355) as an aggregate."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("last_value"),
        )
    )


def q_seen_antijoin(spark, sf):
    """URL-seen anti-join (SURVEY §2.4): orders with no lineitem."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_custkey")


def q_topk_per_host(spark, sf):
    """Top-k per host (frontier budget, SURVEY §2.6)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", F.round("value", 4).alias("value"), "rk")
    )


def q_ip_politeness(spark, sf):
    """Reference-faithful per-IP politeness channels (time.c:43-96 via
    functions/ipslot.py): hosts hash into 64 slots over their (fixture
    pseudo-)IP; colliding hosts SHARE a channel, so the wait schedule
    ranks within the slot. The oracle reproduces the md5 pseudo-IP and
    the exact time.c hash in SQL."""
    from pyspark.sql.functions import pandas_udf

    ev = _t(spark, sf, "events")
    hosts = ev.select(
        F.concat(
            F.lit("host"), F.col("user_id").cast("string"), F.lit(".test")
        ).alias("hostname")
    ).distinct()

    @pandas_udf("int")
    def slot_udf(hn):
        from minicrawler_spark.functions.ipslot import resolve_slot

        return hn.map(lambda h: resolve_slot(h, False)).astype("int32")

    w = Window.partitionBy("ip_slot").orderBy("hostname")
    return (
        hosts.withColumn("ip_slot", slot_udf("hostname"))
        .withColumn(
            "wait_ms", (F.row_number().over(w) - 1).cast("long") * 100
        )
    )


def q_host_sessions(spark, sf):
    """The custom stateful streaming operator's fold (streaming/
    stateful.py host_session_stats) on its batch mirror: per-host
    pages/errors/bytes plus an ITERATIVE EMA of latency. The oracle
    reproduces the same iterative EMA with DuckDB's list_reduce in the
    same (seq) order, so the float ops match step for step."""
    from minicrawler_spark.streaming.stateful import host_session_stats

    ev = _t(spark, sf, "events")
    rows = ev.select(
        F.concat(
            F.lit("host"), F.col("user_id").cast("string"), F.lit(".test")
        ).alias("host"),
        F.col("event_type").alias("outcome"),
        (F.col("event_id") % 1000).cast("long").alias("content_length"),
        (F.col("event_id") % 500).cast("long").alias("elapsed_ms"),
        F.lit(0).cast("int").alias("round"),
        F.col("event_id").cast("long").alias("seq"),
    )
    return host_session_stats(rows).select(
        "host", "n_pages", "n_errors", "total_bytes",
        F.round("ema_elapsed_ms", 6).alias("ema_elapsed_ms"),
        "last_elapsed_ms",
    )


def q_done_scan(spark, sf):
    """Done/notdone scan (crawler.c:2060-2089) as count_if."""
    orders = _t(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("n_done"),
        F.count_if(F.col("o_orderstatus") != "F").alias("n_pending"),
        F.count("*").alias("n_total"),
    )


def q_redirect_chain(spark, sf):
    """Ordered chain accumulation (crawler.c:1641-1648): event-type
    chain per user in (ts, event_id) order, newest first."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.reverse(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                )
            ),
            ">",
        ).alias("chain"),
        F.count("*").alias("n_hops"),
    )


def q_frontier_merge(spark, sf):
    """Frontier merge (redirects ∪ new links ∪ carryover) as
    unionByName + dropDuplicates (SURVEY §2.7)."""
    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("key"), F.lit("order").alias("src")
    )
    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.lit("lineitem").alias("src")
    )
    return (
        orders.unionByName(li)
        .groupBy("key")
        .agg(F.count("*").alias("n_sources"))
    )


def q_cookie_send_match(spark, sf):
    """Suffix/prefix predicate join (cookies.c:128-150 shape): events
    joined to customers on key ranges + a string boundary predicate."""
    ev = _t(spark, sf, "events")
    cust = _t(spark, sf, "customer")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .filter(F.col("c_mktsegment").startswith("B") | F.col("c_name").endswith("1"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# deterministic rule set for the robots-gate query: overlapping
# prefixes exercise longest-match + allow-beats-disallow-on-tie
_ROBOTS_RULES = [
    (False, "/click"),
    (True, "/click/3"),
    (False, "/view"),
    (True, "/view"),      # tie with previous -> allow wins
    (False, "/purchase/1"),
]


def q_robots_gate(spark, sf):
    """robots.txt longest-match gate (functions/robots.py, RFC 9309)
    over synthesized paths: path = /<event_type>/<event_id % 5>."""
    import json as _json

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    rules_json = _json.dumps(_ROBOTS_RULES)

    @pandas_udf(BooleanType())
    def allowed(paths):
        import pandas as pd

        from minicrawler_spark.functions.robots import robots_allowed_batch

        return pd.Series(
            robots_allowed_batch([rules_json] * len(paths), paths)
        )

    ev = _t(spark, sf, "events")
    return (
        ev.select(
            "event_id",
            F.concat(
                F.lit("/"), "event_type", F.lit("/"),
                (F.col("event_id") % 5).cast("string"),
            ).alias("path"),
        )
        .withColumn("allowed", allowed(F.col("path")))
        .select("event_id", "path", "allowed")
    )


def q_crawl_delay_schedule(spark, sf):
    """Politeness schedule with per-host Crawl-delay override
    (crawl_round: wait = slot * max(delay, crawl_delay)): user_id
    stands in for host, crawl_delay = (user_id % 3) seconds."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delay_ms = F.greatest(F.lit(100), (F.col("user_id") % 3) * 1000)
    return ev.select(
        "event_id",
        "user_id",
        (F.row_number().over(w) - 1).alias("slot"),
    ).withColumn(
        "wait_ms", F.col("slot").cast("long") * delay_ms
    )


def q_hot_host_salt(spark, sf):
    """Hot-host skew split (crawl_round: salt = slot // k): the
    partition-salt assignment per scheduled slot, k=8."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.row_number().over(w) - 1).alias("slot"),
    ).withColumn("salt", (F.col("slot") / 8).cast("long"))


def q_multimodal_features(spark, sf):
    """Multimodal decode plumbing (operators/multimodal.py) over
    synthesized binary media (PNG magic + utf-8 text bytes): the REAL
    Arrow-batched mapInPandas path runs; the deterministic stub decode
    is mirrored exactly by the SQL oracle (width/height from the
    sha256 digest's first bytes)."""
    from minicrawler_spark.operators.multimodal import decode_and_featurize

    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("content_type"),
        F.concat(
            F.lit(b"PNGSTUB:"), F.encode("text", "utf-8")
        ).alias("data"),
    )
    return decode_and_featurize(media).select(
        "media_ref", "n_bytes", "sha256", "width", "height"
    )


def q_pixel_recovery(spark, sf):
    """Full pixel recovery plumbing (operators/multimodal.py
    decode_pixels; real codecs = PNG unfilter + JPEG baseline/
    progressive in operators/jpeg.py): the Arrow mapInPandas path
    runs over synthesized PNGSTUB media, whose deterministic pixel
    construction (sha256 tiled to W*H*3) the DuckDB oracle mirrors
    in hex space. The REAL codecs are gated differentially against
    javax.imageio in tests/test_jpeg.py + test_operators.py."""
    from minicrawler_spark.operators.multimodal import decode_pixels

    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("content_type"),
        F.concat(
            F.lit(b"PNGSTUB:"), F.encode("text", "utf-8")
        ).alias("data"),
    )
    return decode_pixels(media).select(
        "media_ref", "width", "height", "pixel_format",
        # DuckDB's sha256 takes VARCHAR only, so both engines hash
        # the lowercase-hex rendering of the pixel buffer
        F.sha2(F.lower(F.hex("pixels")), 256).alias("pixel_sha"),
        F.length("pixels").cast("long").alias("pixel_bytes"),
    )


def q_resize_pixels(spark, sf):
    """Resize stage (operators/multimodal.py resize_pixels) composed
    over decode_pixels: nearest-neighbor to an 8x8 grid over the
    PNGSTUB media, which the DuckDB oracle replays byte-for-byte in
    hex space (the half-pixel-center index map is pure integer
    math). The bilinear path is gated differentially against a
    scalar reference in tests/test_operators.py."""
    from minicrawler_spark.operators.multimodal import (
        decode_pixels,
        resize_pixels,
    )

    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("content_type"),
        F.concat(
            F.lit(b"PNGSTUB:"), F.encode("text", "utf-8")
        ).alias("data"),
    )
    out = resize_pixels(decode_pixels(media), 8, 8, method="nearest")
    return out.select(
        "media_ref", "width", "height", "pixel_format",
        F.sha2(F.lower(F.hex("pixels")), 256).alias("pixel_sha"),
        F.length("pixels").cast("long").alias("pixel_bytes"),
    )


def q_sample_frames(spark, sf):
    """MP4 frame sampling (operators/multimodal.py sample_frames):
    deterministic fixture containers (sources/fixtures._tiny_mp4 —
    real ISO-BMFF sample tables, payload i = the first 10+i bytes of
    sha256('frame{seed}:{i}')) are built per document row, and every
    output field the stbl walk recovers — sync sample numbers, pts
    from stts at timescale 600, sizes, the payload bytes themselves —
    is CLOSED FORM in the seed, so the DuckDB oracle replays it in
    hex space. The structural corners (chunk maps, forged counts,
    co64, ctts) are pinned in tests/test_operators.py."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def mk_mp4(doc_ids):
        import pandas as pd

        from minicrawler_spark.sources.fixtures import _h, _tiny_mp4

        return pd.Series(
            [bytearray(_tiny_mp4(_h(str(d)))) for d in doc_ids]
        )

    from minicrawler_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.concat(F.lit("vid://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("video").alias("kind"),
        F.lit("video/mp4").alias("content_type"),
        mk_mp4(F.col("doc_id").cast("string")).alias("data"),
    )
    return sample_frames(media).select(
        "media_ref", "codec", "frame_index", "sample_number",
        "pts_ms", "is_sync", "n_bytes",
        F.sha2(F.lower(F.hex("data")), 256).alias("frame_sha"),
    )


def q_vocab_topk(spark, sf):
    """Corpus vocabulary stats (textstats.py vocab_stats): top-k
    tokens by occurrence count with document frequency — the
    tokenizer-training front-end; deterministic tie-break makes the
    cut identical in both engines."""
    return T.vocab_stats(_t(spark, sf, "documents"), top_k=500)


def q_tfidf_top(spark, sf):
    """Per-document TF-IDF keywords (textstats.tfidf_top_terms):
    smoothed sklearn idf, per-doc row_number window cut with a
    deterministic (tfidf desc, token asc) tie-break."""
    return T.tfidf_top_terms(_t(spark, sf, "documents"), top_k=3)


def q_bpe_merges(spark, sf):
    """BPE tokenizer training (operators/bpe.py): distributed word
    count front-end, bounded driver merge loop — iterative, so no
    SQL oracle; correctness is pinned by the pytest differential
    (incremental == naive trainer, 200-trial fuzz) and the
    determinism/roundtrip invariants."""
    return B.train_bpe(_t(spark, sf, "documents"),
                       n_merges=64, max_words=10_000)


def q_pii_scrub(spark, sf):
    """PII scrubbing (operators/textstats.py scrub_pii): emails/IPv4/
    SSN-shaped ids injected deterministically into every document
    (closed form in doc_id, replayed by the oracle), then counted
    and replaced sequentially — the oracle mirrors the sequential
    semantics with nested CTEs and RE2-compatible patterns."""
    from minicrawler_spark.operators.textstats import scrub_pii

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"), F.lit(".com via 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"), F.lit(" ref 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ipv4s").cast("long").alias("n_ipv4s"),
        F.col("n_ids").cast("long").alias("n_ids"),
        F.sha2("text", 256).alias("text_sha"),
    )


def q_decontaminate(spark, sf):
    """Benchmark decontamination (operators/textstats.py
    decontaminate): the eval needles are substrings of every 50th
    document (deterministic in both engines), docs containing any
    needle are flagged via a broadcast substring scan."""
    from minicrawler_spark.operators.textstats import decontaminate

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.substring("text", 10, 20).alias("needle")
    )
    return decontaminate(docs, evals).select(
        "doc_id", F.col("contaminated")
    )


def q_url_canonicalize(spark, sf):
    """WHATWG canonicalization over synthesized messy URLs. The
    oracle is the closed form of the construction (uppercase scheme/
    host lowers, :80 drops, '/<src>/.././p<id>' collapses to
    '/p<id>'); the 311-case corpus + C-oracle fuzz in tests/ are the
    hard gates."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("href", StringType()), StructField("host", StringType())]
    )

    @pandas_udf(schema)
    def canon(urls):
        import pandas as pd

        from minicrawler_spark.functions.urlnorm import canonicalize

        hrefs, hosts = [], []
        for u in urls:
            h, ho, _s, fail = canonicalize(u)
            hrefs.append(None if fail else h)
            hosts.append(None if fail else ho)
        return pd.DataFrame({"href": hrefs, "host": hosts})

    docs = _t(spark, sf, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".EXAMPLE.com:80/"),
            F.col("source"),
            F.lit("/.././p"),
            F.col("doc_id").cast("string"),
            F.lit("?q=1"),
        ).alias("rawurl"),
    )
    return messy.withColumn("c", canon(F.col("rawurl"))).select(
        "doc_id", "c.href", "c.host"
    )


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_simhash": q_simhash,
    "q_minhash_sigs": q_minhash_sigs,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_embed_near_dups": q_embed_near_dups,
    "q_minhash_dup_pairs": q_minhash_dup_pairs,
    "q_dup_clusters": q_dup_clusters,
    "q_dup_clusters_star": q_dup_clusters_star,
    "q_line_dedup": q_line_dedup,
    "q_pack_sequences": q_pack_sequences,
    "q_pack_assignments": q_pack_assignments,
    "q_hash_split": q_hash_split,
    "q_stratified_sample": q_stratified_sample,
    "q_simhash_pairs": q_simhash_pairs,
    "q_ann_topk": q_ann_topk,
    "q_ann_ivf": q_ann_ivf,
    "q_ann_lsh": q_ann_lsh,
    "q_token_stats": q_token_stats,
    "q_quality": q_quality,
    "q_lang_guess": q_lang_guess,
    "q_fingerprint": q_fingerprint,
    "q_repetition": q_repetition,
    "q_politeness_lag": q_politeness_lag,
    "q_cookie_upsert": q_cookie_upsert,
    "q_seen_antijoin": q_seen_antijoin,
    "q_topk_per_host": q_topk_per_host,
    "q_ip_politeness": q_ip_politeness,
    "q_host_sessions": q_host_sessions,
    "q_done_scan": q_done_scan,
    "q_redirect_chain": q_redirect_chain,
    "q_frontier_merge": q_frontier_merge,
    "q_cookie_send_match": q_cookie_send_match,
    "q_robots_gate": q_robots_gate,
    "q_crawl_delay_schedule": q_crawl_delay_schedule,
    "q_hot_host_salt": q_hot_host_salt,
    "q_multimodal_features": q_multimodal_features,
    "q_pixel_recovery": q_pixel_recovery,
    "q_resize_pixels": q_resize_pixels,
    "q_sample_frames": q_sample_frames,
    "q_pii_scrub": q_pii_scrub,
    "q_decontaminate": q_decontaminate,
    "q_vocab_topk": q_vocab_topk,
    "q_tfidf_top": q_tfidf_top,
    "q_bpe_merges": q_bpe_merges,
    "q_url_canonicalize": q_url_canonicalize,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _simhash_sql(bits: int = 60) -> str:
    b_exprs = ",\n      ".join(
        "sum(case when (h >> %d) & 1 = 1 then 1 else -1 end) as b%d" % (j, j)
        for j in range(bits)
    )
    sig = " + ".join(
        "(case when b%d >= 0 then %d::BIGINT else 0 end)" % (j, 1 << j)
        for j in range(bits)
    )
    return """
    with toks as (
      select doc_id, unnest(%s) as t from documents
    ), hashed as (
      select doc_id, %s as h from toks
    ), voted as (
      select doc_id, %s from hashed group by doc_id
    )
    select doc_id, (%s)::BIGINT as simhash from voted
    """ % (_tokens_sql(), _TOK_HASH, b_exprs, sig)


def _minhash_sql(k: int = 16) -> str:
    aggs = ",\n      ".join(
        "min((h * %d + %d) %% %d) as mh%d" % (a, b, _P, i)
        for i, (a, b) in enumerate(_perm_coeffs(k))
    )
    return """
    with toks as (
      select distinct doc_id, unnest(%s) as t from documents
    ), hashed as (
      select doc_id, (%s) %% %d as h from toks
    )
    select doc_id, %s from hashed group by doc_id
    """ % (_tokens_sql(), _TOK_HASH, _P, aggs)


def _ngrams_sql(n: int = 3) -> str:
    parts = " || '_' || ".join("toks[i + %d]" % j for j in range(n))
    return """
      select doc_id, lang, (n_chars // 64) as size_bucket,
             list_distinct([%s for i in range(1, len(toks) - %d + 2)]) as grams
      from (select doc_id, lang, n_chars, %s as toks from documents)
    """ % (parts, n, _tokens_sql())


def _stopfilter_sql(words) -> str:
    arr = "[" + ",".join("'%s'" % w for w in words) + "]"
    return "len(list_filter(toks, t -> list_contains(%s, t)))" % arr


def _plane_sql(i: int, dim: int = EMB_DIM) -> str:
    return "[" + ",".join("%s" % plane_component(i, d) for d in range(dim)) + "]"


def _banded_sig_sql(bands: int = 16, band_bits: int = 4) -> str:
    """Banded LSH keys mirroring dedup.embedding_near_dups: one select
    per band, key = sum of sign bits, bkey = (band << band_bits) + key."""
    selects = []
    for b in range(bands):
        terms = " + ".join(
            "(case when list_dot_product(v, %s) >= 0 then %d::BIGINT "
            "else 0 end)" % (_plane_sql(b * band_bits + j), 1 << j)
            for j in range(band_bits)
        )
        selects.append(
            "select vec_id, (%d::BIGINT + (%s)) as bkey from e"
            % (b << band_bits, terms)
        )
    return "\n        union all\n        ".join(selects)


def _lsh_sig_sql(n_planes: int = 8) -> str:
    terms = " + ".join(
        "(case when list_dot_product(v, %s) >= 0 then %d::BIGINT else 0 end)"
        % (_plane_sql(i), 1 << i)
        for i in range(n_planes)
    )
    return (
        "select vec_id, (%s)::BIGINT as bucket, v from "
        "(select vec_id, embedding::DOUBLE[] as v from embeddings)" % terms
    )


_COS = (
    "round(list_dot_product(l.v, r.v) / "
    "(sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 4)"
)

ORACLES = {
    "q_dedup_exact": """
      select min(doc_id) as keep_doc_id, count(*) as n_copies
      from documents group by text
    """,
    "q_simhash": _simhash_sql(),
    "q_minhash_sigs": _minhash_sql(),
    "q_ngram_jaccard": """
      with g as (%s)
      select l.doc_id as doc_a, r.doc_id as doc_b,
             round(len(list_intersect(l.grams, r.grams))::DOUBLE /
                   len(list_distinct(l.grams || r.grams)), 6) as jaccard
      from g l join g r
        on l.lang = r.lang and l.size_bucket = r.size_bucket
       and l.doc_id < r.doc_id
      where round(len(list_intersect(l.grams, r.grams))::DOUBLE /
                  len(list_distinct(l.grams || r.grams)), 6) >= 0.5
    """ % _ngrams_sql(),
    "q_embed_near_dups": """
      with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
      sig as (
        %s
      ),
      cand as (
        select distinct sl.vec_id as vec_a, sr.vec_id as vec_b
        from sig sl join sig sr
          on sl.bkey = sr.bkey and sl.vec_id < sr.vec_id
      )
      select vec_a, vec_b, %s as cosine
      from cand
      join e l on l.vec_id = vec_a
      join e r on r.vec_id = vec_b
      where %s >= 0.45
    """ % (_banded_sig_sql(), _COS, _COS),
    "q_simhash_pairs": """
      with sigs as (%s),
      bands as (
        %s
      ),
      cand as (
        select distinct l.doc_id as doc_a, r.doc_id as doc_b,
               l.simhash as sa, r.simhash as sb
        from bands l join bands r
          on l.band = r.band and l.key = r.key and l.doc_id < r.doc_id
      )
      select doc_a, doc_b, bit_count(xor(sa, sb)) as hamming
      from cand where bit_count(xor(sa, sb)) <= 3
    """ % (
        _simhash_sql(),
        "\n        union all\n        ".join(
            "select doc_id, simhash, %d as band,"
            " (simhash >> %d) & 32767 as key from sigs" % (b, b * 15)
            for b in range(4)
        ),
    ),
    "q_ann_ivf": """
      with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
      c as (select vec_id as cell, v as cv from e where vec_id < 16),
      aff as (
        select e.vec_id, c.cell, e.v,
               round(list_dot_product(e.v, c.cv) /
                     (sqrt(list_dot_product(e.v, e.v)) *
                      sqrt(list_dot_product(c.cv, c.cv))), 6) as cos
        from e cross join c
      ),
      ranked as (
        select *, row_number() over (partition by vec_id
                                     order by cos desc, cell asc) as crk
        from aff
      ),
      assign as (select vec_id, cell, v from ranked where crk = 1),
      probes as (
        select vec_id as query_id, cell, v as qv
        from ranked where vec_id < 5 and crk <= 2
      ),
      scored as (
        select p.query_id, a.vec_id,
               round(list_dot_product(p.qv, a.v) /
                     (sqrt(list_dot_product(p.qv, p.qv)) *
                      sqrt(list_dot_product(a.v, a.v))), 4) as cosine
        from probes p join assign a using (cell)
        where a.vec_id <> p.query_id
      )
      select query_id, vec_id, cosine, rank from (
        select *, row_number() over (partition by query_id
                                     order by cosine desc, vec_id asc) as rank
        from scored
      ) where rank <= 5
    """,
    "q_ann_topk": """
      with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
      q as (select vec_id as query_id, v from e where vec_id < 5),
      scored as (
        select q.query_id, l.vec_id,
               round(list_dot_product(q.v, l.v) /
                     (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(l.v, l.v))), 4) as cosine
        from e l join q on l.vec_id <> q.query_id
      )
      select query_id, vec_id, cosine, rank from (
        select *, row_number() over (partition by query_id
                                     order by cosine desc, vec_id asc) as rank
        from scored
      ) where rank <= 5
    """,
    "q_ann_lsh": """
      with sig as (%s),
      scored as (
        select l.vec_id as query_id, r.vec_id as vec_id, %s as cosine
        from sig l join sig r on l.bucket = r.bucket and l.vec_id <> r.vec_id
      )
      select query_id, vec_id, cosine, rank from (
        select *, row_number() over (partition by query_id
                                     order by cosine desc, vec_id asc) as rank
        from scored
      ) where rank <= 3
    """ % (_lsh_sig_sql(), _COS),
    "q_token_stats": """
      with t as (select doc_id, text, %s as toks from documents)
      select doc_id,
             len(toks) as n_tokens,
             coalesce(list_sum(list_transform(toks, x -> ceil(length(x) / 4.0)::BIGINT)), 0)::BIGINT as n_subwords,
             length(text) as n_chars_actual,
             round(length(text)::DOUBLE / greatest(len(toks), 1), 4) as mean_token_len
      from t
    """ % _tokens_sql(),
    "q_quality": """
      with t as (select doc_id, text, %s as toks from documents),
      m as (
        select doc_id,
          %s::DOUBLE / greatest(len(toks), 1) as stop_ratio,
          length(regexp_replace(text, '[^!?.,;:]', '', 'g'))::DOUBLE
            / greatest(length(text), 1) as punct_ratio,
          length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
            / greatest(length(text), 1) as upper_ratio,
          least(length(text) / 500.0, 1.0) as len_score
        from t
      )
      select doc_id, round(stop_ratio, 4) as stop_ratio,
             round(punct_ratio, 4) as punct_ratio,
             round(0.4 * len_score + 0.3 * least(stop_ratio * 4, 1.0)
                   + 0.2 * (1.0 - least(punct_ratio * 10, 1.0))
                   + 0.1 * (1.0 - least(upper_ratio * 5, 1.0)), 4) as quality
      from m
    """ % (_tokens_sql(), _stopfilter_sql(STOPWORDS["en"])),
    "q_lang_guess": """
      with t as (select doc_id, lang, %s as toks from documents),
      s as (
        select doc_id, lang as lang_label,
          [%s]
          as cand
        from t
      )
      select doc_id, lang_label,
             list_max(cand)['lang'] as lang_pred,
             list_max(cand)['score'] as lang_score
      from s
    """ % (
        _tokens_sql(),
        ",".join(
            "{'score': round(%s::DOUBLE / greatest(len(toks), 1), 6), 'lang': '%s'}"
            % (_stopfilter_sql(words), lang)
            for lang, words in STOPWORDS.items()
        ),
    ),
    "q_fingerprint": """
      with t as (select doc_id, %s as toks from documents),
      g as (
        select doc_id,
               [toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                for i in range(1, len(toks) - 1)] as grams
        from t
      ),
      ex as (select doc_id, unnest(grams) as gr from g),
      agg as (
        select doc_id, min(md5(gr)) as fp_min, max(md5(gr)) as fp_max,
               count(*) as n_shingles
      from ex group by doc_id
      )
      select d.doc_id, fp_min, fp_max, coalesce(n_shingles, 0) as n_shingles
      from documents d left join agg on agg.doc_id = d.doc_id
    """ % _tokens_sql(),
    "q_politeness_lag": """
      select event_id, user_id,
             coalesce(epoch_ms(ts) - lag(epoch_ms(ts)) over
               (partition by user_id order by ts, event_id), -1) as gap_ms
      from events
    """,
    "q_cookie_upsert": """
      select user_id, event_type, event_id as last_event_id,
             round(value, 4) as last_value
      from (
        select *, row_number() over (partition by user_id, event_type
                                     order by ts desc, event_id desc) as rk
        from events
      ) where rk = 1
    """,
    "q_seen_antijoin": """
      select o_orderkey, o_custkey from orders o
      where not exists (select 1 from lineitem l where l.l_orderkey = o.o_orderkey)
    """,
    "q_topk_per_host": """
      select user_id, event_id, round(value, 4) as value, rk from (
        select *, row_number() over (partition by user_id
                                     order by value desc, event_id asc) as rk
        from events
      ) where rk <= 3
    """,
    "q_host_sessions": """
      with r as (
        select 'host' || user_id::VARCHAR || '.test' as host,
               event_type as outcome,
               (event_id % 1000)::BIGINT as content_length,
               (event_id % 500)::BIGINT as elapsed_ms,
               event_id::BIGINT as seq
        from events)
      select host,
             count(*) as n_pages,
             count(*) filter (where outcome in
                              ('error','timeout','robots')) as n_errors,
             sum(content_length)::BIGINT as total_bytes,
             round(list_reduce(list(elapsed_ms::DOUBLE order by seq),
                               (a, b) -> 0.75*a + 0.25*b), 6)
               as ema_elapsed_ms,
             last(elapsed_ms order by seq) as last_elapsed_ms
      from r group by host
    """,
    "q_ip_politeness": """
      with h as (select distinct 'host' || user_id::VARCHAR || '.test'
                        as hostname from events),
      ip as (
        select hostname,
               ('0x' || substr(md5('ip:' || hostname), 1, 2))::BIGINT as d0,
               ('0x' || substr(md5('ip:' || hostname), 3, 2))::BIGINT as d1,
               ('0x' || substr(md5('ip:' || hostname), 5, 2))::BIGINT as d2
        from h),
      w as (select hostname,
                   (10 + (d0 << 8) + (d1 << 16) + (d2 << 24)) as w0
            from ip),
      hs as (select hostname,
        xor(xor((13 * (((w0 >> 16) | (w0 << 16)) & 4294967295))
                  & 4294967295,
                (113 * (((w0 >> 20) | (w0 << 10)) & 4294967295))
                  & 4294967295),
            w0) % 64 as ip_slot
        from w)
      select hostname, ip_slot::INTEGER as ip_slot,
             (row_number() over (partition by ip_slot
                                 order by hostname) - 1) * 100 as wait_ms
      from hs
    """,
    "q_done_scan": """
      select o_orderpriority,
             count(*) filter (where o_orderstatus = 'F') as n_done,
             count(*) filter (where o_orderstatus <> 'F') as n_pending,
             count(*) as n_total
      from orders group by o_orderpriority
    """,
    "q_redirect_chain": """
      select user_id,
             string_agg(event_type, '>' order by ts desc, event_id desc) as chain,
             count(*) as n_hops
      from events group by user_id
    """,
    "q_frontier_merge": """
      select key, count(*) as n_sources from (
        select o_orderkey as key from orders
        union all
        select l_orderkey as key from lineitem
      ) group by key
    """,
    "q_cookie_send_match": """
      select c_mktsegment, count(*) as n_events,
             round(sum(value), 2) as total_value
      from events e join customer c on e.user_id = c.c_custkey
      where starts_with(c_mktsegment, 'B') or ends_with(c_name, '1')
      group by c_mktsegment
    """,
    "q_robots_gate": """
      with p as (
        select event_id,
               '/' || event_type || '/' || (event_id %% 5)::VARCHAR as path
        from events
      ), r(allow, pattern) as (
        values %s
      ), m as (
        select p.event_id, r.allow, length(r.pattern) as plen
        from p join r on starts_with(p.path, r.pattern)
      ), best as (
        select event_id, allow,
               row_number() over (partition by event_id
                                  order by plen desc, allow desc) as rk
        from m
      )
      select p.event_id, p.path, coalesce(b.allow, true) as allowed
      from p left join (select event_id, allow from best where rk = 1) b
        using (event_id)
    """ % ", ".join(
        "(%s, '%s')" % ("true" if a else "false", pat)
        for a, pat in _ROBOTS_RULES
    ),
    "q_crawl_delay_schedule": """
      select event_id, user_id, slot,
             slot * greatest(100, (user_id % 3) * 1000) as wait_ms
      from (
        select event_id, user_id,
               row_number() over (partition by user_id
                                  order by ts, event_id) - 1 as slot
        from events
      )
    """,
    "q_hot_host_salt": """
      select event_id, user_id, slot, slot // 8 as salt
      from (
        select event_id, user_id,
               row_number() over (partition by user_id
                                  order by ts, event_id) - 1 as slot
        from events
      )
    """,
    "q_multimodal_features": """
      select 'img://doc/' || doc_id::VARCHAR as media_ref,
             8 + octet_length(encode(text)) as n_bytes,
             sha256('PNGSTUB:' || text) as sha256,
             1 + ('0x' || substr(sha256('PNGSTUB:' || text), 1, 2))::INT % 64
               as width,
             1 + ('0x' || substr(sha256('PNGSTUB:' || text), 3, 2))::INT % 64
               as height
      from documents
    """,
    "q_pixel_recovery": """
      with m as (
        select 'img://doc/' || doc_id::VARCHAR as media_ref,
               'PNGSTUB:' || text as data,
               1 + ('0x' || substr(sha256('PNGSTUB:' || text), 1, 2))::INT
                 % 64 as width,
               1 + ('0x' || substr(sha256('PNGSTUB:' || text), 3, 2))::INT
                 % 64 as height
        from documents
      ), px as (
        select media_ref, width, height,
               substr(repeat(sha256('px' || data),
                             (width * height * 3 + 31) // 32),
                      1, width * height * 3 * 2) as pixels_hex
        from m
      )
      select media_ref, width, height,
             'rgb8' as pixel_format,
             sha256(pixels_hex) as pixel_sha,
             (length(pixels_hex) // 2)::BIGINT as pixel_bytes
      from px
    """,
    "q_resize_pixels": """
      with m as (
        select 'img://doc/' || doc_id::VARCHAR as media_ref,
               'PNGSTUB:' || text as data,
               1 + ('0x' || substr(sha256('PNGSTUB:' || text), 1, 2))::INT
                 % 64 as width,
               1 + ('0x' || substr(sha256('PNGSTUB:' || text), 3, 2))::INT
                 % 64 as height
        from documents
      ), px as (
        select media_ref, width, height,
               substr(repeat(sha256('px' || data),
                             (width * height * 3 + 31) // 32),
                      1, width * height * 3 * 2) as pixels_hex
        from m
      ), rz as (
        -- nearest-neighbor gather to 8x8: out byte i (0..191) maps
        -- oy = i//24, ox = (i//3)%8, c = i%3; the half-pixel-center
        -- source index is least(((2*o+1)*in)//16, in-1) per axis
        select media_ref,
               array_to_string(
                 [substr(pixels_hex,
                         2 * ((least(((2 * (i // 24) + 1) * height)
                                       // 16, height - 1) * width
                               + least(((2 * ((i // 3) % 8) + 1) * width)
                                         // 16, width - 1)) * 3
                              + (i % 3)) + 1,
                         2)
                  for i in range(0, 192)], '') as out_hex
        from px
      )
      select media_ref, 8 as width, 8 as height,
             'rgb8' as pixel_format,
             sha256(out_hex) as pixel_sha,
             192::BIGINT as pixel_bytes
      from rz
    """,
    "q_vocab_topk": """
      select t as token,
             count(*)::BIGINT as n_occurrences,
             count(distinct doc_id)::BIGINT as doc_freq
      from (
        select doc_id, unnest(%s) as t from documents
      )
      group by t
      order by n_occurrences desc, token asc
      limit 500
    """ % _tokens_sql(),
    "q_tfidf_top": """
      with toks as (
        select doc_id, unnest(%s) as token from documents
      ),
      tf as (
        select doc_id, token, count(*)::BIGINT as tf
        from toks group by doc_id, token
      ),
      dfq as (
        select token, count(distinct doc_id)::BIGINT as doc_freq
        from toks group by token
      ),
      nd as (select count(distinct doc_id) as n_docs from documents),
      scored as (
        select tf.doc_id, tf.token, tf.tf, dfq.doc_freq,
               tf.tf * (ln((nd.n_docs + 1.0) / (dfq.doc_freq + 1.0))
                        + 1.0) as tfidf
        from tf join dfq using (token) cross join nd
      ),
      rk as (
        select *, row_number() over (
          partition by doc_id order by tfidf desc, token asc) as rk
        from scored
      )
      select doc_id, token, tf, doc_freq, tfidf
      from rk where rk <= 3
    """ % _tokens_sql(),
    "q_pii_scrub": """
      with injected as (
        select doc_id,
               text || ' contact user' || doc_id::VARCHAR || '@ex'
                    || (doc_id % 7)::VARCHAR || '.com via 10.'
                    || (doc_id % 256)::VARCHAR || '.0.'
                    || (doc_id % 100)::VARCHAR || ' ref 123-45-'
                    || lpad((doc_id % 10000)::VARCHAR, 4, '0') as text
        from documents
      ), s1 as (
        select doc_id,
               len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                 ::BIGINT as n_emails,
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') as text
        from injected
      ), s2 as (
        select doc_id, n_emails,
               len(regexp_extract_all(text,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                 ::BIGINT as n_ipv4s,
               regexp_replace(text,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                 '<IP>', 'g') as text
        from s1
      ), s3 as (
        select doc_id, n_emails, n_ipv4s,
               len(regexp_extract_all(text,
                 '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::BIGINT as n_ids,
               regexp_replace(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b',
                              '<ID>', 'g') as text
        from s2
      )
      select doc_id, n_emails, n_ipv4s, n_ids,
             sha256(text) as text_sha
      from s3
    """,
    "q_decontaminate": """
      with evals as (
        select distinct substr(text, 10, 20) as needle
        from documents where doc_id % 50 = 0 and len(substr(text, 10, 20)) > 0
      )
      select d.doc_id,
             exists(select 1 from evals e
                    where position(e.needle in d.text) > 0)
               as contaminated
      from documents d
    """,
    "q_sample_frames": """
      with m as (
        select 'vid://doc/' || doc_id::VARCHAR as media_ref,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT
                 as seed
        from documents
      )
      -- the fixture MP4 holds 3 samples (payload i = first 10+i
      -- bytes of sha256('frame{seed}:{i}')), sync samples 1 and 3,
      -- stts delta 200 at timescale 600 -> pts_ms 0 and 666
      select media_ref, 'avc1' as codec, idx::INT as frame_index,
             (i + 1)::INT as sample_number,
             ((i * 200 * 1000) // 600)::BIGINT as pts_ms,
             'yes' as is_sync,
             (10 + i)::BIGINT as n_bytes,
             sha256(substr(sha256('frame' || seed::VARCHAR || ':'
                                  || i::VARCHAR),
                           1, 2 * (10 + i))) as frame_sha
      from m, (values (0, 0), (1, 2)) as t(idx, i)
    """,
    "q_url_canonicalize": """
      select doc_id,
             'http://host' || (doc_id % 7)::VARCHAR || '.example.com/p'
               || doc_id::VARCHAR || '?q=1' as href,
             'host' || (doc_id % 7)::VARCHAR || '.example.com' as host
      from documents
    """,
    "q_minhash_dup_pairs": """
      with sigs as (%s),
      bands as (
        %s
      ),
      cand as (
        select distinct l.doc_id as doc_a, r.doc_id as doc_b
        from bands l join bands r
          on l.band = r.band and l.bucket = r.bucket
         and l.doc_id < r.doc_id
      ),
      toks as (
        select doc_id, list_distinct(%s) as t from documents
      ),
      scored as (
        select doc_a, doc_b,
               round(len(list_intersect(a.t, b.t))::DOUBLE /
                     len(list_distinct(a.t || b.t)), 6) as jaccard
        from cand join toks a on a.doc_id = cand.doc_a
                  join toks b on b.doc_id = cand.doc_b
      )
      select doc_a, doc_b, jaccard from scored where jaccard >= 0.5
    """ % (
        _minhash_sql(),
        "\n        union all\n        ".join(
            "select doc_id, %d as band, mh%d || '_' || mh%d as bucket from sigs"
            % (b, 2 * b, 2 * b + 1)
            for b in range(8)
        ),
        _tokens_sql(),
    ),
}


ORACLES["q_repetition"] = """
  with l as (
    select doc_id,
           list_filter(string_split(text, chr(10)), x -> x <> '') as lines
    from documents
  ),
  le as (select doc_id, unnest(lines) as line from l),
  pl as (
    select doc_id, line, count(*) as cnt, length(line) as ln
    from le group by doc_id, line
  ),
  pd as (
    select doc_id, sum(cnt)::bigint as n_lines,
           count(*)::bigint as n_distinct,
           sum(ln * cnt)::bigint as chars_all,
           sum(ln)::bigint as chars_dist
    from pl group by doc_id
  ),
  t as (select doc_id, %s as toks from documents),
  g as (
    select doc_id,
           [toks[i] || '_' || toks[i+1]
            for i in range(1, len(toks))] as grams
    from t
  ),
  ge as (select doc_id, unnest(grams) as gr from g),
  gc as (select doc_id, gr, count(*) as c from ge group by doc_id, gr),
  gt as (
    select doc_id, round(max(c)::double / sum(c), 6) as top_bigram_frac
    from gc group by doc_id
  )
  select d.doc_id,
         coalesce(n_lines, 0) as n_lines,
         round(coalesce((n_lines - n_distinct)::double
               / greatest(n_lines, 1), 0), 6) as dup_line_frac,
         round(coalesce((chars_all - chars_dist)::double
               / greatest(chars_all, 1), 0), 6) as dup_line_char_frac,
         coalesce(gt.top_bigram_frac, 0.0) as top_bigram_frac
  from documents d
  left join pd on pd.doc_id = d.doc_id
  left join gt on gt.doc_id = d.doc_id
""" % _tokens_sql()


# connected components over the (threshold-0.9) dup-pair graph: exact
# transitive closure via a recursive CTE + min aggregate — engine-
# independent ground truth for dup_clusters' large-star/small-star rounds
ORACLES["q_dup_clusters"] = """
  with recursive pairs as (
    %s
  ),
  edges as (
    select doc_a as src, doc_b as dst from pairs
    union all
    select doc_b as src, doc_a as dst from pairs
  ),
  nodes as (select distinct src as node from edges),
  reach(node, label) as (
    select node, node from nodes
    union
    select e.dst, r.label
    from reach r join edges e on e.src = r.node
  )
  select node as doc_id, min(label) as cluster_id
  from reach group by node
""" % ORACLES["q_minhash_dup_pairs"].replace(
    "jaccard >= 0.5", "jaccard >= 0.9"
)


ORACLES["q_dup_clusters_star"] = ORACLES["q_dup_clusters"]

# sequence packing: the oracle computes the SAME global running token
# count with a plain window (fine at oracle scale) and bins starting
# offsets by the 2048-token budget
ORACLES["q_pack_sequences"] = """
  with t as (
    select doc_id, len(%s) as n_tokens from documents
  ),
  c as (
    select doc_id, n_tokens,
           sum(n_tokens) over (
             order by doc_id
             rows between unbounded preceding and current row
           ) as cum
    from t
  )
  select ((cum - n_tokens) // 2048)::bigint as seq_id,
         count(*) as n_docs,
         sum(n_tokens)::bigint as total_tokens,
         min(doc_id) as first_doc_id,
         max(doc_id) as last_doc_id
  from c group by 1
""" % _tokens_sql()

ORACLES["q_pack_assignments"] = """
  with t as (
    select doc_id, len(%s) as n_tokens from documents
  ),
  c as (
    select doc_id, n_tokens,
           sum(n_tokens) over (
             order by doc_id
             rows between unbounded preceding and current row
           ) as cum
    from t
  )
  select doc_id,
         ((cum - n_tokens) // 2048)::bigint as seq_id,
         ((cum - n_tokens) - ((cum - n_tokens) // 2048) * 2048)
           ::bigint as offset_in_seq,
         n_tokens::bigint as n_tokens
  from c
""" % _tokens_sql()

# line-level dedup: same 60-bit md5 line hash, counts across the
# corpus, order-stable reassembly via string_agg(... order by pos)
ORACLES["q_line_dedup"] = """
  with lines as (
    select doc_id, u.pos, u.line,
           ('0x' || substr(md5(u.line), 1, 15))::BIGINT as lh
    from documents,
         lateral (
           select generate_subscripts(string_split(text, chr(10)), 1)
                    as pos,
                  unnest(string_split(text, chr(10))) as line
         ) u
  ),
  counts as (
    select lh, count(*) as line_count from lines group by lh
  ),
  kept as (
    select l.* from lines l join counts c using (lh)
    where c.line_count <= 2
  ),
  kept_agg as (
    select doc_id,
           string_agg(line, chr(10) order by pos) as text,
           count(*) as n_lines_kept
    from kept group by doc_id
  ),
  totals as (
    select doc_id, count(*) as n_lines from lines group by doc_id
  )
  select t.doc_id,
         coalesce(k.text, '') as text,
         coalesce(k.n_lines_kept, 0)::bigint as n_lines_kept,
         (t.n_lines - coalesce(k.n_lines_kept, 0))::bigint
           as n_lines_dropped
  from totals t left join kept_agg k using (doc_id)
"""


# deterministic sampling: u = first 60 md5 bits of key+NUL+salt over
# 2^60 — identical float in both engines, so membership is exact
_HASH_U = ("(('0x' || substr(md5(doc_id::VARCHAR || chr(0) || '%s'),"
           " 1, 15))::BIGINT / 1152921504606846976.0)")

ORACLES["q_hash_split"] = """
  select doc_id,
         case when %s < 0.9 then 'train'
              when %s < 0.95 then 'val'
              else 'test' end as split
  from documents
""" % (_HASH_U % "split", _HASH_U % "split")

ORACLES["q_stratified_sample"] = """
  with fr(source, f) as (
    values ('src0', 1.0), ('src1', 0.5), ('src2', 0.25), ('src3', 0.0)
  )
  select d.doc_id, d.source
  from documents d join fr using (source)
  where %s < fr.f
""" % (_HASH_U % "mix")


def oracle_sql() -> dict[str, str]:
    """DuckDB equivalents for every query — including LSH banding
    (unioned per-band bucket keys) and the canonicalization query
    (closed form of its synthetic construction; the WHATWG corpus +
    compiled-reference fuzz in tests/ remain the hard gates)."""
    return dict(ORACLES)
