"""The three benchmark workloads: inputs from a seed, one call of the
program's public entry points per iteration, output checks, and the
per-layer metrics of a traced iteration.

Each workload has the same shape:

    w = Workload(spark, seed, size, workdir)
    w.setup()                 # generate and load the inputs
    res = w.run(fetcher)      # one iteration; returns a result object
    errors = w.check(res)     # [] when every output check passes
    w.layers(res, trace)      # per-layer metrics of a traced iteration
    w.cleanup(res)

`ops` is the number of operations one iteration attempts (a URL in
`frontier`, a fetch in `crawl`, a document in `corpus`).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time
from collections import Counter, defaultdict

from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench.probes import PY_RECV, PY_SENT, PY_TIME, busy_union, dir_bytes

PLAIN_FETCHER = "minicrawler_spark.sources.fixtures:fixture_fetcher"
TIMING_FETCHER = "perfbench.timing_fetcher:fetch"


def _coprime(rng: random.Random, m: int) -> int:
    while True:
        r = rng.randrange(max(2, m // 3), m)
        if math.gcd(r, m) == 1:
            return r


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _frame_digest(df):
    """(row count, order-free digest) of a DataFrame, computed in Spark:
    the count and the sum of the rows' xxhash64 values."""
    r = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return r[0], "%d:%s" % (r[0], r[1])


def _is_urlnorm(node: str) -> bool:
    return node.startswith("MapInPandas stage(") and "errkind#" in node


# --------------------------------------------------------------------------
# frontier: canonicalize -> xxhash64 -> URL-seen dedup -> politeness slots
# --------------------------------------------------------------------------


class Frontier:
    """Messy seeded frontier in the shape of bench.py's
    synthetic_frontier: 9973 hosts, 5/8 already canonical, 3/8 needing
    WHATWG work (case + default port, dot segments, percent forms and
    fragments), and exactly N/10 duplicates after canonicalization.
    The seed picks which key gets which host/path/variant (a seeded
    bijection on the keys) and the arrival order (`seq`, a seeded
    permutation)."""

    name = "frontier"
    SIZES = {"full": 2_000_000, "tiny": 20_000}
    SAMPLE = 10_000

    def __init__(self, spark, seed: int, size: str, workdir: str):
        self.spark = spark
        self.seed = seed
        self.n = self.SIZES[size]
        self.ops = self.n
        self.inputs = None

    def setup(self):
        if self.inputs is not None:
            self.inputs.unpersist()
        n, m = self.n, 9 * self.n // 10
        rng = random.Random(self.seed)
        a, b = _coprime(rng, m), rng.randrange(m)
        c, d = _coprime(rng, n), rng.randrange(n)
        k = ((F.col("id") % m) * a + b) % m
        keyed = self.spark.range(n).select(
            ((F.col("id") * c + d) % n).alias("seq"),
            (k % 9973).alias("h"),
            (k % 8).alias("v"),
            (k % 5000).alias("p"),
        )
        url = (
            F.when(F.col("v") < 5, F.format_string(
                "http://host%d.example.com/page/%d?q=%d", "h", "p", "v"))
            .when(F.col("v") == 5, F.format_string(
                "HTTP://HOST%d.Example.COM:80/page/%d", "h", "p"))
            .when(F.col("v") == 6, F.format_string(
                "http://host%d.example.com/a/../page/%d", "h", "p"))
            .otherwise(F.format_string(
                "http://host%d.example.com/p%%61ge/%d#frag", "h", "p"))
        )
        self.inputs = keyed.select(
            "seq", url.alias("rawurl"), F.lit(None).cast("string").alias("base")
        ).cache()
        self.inputs.count()

    def run(self, fetcher: str):
        from minicrawler_spark.streaming.crawl import _canonicalize_df

        self.spark.sparkContext.setJobGroup("perfbench.frontier", "frontier")
        canon = _canonicalize_df(self.inputs)
        hashed = canon.filter(F.col("errkind") == "").withColumn(
            "url_hash", F.xxhash64("href"))
        deduped = hashed.dropDuplicates(["url_hash"])
        w = Window.partitionBy("host").orderBy("seq")
        scheduled = deduped.withColumn("slot", F.row_number().over(w) - 1)
        return scheduled.groupBy("host").agg(
            F.count("*").alias("n"), F.min("slot").alias("lo"),
            F.max("slot").alias("hi"),
        ).collect()

    def scheduled(self, res) -> int:
        return sum(r["n"] for r in res)

    def check(self, res) -> list:
        errors = []
        want = 9 * self.n // 10
        if self.scheduled(res) != want:
            errors.append("scheduled %d URLs, want %d" % (self.scheduled(res), want))
        bad = [r["host"] for r in res if r["lo"] != 0 or r["hi"] != r["n"] - 1]
        if bad:
            errors.append("%d hosts with non-contiguous slots, e.g. %s" % (len(bad), bad[0]))
        return errors

    def failed(self, res) -> int:
        return 0

    def final_check(self) -> list:
        """A seeded sample of URLs through the Spark stage must match
        the scalar functions.urlnorm.canonicalize."""
        from minicrawler_spark.functions.urlnorm import canonicalize
        from minicrawler_spark.streaming.crawl import _canonicalize_df

        stride = self.n // self.SAMPLE
        sample = self.inputs.filter(F.col("seq") % stride == self.seed % stride)
        self.spark.sparkContext.setJobGroup("perfbench.check", "sample check")
        rows = _canonicalize_df(sample).select("rawurl", "href", "errkind").collect()
        errors = []
        if len(rows) != self.SAMPLE:
            errors.append("sample has %d rows, want %d" % (len(rows), self.SAMPLE))
        wrong = [r for r in rows
                 if r["errkind"] != "" or r["href"] != canonicalize(r["rawurl"])[0]]
        if wrong:
            errors.append("%d sampled URLs differ from the scalar canonicalize, e.g. %s"
                          % (len(wrong), wrong[0]["rawurl"]))
        return errors

    def layers(self, res, tr) -> dict:
        jobs = tr.jobs
        stages = tr.ev.stages_of(jobs)
        # stage order of the one query: [0] scan + canonicalize + hash +
        # partial dedup (writes the dedup exchange), [1] final dedup
        # (writes the by-host exchange), [2] the politeness window
        sw = [tr.ev.stage_sum([s], "sw") for s in stages]
        scheduled = self.scheduled(res)
        return {
            "urls_per_s": self.n / tr.wall,
            "urlnorm.rows": tr.ev.node_metric(_is_urlnorm, "number of output rows", jobs),
            "urlnorm.py_s": tr.ev.node_metric(_is_urlnorm, PY_TIME, jobs) / 1000.0,
            "urlnorm.arrow_bytes": tr.ev.node_metric(_is_urlnorm, PY_SENT, jobs)
            + tr.ev.node_metric(_is_urlnorm, PY_RECV, jobs),
            "seen.candidates": self.n,
            "seen.novel_frac": scheduled / self.n,
            "seen.shuffle_bytes": sw[0] if sw else 0,
            "politeness.shuffle_bytes": sw[1] if len(sw) > 1 else 0,
            "politeness.task_skew": tr.ev.task_skew(stages[2:3]),
            "politeness.max_slot": max(r["hi"] for r in res),
        }

    def cleanup(self, res):
        pass


# --------------------------------------------------------------------------
# crawl: the production crawl() configuration over the fixture web
# --------------------------------------------------------------------------


class Crawl:
    """crawl() over the fixture web with extract_links, dedup and
    respect_robots, a fresh checkpoint_dir per iteration (sharded
    SeenFilter + snapshot commits) and report={}. The seed picks the
    seed hosts (out of host0..host4095), their start pages and the
    order of the seed list."""

    name = "crawl"
    SIZES = {"full": (32, 4), "tiny": (8, 1)}
    MAX_DEPTH = 1
    MAX_ROUNDS = 4

    def __init__(self, spark, seed: int, size: str, workdir: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.workdir = workdir
        self.n_hosts, self.pages = self.SIZES[size]
        self.seeds = []
        self.reference = None
        self.ops = 0
        self._iter = 0

    def settings(self):
        from minicrawler_spark.config import CrawlSettings

        return CrawlSettings(
            timeout=3600, extract_links=True, dedup=True, respect_robots=True,
            max_depth=self.MAX_DEPTH, max_rounds=self.MAX_ROUNDS,
        )

    def setup(self):
        rng = random.Random(self.seed)
        seeds = [
            "http://host%d.test/page/%d" % (h, p)
            for h in rng.sample(range(4096), self.n_hosts)
            for p in rng.sample(range(50), self.pages)
        ]
        rng.shuffle(seeds)
        self.seeds = seeds

    def run(self, fetcher: str):
        from minicrawler_spark.streaming.crawl import crawl

        self._iter += 1
        ck = os.path.join(self.workdir, "crawl-ck-%d" % self._iter)
        report = {}
        res = crawl(
            self.spark, self.seeds, self.settings(), fetcher_spec=fetcher,
            checkpoint_dir=ck, report=report,
        )
        self.spark.sparkContext.setJobGroup("perfbench.crawl.results", "results")
        rows = res.select(
            "href", "host", "outcome", "status", "round", "downstart"
        ).collect()
        out = {"rows": rows, "report": report, "ck": ck}
        self.ops = sum(1 for r in rows if r["outcome"] != "robots")
        return out

    def summary(self, res) -> dict:
        rows = res["rows"]
        return {
            "results": len(rows),
            "outcomes": dict(sorted(Counter(r["outcome"] for r in rows).items())),
            "digest": _digest((r["href"], r["outcome"], r["status"]) for r in rows),
        }

    def _delays(self, hosts) -> dict:
        """Per-host politeness delay the schedule must respect:
        max(settings.delay, the host's robots.txt Crawl-delay)."""
        from minicrawler_spark.functions.robots import parse_robots
        from minicrawler_spark.sources.fixtures import fixture_response

        base = self.settings().delay
        out = {}
        for host in hosts:
            raw, _ = fixture_response("GET", "http://%s/robots.txt" % host, {}, None)
            body = raw.split(b"\r\n\r\n", 1)[1].decode()
            _rules, delay_s = parse_robots(body, "minicrawler")
            out[host] = max(base, int(delay_s * 1000) if delay_s else 0)
        return out

    def check(self, res) -> list:
        errors = []
        rows = res["rows"]
        summary = self.summary(res)
        if self.reference is None:
            self.reference = summary
        elif summary != self.reference:
            errors.append("results differ between iterations: %s vs %s"
                          % (summary, self.reference))
        pinned = EXPECTED.get("crawl", {}).get(self.size, {}).get(str(self.seed))
        if pinned is not None and {k: summary[k] for k in pinned} != pinned:
            errors.append("results %s differ from the pinned %s" % (summary, pinned))
        if summary["results"] == 0:
            errors.append("crawl returned no results")
        # rows that failed URL parsing carry no href and were not fetched
        hrefs = Counter(r["href"] for r in rows if r["href"] is not None)
        twice = [h for h, c in hrefs.items() if c > 1]
        if twice:
            errors.append("%d URLs fetched more than once, e.g. %s" % (len(twice), twice[0]))
        waits = defaultdict(list)
        for r in rows:
            if r["downstart"] is not None:
                waits[(r["host"], r["round"])].append(r["downstart"])
        delays = self._delays({h for h, _ in waits})
        for (host, rnd), ws in waits.items():
            ws.sort()
            gaps = [b - a for a, b in zip(ws, ws[1:])]
            if gaps and min(gaps) < delays[host]:
                errors.append("host %s round %d waits %s apart, delay is %d ms"
                              % (host, rnd, min(gaps), delays[host]))
                break
        return errors

    def failed(self, res) -> int:
        return sum(1 for r in res["rows"] if r["outcome"] == "error")

    def final_check(self) -> list:
        return []

    def layers(self, res, tr) -> dict:
        from perfbench.timing_fetcher import read_records

        ev, jobs = tr.ev, tr.jobs
        rows, report = res["rows"], res["report"]
        rounds = defaultdict(list)
        crawl_jobs = 0
        for j in jobs:
            group = ev.jobs[j]["group"].split("|")[0]
            if group.startswith("crawl-"):
                crawl_jobs += 1
            if "-round-" in group:
                rounds[group].append(ev.jobs[j])
        seen_jobs = [j for j in jobs if "|seen." in ev.jobs[j]["group"]]
        cand = sum(r.get("candidates", 0) for r in report["rounds"])
        novel = sum(r.get("scheduled", 0) for r in report["rounds"])
        recs = read_records(tr.fetch_log, tr.t0, tr.t1)
        robots = [r for r in recs if r[4].endswith("/robots.txt")]
        pages = [r for r in recs if not r[4].endswith("/robots.txt")]
        fetch_stage = lambda s: s.startswith("MapInPandas fetch_stage(")
        # a round repartitions by host once; the politeness window and
        # the fetch then run in the stage that reads that exchange
        by_host = lambda s: (s.startswith("Exchange hashpartitioning(host")
                             and "REPARTITION_BY_NUM" in s)
        slots = Counter((r["host"], r["round"]) for r in rows if r["downstart"] is not None)
        commits = tr.spans("snapshots.commit")
        return {
            "pages_per_s": len(rows) / tr.wall,
            "crawl.rounds": len(report["rounds"]),
            "crawl.spark_jobs": crawl_jobs,
            "crawl.jobs_per_round_max": max((len(v) for v in rounds.values()), default=0),
            "crawl.driver_gap_s": tr.wall - busy_union(
                (ev.jobs[j]["start"], ev.jobs[j]["end"]) for j in jobs),
            "crawl.round_s_max": max(
                (max(j["end"] for j in v) - min(j["start"] for j in v)
                 for v in rounds.values()), default=0.0),
            "urlnorm.rows": ev.node_metric(_is_urlnorm, "number of output rows", jobs),
            "urlnorm.py_s": ev.node_metric(_is_urlnorm, PY_TIME, jobs) / 1000.0,
            "urlnorm.arrow_bytes": ev.node_metric(_is_urlnorm, PY_SENT, jobs)
            + ev.node_metric(_is_urlnorm, PY_RECV, jobs),
            "seen.candidates": cand,
            "seen.novel_frac": novel / cand if cand else 0.0,
            "seen.novel_s": sum(b - a for a, b in tr.spans("seen.novel")),
            "seen.add_s": sum(b - a for a, b in tr.spans("seen.add")),
            "seen.bytes_written": dir_bytes(os.path.join(res["ck"], "seen")),
            "seen.shuffle_bytes": ev.stage_sum(ev.stages_of(seen_jobs), "sw"),
            "politeness.shuffle_bytes": ev.node_metric(by_host, "shuffle bytes written", jobs),
            "politeness.task_skew": ev.task_skew(ev.node_stages(fetch_stage, PY_TIME, jobs)),
            "politeness.max_slot": max(slots.values(), default=1) - 1,
            "fetch.calls": len(pages),
            "fetch.fetcher_s": sum(r[1] for r in pages),
            "fetch.stage_s": ev.node_metric(fetch_stage, PY_TIME, jobs) / 1000.0,
            "fetch.bytes": sum(r[3] for r in pages),
            "fetch.redirects": sum(1 for r in pages if 300 <= r[2] < 400),
            "fetch.errors": self.failed(res),
            "robots.hosts": len(robots),
            "robots.denied": sum(1 for r in rows if r["outcome"] == "robots"),
            "robots.fetch_s": sum(r[1] for r in robots),
            "snapshots.commits": len(commits),
            "snapshots.commit_s": sum(b - a for a, b in commits),
            "snapshots.bytes_written": dir_bytes(os.path.join(res["ck"], "frontier")),
        }

    def cleanup(self, res):
        shutil.rmtree(res["ck"], ignore_errors=True)


# Expected outputs, recorded with `run.py --record`: crawl result
# counts per size and seed (a seed without an entry is checked for
# iteration-to-iteration identity and the invariants only) and the
# corpus digests per size (the same for every seed).
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


EXPECTED = load_expected()


# --------------------------------------------------------------------------
# corpus: the build_corpus text chain plus embedding near-dups
# --------------------------------------------------------------------------

CORPUS_OPS = ("line_dedup", "exact_dedup", "minhash_dup_pairs",
              "dup_clusters", "embedding_near_dups")


DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def corpus_table(spark, name: str, columns, n: int, seed: int, partitions: int):
    """The rows with id < n of one sf0.1 table under perfbench/data/sf0.1
    (documents: 5000 rows, embeddings: 2000 64-d vectors; ids run from
    0), cached. A seeded hash of the id decides which of the
    `partitions` partitions a row lands in and its place there."""
    key = columns[0]
    order = F.xxhash64(key, F.lit(seed))
    return (spark.read.parquet(os.path.join(DATA_DIR, name + ".parquet"))
            .select(*columns).filter(F.col(key) < n)
            .repartition(partitions, order).sortWithinPartitions(order).cache())


class Corpus:
    """The build_corpus text chain, each stage materialized once under
    its own job group: line_dedup -> exact_dedup -> minhash_dup_pairs
    (0.8) -> dup_clusters -> quality/repetition -> scrub_pii ->
    hash_split -> pack_token_sequences, then embedding_near_dups
    (0.45). The inputs are the first 500 of sf0.1's 5000 documents and
    the first 500 of its 2000 embeddings. The seed decides which
    partition each row lands in and the row order; the outputs must not
    change with it."""

    name = "corpus"
    SIZES = {"full": (500, 500), "tiny": (500, 200)}
    PARTITIONS = 8

    def __init__(self, spark, seed: int, size: str, workdir: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.n_docs, self.n_vecs = self.SIZES[size]
        self.ops = self.n_docs
        self.docs = self.vecs = None
        self.reference = None

    def setup(self):
        for df in (self.docs, self.vecs):
            if df is not None:
                df.unpersist()
        self.docs = corpus_table(self.spark, "documents", ["doc_id", "text"],
                                 self.n_docs, self.seed, self.PARTITIONS)
        self.vecs = corpus_table(self.spark, "embeddings", ["vec_id", "embedding", "label"],
                                 self.n_vecs, self.seed, self.PARTITIONS)
        self.docs.count()
        self.vecs.count()

    def run(self, fetcher: str):
        from minicrawler_spark.operators.dedup import (
            dup_clusters, embedding_near_dups, exact_dedup, line_dedup,
            minhash_dup_pairs,
        )
        from minicrawler_spark.operators.packing import pack_token_sequences
        from minicrawler_spark.operators.sampling import hash_split
        from minicrawler_spark.operators.textstats import (
            quality_score, repetition_stats, scrub_pii,
        )

        sc = self.spark.sparkContext
        spans, kept = {}, []

        def stage(name, build):
            sc.setJobGroup("perfbench.corpus." + name, name)
            t0 = time.time()
            df = build().persist()
            df.count()
            spans[name] = time.time() - t0
            kept.append(df)
            return df

        ld = stage("line_dedup", lambda: line_dedup(self.docs, max_count=2)
                   .filter(F.length("text") >= 1).select("doc_id", "text"))
        kept_docs = stage("exact_dedup", lambda: ld.join(
            exact_dedup(ld).select(F.col("keep_doc_id").alias("doc_id")),
            "doc_id", "left_semi"))
        pairs = stage("minhash_dup_pairs",
                      lambda: minhash_dup_pairs(kept_docs, threshold=0.8))
        clusters = stage("dup_clusters", lambda: dup_clusters(pairs))

        def filtered():
            losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
            survivors = kept_docs.join(losers, "doc_id", "left_anti")
            q = quality_score(survivors).select("doc_id", "quality")
            rep = repetition_stats(survivors).select(
                "doc_id", "dup_line_frac", "top_bigram_frac")
            good = (survivors.join(q, "doc_id").join(rep, "doc_id")
                    .filter((F.col("quality") >= 0.25)
                            & (F.col("dup_line_frac") <= 0.5)
                            & (F.col("top_bigram_frac") <= 0.5)))
            return hash_split(scrub_pii(good), {"train": 0.9, "val": 0.05, "test": 0.05})

        split = stage("textstats", filtered)
        packed = stage("packing", lambda: pack_token_sequences(
            split.filter(F.col("split") == "train").select("doc_id", "text"),
            budget=2048))
        emb = stage("embedding_near_dups",
                    lambda: embedding_near_dups(self.vecs, threshold=0.45))

        sc.setJobGroup("perfbench.corpus.results", "results")
        out = {k: _frame_digest(df) for k, df in (
            ("survivors", split.select("doc_id", "split", "text")), ("pairs", pairs),
            ("clusters", clusters.select("doc_id", "cluster_id")), ("packed", packed),
            ("embed", emb))}
        fill = packed.agg(F.sum("total_tokens")).first()[0]
        return {"out": out, "spans": spans, "kept": kept, "packed_tokens": fill}

    def digests(self, res) -> dict:
        return {k: v[1] for k, v in res["out"].items()}

    def check(self, res) -> list:
        errors = []
        got = self.digests(res)
        counts = {k: v[0] for k, v in res["out"].items()}
        if self.reference is None:
            self.reference = got
        elif got != self.reference:
            errors.append("outputs differ between iterations")
        want = EXPECTED.get("corpus", {}).get(self.size)
        if want is not None and got != want:
            errors.append("digests %s differ from the pinned %s" % (got, want))
        empty = [k for k, n in counts.items() if n == 0]
        if empty:
            errors.append("empty outputs: %s" % empty)
        return errors

    def failed(self, res) -> int:
        return 0

    def final_check(self) -> list:
        return []

    def layers(self, res, tr) -> dict:
        ev = tr.ev
        out = {"docs_per_s": self.n_docs / tr.wall}
        by_group = defaultdict(list)
        for j in tr.jobs:
            by_group[ev.jobs[j]["group"]].append(j)
        for op in CORPUS_OPS:
            jobs = by_group.get("perfbench.corpus." + op, [])
            stages = ev.stages_of(jobs)
            out[op + ".s"] = res["spans"][op]
            out[op + ".shuffle_bytes"] = ev.stage_sum(stages, "sw")
            out[op + ".task_skew"] = ev.task_skew(stages)
        cand = lambda key: (
            lambda s: s.startswith("Exchange hashpartitioning(%s" % key))
        out["minhash.candidates"] = ev.node_metric(
            cand("hid_a"), "shuffle records written",
            by_group["perfbench.corpus.minhash_dup_pairs"])
        out["minhash.verified"] = res["out"]["pairs"][0]
        out["embed.candidates"] = ev.node_metric(
            cand("vec_a"), "shuffle records written",
            by_group["perfbench.corpus.embedding_near_dups"])
        out["embed.verified"] = res["out"]["embed"][0]
        out["dup_clusters.jobs"] = len(by_group["perfbench.corpus.dup_clusters"])
        out["textstats.s"] = res["spans"]["textstats"]
        out["packing.s"] = res["spans"]["packing"]
        n_packed = res["out"]["packed"][0]
        out["packing.fill_frac"] = (
            res["packed_tokens"] / (2048.0 * n_packed) if n_packed else 0.0)
        return out

    def cleanup(self, res):
        for df in res["kept"]:
            df.unpersist()


WORKLOADS = {w.name: w for w in (Frontier, Crawl, Corpus)}
