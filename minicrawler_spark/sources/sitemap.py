"""Sitemap source (sitemaps.org protocol): seed a crawl frontier from
robots.txt `Sitemap:` lines and sitemap XML.

The reference takes URLs only from argv and redirects; a frontier
crawler's standard discovery channel is the sitemap protocol, so this
is a north-rule addition beside robots gating:

- `parse_sitemap(bytes)` — stdlib XML parse of <urlset> (page URLs +
  lastmod/priority) and <sitemapindex> (child sitemaps), transparent
  gzip (.xml.gz is the common encoding), namespace-agnostic, per-spec
  50k-entry cap per file.
- `discover_sitemaps(spark, seeds, ...)` — distributed fetch+parse:
  each level's sitemap URLs fan out over a mapInPandas stage (the
  same fetcher contract as the crawl engine, so fixtures/real sockets
  both work); index recursion runs level-by-level on the driver but
  only SITEMAP locations are ever collected (bounded by
  `max_sitemaps`) — the page-URL output stays distributed end to end.
- `sitemap_frontier(...)` — the discovered pages as frontier rows
  (priority from <priority>, inverted: the scheduler treats LOWER as
  sooner), ready for `crawl(spark, frontier_df, ...)`.
"""

from __future__ import annotations

import gzip
import json
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.local import local_frame

__all__ = [
    "parse_sitemap",
    "discover_sitemaps",
    "sitemap_frontier",
]

MAX_URLS_PER_SITEMAP = 50_000  # sitemaps.org: a file holds <= 50k URLs


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(data: bytes) -> Tuple[str, List[tuple]]:
    """-> ("index", [(loc,)]) for <sitemapindex>, or
    ("urlset", [(loc, lastmod, priority)]) for <urlset>.
    Raises ValueError on non-sitemap XML / undecodable input."""
    import xml.etree.ElementTree as ET

    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except OSError as e:
            raise ValueError("sitemap gzip: %s" % e)
    try:
        root = ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError("sitemap xml: %s" % e)
    kind = _local(root.tag)
    out: List[tuple] = []
    if kind == "sitemapindex":
        for sm in root:
            if _local(sm.tag) != "sitemap":
                continue
            loc = None
            for child in sm:
                if _local(child.tag) == "loc":
                    loc = (child.text or "").strip()
            if loc:
                out.append((loc,))
            if len(out) >= MAX_URLS_PER_SITEMAP:
                break
        return "index", out
    if kind == "urlset":
        for u in root:
            if _local(u.tag) != "url":
                continue
            loc, lastmod, priority = None, None, None
            for child in u:
                t = _local(child.tag)
                text = (child.text or "").strip()
                if t == "loc":
                    loc = text
                elif t == "lastmod":
                    lastmod = text
                elif t == "priority":
                    try:
                        priority = float(text)
                    except ValueError:
                        priority = None
            if loc:
                out.append((loc, lastmod, priority))
            if len(out) >= MAX_URLS_PER_SITEMAP:
                break
        return "urlset", out
    raise ValueError("not a sitemap root: %s" % kind)


def _fetch_level(spark: SparkSession, sm_urls: List[str],
                 fetcher_spec: str, sdict: dict) -> DataFrame:
    """One distributed fetch+parse pass over a level's sitemap URLs:
    rows (sitemap_url, kind, loc, lastmod, priority, status) — kind
    'sitemap' for index children, 'url' for pages, 'error' rows keep
    the failure visible."""
    from urllib.parse import urlsplit

    from .httpfetch import MAX_RESPONSE  # noqa: F401 (doc anchor)

    def stage(batches: Iterator):
        import pandas as pd

        from ..functions.httpproto import DEFAULT_AGENT, decode_response
        from ..streaming.crawl import resolve_fetcher

        fetcher = resolve_fetcher(sdict["fetcher"], sdict)
        agent = sdict.get("customagent") or DEFAULT_AGENT

        def one(url):
            host = urlsplit(url).netloc
            try:
                raw, _delay = fetcher(
                    "GET", url, {"Host": host, "User-Agent": agent}, None
                )
            except Exception as e:
                return [(url, "error", str(e), None, None, -1)]
            decoded = decode_response(raw)
            if decoded is None:
                return [(url, "error", "bad response head", None, None, -1)]
            status, body = decoded
            if not (200 <= status < 300):
                return [(url, "error", "status", None, None, status)]
            try:
                kind, items = parse_sitemap(body)
            except ValueError as e:
                return [(url, "error", str(e), None, None, status)]
            if kind == "index":
                return [
                    (url, "sitemap", loc, None, None, status)
                    for (loc,) in items
                ]
            return [
                (url, "url", loc, lastmod, priority, status)
                for (loc, lastmod, priority) in items
            ]

        for pdf in batches:
            rows = []
            for url in pdf["sitemap_url"]:
                rows.extend(one(url))
            yield pd.DataFrame(
                rows,
                columns=["sitemap_url", "kind", "loc", "lastmod",
                         "priority", "status"],
            )

    df = local_frame(
        spark, [(u,) for u in sm_urls], "sitemap_url string"
    ).repartition(max(1, min(len(sm_urls), 32)))
    return df.mapInPandas(
        stage,
        "sitemap_url string, kind string, loc string, lastmod string, "
        "priority double, status int",
    )


def discover_sitemaps(
    spark: SparkSession,
    seeds: List[str],
    fetcher_spec: str = "minicrawler_spark.sources.fixtures:fixture_fetcher",
    settings=None,
    max_depth: int = 3,
    max_sitemaps: int = 10_000,
) -> DataFrame:
    """Walk sitemap indexes breadth-first from seed sitemap URLs
    (e.g. robots.txt `Sitemap:` lines via
    functions.robots.sitemaps_in_robots). Only sitemap LOCATIONS are
    collected between levels (bounded by max_sitemaps); page rows
    accumulate as a lazy union, distributed throughout. Returns
    (sitemap_url, kind, loc, lastmod, priority, status) incl. error
    rows."""
    from ..config import CrawlSettings

    sdict = (settings or CrawlSettings()).as_dict()
    sdict["fetcher"] = fetcher_spec
    seen = set(seeds)
    level = list(seeds)
    outs = []
    for _depth in range(max_depth):
        if not level:
            break
        out = _fetch_level(spark, level, fetcher_spec, sdict)
        out = out.localCheckpoint(eager=False)
        outs.append(out)
        # bounded driver collect: child SITEMAP urls only, never pages
        children = [
            r["loc"]
            for r in out.filter(F.col("kind") == "sitemap")
            .select("loc").distinct()
            .limit(max_sitemaps).collect()
        ]
        level = [u for u in children if u not in seen][:max_sitemaps]
        seen.update(level)
    if not outs:
        # empty seed list (a robots.txt with no Sitemap: lines) or
        # max_depth=0: an empty result, not an IndexError (ADVICE r3)
        return local_frame(
            spark,
            [],
            "sitemap_url string, kind string, loc string, "
            "lastmod string, priority double, status int",
        )
    res = outs[0]
    for extra in outs[1:]:
        res = res.unionByName(extra)
    return res


def sitemap_frontier(discovered: DataFrame, settings=None) -> DataFrame:
    """Discovered page rows -> frontier rows for crawl(): priority
    inverted (sitemap 1.0 = most important; the scheduler's FIFO is
    (priority ASC, seq)), seq = xxhash64(loc) for a deterministic
    tiebreak, one row per distinct URL."""
    from ..config import CrawlSettings
    from ..streaming.crawl import FRONTIER_SCHEMA

    s = settings or CrawlSettings()
    pages = (
        discovered.filter(F.col("kind") == "url")
        .select("loc", "priority")
        .dropDuplicates(["loc"])
    )
    # UNIQUE frontier index (ADVICE r5): the previous 31-bit
    # xxhash64(loc) collides with ~50% probability at ~77k URLs
    # (large sitemaps exceed that routinely), conflating
    # output-to-input attribution. Dense unique ids in global loc
    # order via the two-phase distributed prefix sum (the
    # packing.py discipline): range-partition by loc, collect ONE
    # row per partition (bounded by cluster size, not data), then
    # a partition-local row_number plus the broadcast offset — all
    # JVM-side, no per-row Python (an rdd.zipWithIndex here would
    # pickle every row through Python twice), and never the
    # single-partition shuffle of a global row_number window.
    # monotonically_increasing_id stays out for the r3 reason
    # (partition id in the upper bits overflows int).
    from pyspark.sql import Window

    spark = discovered.sparkSession
    d = (
        pages.repartitionByRange(F.col("loc"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin pids; counts + numbering read one scan
    )
    pcounts = sorted(
        (r["pid"], r["n"])
        for r in d.groupBy("pid").agg(F.count("*").alias("n")).collect()
    )
    offsets = []
    running = 0
    for pid, cnt in pcounts:
        offsets.append((pid, running))
        running += cnt
    off_df = F.broadcast(
        local_frame(spark, offsets or [(0, 0)], "pid int, p_offset long")
    )
    w = Window.partitionBy("pid").orderBy("loc")
    pages = (
        d.join(off_df, "pid")
        .withColumn(
            "index",
            (F.col("p_offset") + F.row_number().over(w) - 1).cast("int"),
        )
        .select("index", "loc", "priority")
    )
    return pages.select(
        F.col("index"),
        F.col("loc").alias("rawurl"),
        F.lit(None).cast("string").alias("base"),
        F.lit(0).alias("depth"),
        F.xxhash64("loc").alias("seq"),
        (1.0 - F.coalesce("priority", F.lit(0.5))).alias("priority"),
        F.lit(s.max_redirects).alias("redirect_limit"),
        F.lit("GET").alias("method"),
        F.lit(None).cast("binary").alias("post"),
        F.lit(None).cast("string").alias("authorization"),
        F.lit(False).alias("auth_attempt"),
        F.lit("[]").alias("cookies_json"),
        F.lit("[]").alias("redirect_json"),
        F.lit(None).cast("string").alias("customheader"),
        F.lit(0).cast("long").alias("elapsed_ms"),
    )
