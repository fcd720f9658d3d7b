"""Sitemap source (sources/sitemap.py): XML/index/gzip parsing,
robots.txt Sitemap: discovery, distributed fetch+recursion, and
frontier feeding."""

import gzip
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from minicrawler_spark.functions.robots import sitemaps_in_robots
from minicrawler_spark.sources.sitemap import (
    discover_sitemaps,
    parse_sitemap,
    sitemap_frontier,
)

SM_NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _urlset(entries):
    rows = "".join(
        "<url><loc>%s</loc>%s%s</url>"
        % (
            loc,
            "<lastmod>%s</lastmod>" % lastmod if lastmod else "",
            "<priority>%s</priority>" % pri if pri is not None else "",
        )
        for loc, lastmod, pri in entries
    )
    return ('<?xml version="1.0"?><urlset %s>%s</urlset>'
            % (SM_NS, rows)).encode()


def _index(locs):
    rows = "".join(
        "<sitemap><loc>%s</loc></sitemap>" % l for l in locs
    )
    return ('<?xml version="1.0"?><sitemapindex %s>%s</sitemapindex>'
            % (SM_NS, rows)).encode()


def test_parse_sitemap_urlset_index_gzip():
    kind, items = parse_sitemap(_urlset([
        ("http://a.test/1", "2025-01-02", 0.8),
        ("http://a.test/2", None, None),
    ]))
    assert kind == "urlset"
    assert items == [
        ("http://a.test/1", "2025-01-02", 0.8),
        ("http://a.test/2", None, None),
    ]
    kind, items = parse_sitemap(_index(["http://a.test/s1.xml"]))
    assert kind == "index"
    assert items == [("http://a.test/s1.xml",)]
    # transparent gzip (.xml.gz)
    kind, items = parse_sitemap(gzip.compress(_urlset(
        [("http://a.test/3", None, None)]
    )))
    assert kind == "urlset" and items[0][0] == "http://a.test/3"
    for bad in (b"<html></html>", b"not xml", b"\x1f\x8btruncated"):
        with pytest.raises(ValueError):
            parse_sitemap(bad)


def test_sitemaps_in_robots():
    text = (
        "User-agent: *\nDisallow: /private\n"
        "Sitemap: https://x.test/sitemap.xml\n"
        "sitemap:   http://x.test/other.xml  # comment\n"
        "Sitemap:\n"  # empty -> ignored
    )
    assert sitemaps_in_robots(text) == [
        "https://x.test/sitemap.xml",
        "http://x.test/other.xml",
    ]


@pytest.fixture
def sitemap_server():
    """Loopback host: /robots.txt advertises an index that fans out to
    a plain urlset and a gzipped one; /broken.xml is not a sitemap."""
    pages = {}

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_GET(self):
            body, ctype = pages.get(self.path, (b"nope", "text/plain"))
            status = 200 if self.path in pages else 404
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    origin = "http://127.0.0.1:%d" % srv.server_address[1]
    pages["/robots.txt"] = (
        ("User-agent: *\nAllow: /\nSitemap: %s/idx.xml\n" % origin).encode(),
        "text/plain",
    )
    pages["/idx.xml"] = (
        _index(["%s/a.xml" % origin, "%s/b.xml.gz" % origin,
                "%s/broken.xml" % origin]),
        "application/xml",
    )
    pages["/a.xml"] = (
        _urlset([("%s/p1" % origin, "2025-03-01", 0.9),
                 ("%s/p2" % origin, None, None)]),
        "application/xml",
    )
    pages["/b.xml.gz"] = (
        gzip.compress(_urlset([("%s/p3" % origin, None, 0.2)])),
        "application/octet-stream",
    )
    pages["/broken.xml"] = (b"<html>not a sitemap</html>",
                            "text/html")
    for p in ("/p1", "/p2", "/p3"):
        pages[p] = (b"page body " + p.encode(), "text/plain")
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield origin
    srv.shutdown()


def test_discover_empty_seeds_returns_empty_frame(spark):
    """ADVICE r3: a robots.txt with no Sitemap: lines feeds an empty
    seed list — that returns an empty typed DataFrame, not an
    IndexError; same for max_depth=0."""
    cols = ["sitemap_url", "kind", "loc", "lastmod", "priority",
            "status"]
    out = discover_sitemaps(spark, [])
    assert out.columns == cols and out.count() == 0
    out0 = discover_sitemaps(
        spark, ["http://host0.test/sitemap.xml"], max_depth=0
    )
    assert out0.columns == cols and out0.count() == 0
    # and the frontier adapter accepts the empty result
    assert sitemap_frontier(out).count() == 0


def test_sitemap_frontier_index_stable_nonnegative(spark):
    """ADVICE r3 + r5: the frontier index must not overflow the
    32-bit cast for rows outside partition 0, must be UNIQUE per URL
    (a 31-bit hash collides at ~77k URLs, conflating attribution),
    and must be identical across repartitionings (deterministic:
    dense ids in global loc order)."""
    rows = [("http://s.test/sm.xml", "url", "http://s.test/p%d" % i,
             None, 0.5, 200) for i in range(500)]
    schema = ("sitemap_url string, kind string, loc string, "
              "lastmod string, priority double, status int")
    one = spark.createDataFrame(rows, schema).coalesce(1)
    many = spark.createDataFrame(rows, schema).repartition(16)
    f1 = {r["rawurl"]: r["index"]
          for r in sitemap_frontier(one).collect()}
    f2 = {r["rawurl"]: r["index"]
          for r in sitemap_frontier(many).collect()}
    assert f1 == f2  # partitioning-independent
    assert all(0 <= v < 2 ** 31 for v in f1.values())
    # dense + unique: 500 URLs -> exactly ids 0..499, in loc order
    assert sorted(f1.values()) == list(range(500))
    assert [u for u, _i in sorted(f1.items(), key=lambda t: t[1])] \
        == sorted(f1)


def test_discover_and_crawl_from_sitemaps(spark, sitemap_server):
    """robots Sitemap: line -> index -> urlsets (one gzipped) -> page
    URLs, then the discovered frontier drives a real crawl; the
    broken child surfaces as an error row, never silently drops."""
    import urllib.request

    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    origin = sitemap_server
    robots = urllib.request.urlopen(origin + "/robots.txt").read()
    seeds = sitemaps_in_robots(robots.decode())
    assert seeds == [origin + "/idx.xml"]

    disc = discover_sitemaps(
        spark, seeds,
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        settings=CrawlSettings(timeout=30),
    )
    rows = disc.collect()
    pages = sorted(r["loc"] for r in rows if r["kind"] == "url")
    assert pages == [origin + "/p1", origin + "/p2", origin + "/p3"]
    pri = {r["loc"]: r["priority"] for r in rows if r["kind"] == "url"}
    assert pri[origin + "/p1"] == 0.9 and pri[origin + "/p3"] == 0.2
    errs = [r for r in rows if r["kind"] == "error"]
    assert any(r["sitemap_url"].endswith("/broken.xml") for r in errs)

    frontier = sitemap_frontier(disc)
    # sitemap priority 0.9 -> frontier priority 0.1 (lower = sooner)
    fp = {r["rawurl"]: r["priority"] for r in frontier.collect()}
    assert fp[origin + "/p1"] == pytest.approx(0.1)
    assert fp[origin + "/p2"] == pytest.approx(0.5)

    res = crawl(
        spark, frontier,
        CrawlSettings(timeout=60, delay=10),
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
    ).collect()
    got = {r["url"]: bytes(r["body"]) for r in res
           if r["outcome"] == "done"}
    assert got == {
        origin + "/p%d" % i: b"page body /p%d" % i for i in (1, 2, 3)
    }
