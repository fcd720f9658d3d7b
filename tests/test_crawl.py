"""End-to-end crawl engine tests — the 12 httpbin scenarios from the
reference's integration suite (integration-tests/test_cases.php:2-132)
ported onto the deterministic fixture web, plus redirect-limit,
timeout, frontier/dedup and politeness-order invariants."""

import json

import pytest
from pyspark.sql import functions as F

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.sources.fixtures import synthetic_seeds
from minicrawler_spark.streaming.crawl import crawl, seeds_to_frontier


@pytest.fixture(scope="module")
def protocol_results(spark):
    seeds = [
        "http://host0.test/redirect/9",            # 0: 9 hops
        "http://host0.test/absolute-redirect/9",   # 1: 9 absolute hops
        "http://host1.test/teapot",                # 2: status passthrough
        "http://host1.test/gzip",                  # 3
        "http://host2.test/cookies/set?k1=v1&k2=v2",  # 4: set-cookie capture
        "http://host2.test/basic-auth/usr/pw",     # 5
        "http://host2.test/digest-auth/auth/usr/pw",  # 6
        {"url": "http://host3.test/post", "method": "POST", "post": b"a=1&b=2"},  # 7
        {"url": "http://host3.test/get", "method": "DELETE"},  # 8: custom method
        {"url": "http://host3.test/head-no-follow", "method": "HEAD"},  # 9
        "http://host4.test/redirect-loop",         # 10: limit error
        "not a url",                               # 11: -10
        "ftp://host4.test/x",                      # 12: -10 proto
        "http://host4.test/chunked",               # 13
        "http://host4.test/relative-redirect/3",   # 14: relative resolution
        "http://host5.test/delay/9999",            # 15: timeout
        "http://host5.test/redirect-to?url=http%3A%2F%2Fhost6.test%2Fget",  # 16
        "http://host6.test/refresh/2",             # 17: Refresh header
        "http://host6.test/huge",                  # 18: max page size
        "http://host7.test/charset/iso-8859-2",    # 19
    ]
    settings = CrawlSettings(
        timeout=5, username="usr", password="pw", convert_to_utf8=True
    )
    res = crawl(spark, seeds, settings).cache()
    rows = {r["index"]: r for r in res.collect()}
    assert len(rows) == len(seeds)
    return rows


def test_redirect_chains(protocol_results):
    r = protocol_results
    assert r[0]["status"] == 200
    assert len(r[0]["redirect_info"]) == 9  # Redirect-info count == 9
    assert r[0]["redirectedto"] == "http://host0.test/get"
    # chain stored newest-first (crawler.c:1641-1648)
    assert r[0]["redirect_info"][0]["url"] == "/get"
    assert r[0]["redirect_info"][-1]["url"] == "/redirect/8"
    assert all(h["status"] == 302 for h in r[0]["redirect_info"])
    # redirects and auth retries finish inside the fetch stage: no row
    # ever leaves a round to be merged back into the frontier
    assert {x["outcome"] for x in r.values()} <= {"done", "error", "timeout"}
    assert len(r[1]["redirect_info"]) == 9
    assert r[1]["redirect_info"][0]["url"] == "http://host0.test/get"
    # relative Location values resolve per WHATWG
    assert r[14]["status"] == 200
    assert r[14]["redirectedto"] == "http://host4.test/get"
    # cross-host redirect-to
    assert r[16]["redirectedto"] == "http://host6.test/get"
    assert r[16]["status"] == 200


def test_redirect_limit(protocol_results):
    r = protocol_results[10]
    assert r["outcome"] == "error"
    assert r["status"] == -1  # DOWNLOADED - ERROR
    assert r["error_msg"] == "Too many redirects, possibly a redirect loop"
    # 21 - 1 per hop -> 20 hops recorded before the error
    assert len(r["redirect_info"]) == 20


def test_status_passthrough(protocol_results):
    assert protocol_results[2]["status"] == 418
    assert protocol_results[2]["outcome"] == "done"


def test_gzip_and_chunked(protocol_results):
    r = protocol_results[3]
    assert r["status"] == 200
    body = bytes(r["body"])
    assert b"<html>" in body and len(body) > 100  # decompressed
    c = protocol_results[13]
    assert bytes(c["body"]).count(b"chunk data") == 40
    assert b"trailing-garbage" not in bytes(c["body"])


def test_cookie_capture(protocol_results):
    r = protocol_results[4]
    cookies = {c["name"]: c for c in r["cookies"]}
    assert set(cookies) == {"k1", "k2"}
    assert cookies["k1"]["value"] == "v1"
    assert cookies["k1"]["host_only"] is True
    assert cookies["k1"]["domain"] == "host2.test"
    # cookie was sent back on the redirect target
    assert b"k1=v1" in bytes(r["body"]) and b"k2=v2" in bytes(r["body"])


def test_auth(protocol_results):
    assert bytes(protocol_results[5]["body"]) == b"authenticated basic usr"
    assert protocol_results[5]["status"] == 200
    assert bytes(protocol_results[6]["body"]) == b"authenticated digest usr"
    assert protocol_results[6]["status"] == 200


def test_post_and_custom_method(protocol_results):
    assert bytes(protocol_results[7]["body"]) == b"method=POST len=7 body=a=1&b=2"
    assert b"method=DELETE" in bytes(protocol_results[8]["body"])


def test_head_does_not_follow(protocol_results):
    r = protocol_results[9]
    assert r["status"] == 302
    assert r["outcome"] == "done"
    assert not r["redirect_info"]
    assert r["content_length"] == 0


def test_input_gates(protocol_results):
    assert protocol_results[11]["status"] == -10
    assert protocol_results[11]["error_msg"] == "Failed to parse URL"
    assert protocol_results[12]["status"] == -10
    assert protocol_results[12]["error_msg"] == "Protocol [ftp] not supported"


def test_timeout(protocol_results):
    r = protocol_results[15]
    assert r["outcome"] == "timeout"
    assert r["timeout_state"] == 8  # RECVREPLY
    assert r["timeout_reason"] == "HTTP server timed out"


def test_refresh(protocol_results):
    r = protocol_results[17]
    assert r["redirectedto"] == "http://host6.test/get"
    assert len(r["redirect_info"]) == 2


def test_max_page_size(protocol_results):
    r = protocol_results[18]
    assert r["truncated"] is True
    assert r["content_length"] == 2 * 1024 * 1024


def test_charset(protocol_results):
    r = protocol_results[19]
    assert r["charset"] == "utf-8"
    assert "žluťoučký kůň".encode() in bytes(r["body"])


def test_frontier_crawl(spark):
    res = crawl(
        spark,
        synthetic_seeds(4, 2),
        CrawlSettings(
            timeout=600, extract_links=True, dedup=True, max_depth=2,
            max_rounds=6, convert_to_text=False,
        ),
    ).cache()
    # no URL fetched twice (URL-seen filter)
    dups = (
        res.filter("url is not null")
        .groupBy("url").count().filter("count > 1").count()
    )
    assert dups == 0
    # depth waves grow then stop at max_depth
    by_round = {r["round"]: r["count"] for r in res.groupBy("round").count().collect()}
    assert by_round[0] == 8 and by_round[1] > 8
    assert max(by_round) <= 2
    # spans interleave text and media
    kinds = {
        r["kind"]: r["count"]
        for r in res.filter("spans is not null")
        .select(F.explode("spans").alias("s"))
        .groupBy("s.kind").count().collect()
    }
    assert kinds.get("media", 0) > 0 and kinds.get("text", 0) > 0
    # doc invariant: joined text spans non-empty for html pages
    one = res.filter("spans is not null").select("spans").first()[0]
    assert any(s["kind"] == "text" and s["text"] for s in one)


def test_politeness_order_deterministic(spark):
    """Crawl order per host == (priority, seq) FIFO, stable across runs."""
    seeds = [f"http://host{i % 3}.test/page/{i}" for i in range(12)]
    settings = CrawlSettings(timeout=600)
    r1 = crawl(spark, seeds, settings)
    order1 = sorted(
        (r["host"], r["host_seq"], r["url"]) for r in r1.collect()
    )
    r2 = crawl(spark, seeds, settings)
    order2 = sorted(
        (r["host"], r["host_seq"], r["url"]) for r in r2.collect()
    )
    assert order1 == order2
    # within a host, host_seq follows seed order (seq)
    per_host = {}
    for host, hseq, url in order1:
        per_host.setdefault(host, []).append((hseq, url))
    for host, items in per_host.items():
        seqs = [h for h, _ in sorted(items)]
        assert seqs == list(range(len(items)))


def test_politeness_delay_budget(spark):
    """With delay=100ms and a 1s budget, at most ~10 same-host jobs can
    start; the rest time out 'Waiting for download slot'."""
    seeds = [f"http://one.test/page/{i}" for i in range(30)]
    res = crawl(spark, seeds, CrawlSettings(timeout=1, delay=100))
    out = {r["outcome"] for r in res.collect()}
    waiting = res.filter(
        F.col("timeout_reason") == "Waiting for download slot"
    ).count()
    assert waiting >= 19
    assert res.count() == 30


def test_per_host_budget_defers_not_drops(spark):
    """Rows beyond the per-host round budget must carry over to later
    rounds (they are already in the seen set, so silently dropping
    them would lose the URLs forever)."""
    seeds = [f"http://one.test/page/{i}" for i in range(7)]
    report = {}
    res = crawl(
        spark, seeds,
        CrawlSettings(timeout=600, dedup=True, per_host_budget=3,
                      max_rounds=10),
        report=report,
    ).cache()
    done = res.filter("outcome = 'done'")
    assert done.count() == 7  # every seed eventually fetched
    # budget respected per round: <= 3 fetches of the host per round
    per_round = {r["round"]: r["count"]
                 for r in done.groupBy("round").count().collect()}
    assert all(c <= 3 for c in per_round.values())
    assert len(per_round) == 3  # 3 + 3 + 1
    # cross-round host_seq stays gapless 0..6
    seqs = sorted(r["host_seq"] for r in done.collect())
    assert seqs == list(range(7))
    # the deferred rows were scheduled once, in round 0
    assert _round_counts(report) == [
        (0, 7, 7, 0, None), (1, 0, 0, 0, None), (2, 0, 0, 0, None),
    ]


def _round_counts(report):
    """(round, candidates, scheduled, dedup_dropped, robots_denied) of
    each round of a crawl report."""
    return [
        (r["round"], r["candidates"], r["scheduled"], r["dedup_dropped"],
         r.get("robots_denied"))
        for r in report["rounds"]
    ]


@pytest.mark.parametrize("seen_path", ["memory", "seen_filter"])
def test_per_host_budget_report_pinned(spark, tmp_path, seen_path):
    """Per-round report counts of a dedup + robots + links crawl whose
    per-host budget defers rows across rounds, on both seen paths (the
    in-memory anti-join without a checkpoint_dir, the SeenFilter with
    one). The counts were recorded when each was its own count() job;
    the round now derives them from the jobs it runs anyway."""
    seeds = synthetic_seeds(4, 2) + [
        "http://host0.test/page/28",      # Disallow: /page/28
        "http://host2.test/private3/a",   # Disallow: /private3/
        "bogus",                          # fails URL parsing
    ]
    settings = CrawlSettings(
        timeout=600, extract_links=True, dedup=True, respect_robots=True,
        max_depth=2, max_rounds=10, per_host_budget=5,
    )
    ck = str(tmp_path / "ck") if seen_path == "seen_filter" else None
    report = {}
    res = crawl(spark, seeds, settings, checkpoint_dir=ck, report=report)
    outcomes = {
        r["outcome"]: r["count"] for r in res.groupBy("outcome").count().collect()
    }
    assert outcomes == {"done": 156, "robots": 2, "error": 1}
    assert _round_counts(report) == [
        (0, 10, 10, 0, 2), (1, 45, 45, 0, 0), (2, 91, 70, 21, 0),
        (3, 60, 27, 33, 0), (4, 18, 6, 12, 0), (5, 0, 0, 0, 0),
        (6, 0, 0, 0, 0), (7, 0, 0, 0, 0),
    ]
    assert [sum(p["n"] for p in r["partitions"]) for r in report["rounds"]] == [
        8, 23, 33, 31, 21, 20, 14, 6,
    ]


@pytest.mark.parametrize(
    "seed, message",
    [
        ({"url": b"http://host0.test/"}, r"seed 1: 'url' must be str, got bytes"),
        ({"url": "http://host3.test/post", "post": "a=1"},
         r"seed 1: 'post' must be bytes or bytearray, got str"),
        ({"url": "http://host3.test/get", "method": 1},
         r"seed 1: 'method' must be str, got int"),
        (42, r"seed 1: expected a URL string or a dict, got int"),
    ],
    ids=["url-bytes", "post-str", "method-int", "not-a-seed"],
)
def test_seed_type_errors_name_the_seed(seed, message):
    # no session: the check runs before any Spark work
    with pytest.raises(TypeError, match=message):
        seeds_to_frontier(None, ["http://host0.test/", seed], CrawlSettings())


@pytest.mark.parametrize(
    "spec, error",
    [
        ("minicrawler_spark.sources.fixtures:fixture_fetcherr", AttributeError),
        ("minicrawler_spark.sources.nosuch:fetch", ImportError),
    ],
    ids=["no-function", "no-module"],
)
def test_bad_fetcher_spec_fails_on_the_driver(spec, error, tmp_path):
    # no session: both entry points resolve the spec before any Spark work
    from minicrawler_spark.streaming.continuous import crawl_stream

    with pytest.raises(error, match="fetcher_spec '%s'" % spec):
        crawl(None, ["http://host0.test/"], fetcher_spec=spec)
    with pytest.raises(error, match="fetcher_spec '%s'" % spec):
        crawl_stream(None, str(tmp_path / "f"), str(tmp_path / "o"),
                     str(tmp_path / "ck"), fetcher_spec=spec)
