"""Structured Streaming continuous crawl (streaming/continuous.py):
the frontier is a file stream, discovered links feed back through it,
URL-seen and host state persist across micro-batches."""

import time

import pytest

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.streaming.continuous import crawl_stream, write_seeds


def _wait_stable(spark, out_dir, timeout_s=120, settle_rounds=4,
                 min_rows=1):
    """Poll the output until the row count reaches min_rows and then
    stops growing (micro-batch cadence is not deterministic)."""
    last, stable, deadline = -1, 0, time.time() + timeout_s
    while time.time() < deadline:
        try:
            n = spark.read.parquet(out_dir).count()
        except Exception:
            n = 0
        if n == last and n >= min_rows:
            stable += 1
            if stable >= settle_rounds:
                return n
        else:
            stable = 0
        last = n
        time.sleep(1.0)
    return last


def test_streaming_bfs_with_dedup(spark, tmp_path):
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    write_seeds(frontier, [f"http://host{i}.test/page/{i}" for i in range(3)])

    q = crawl_stream(
        spark, frontier, out, ck,
        CrawlSettings(timeout=600, extract_links=True, dedup=True,
                      max_depth=1),
        trigger_seconds=0.5,
    )
    try:
        n = _wait_stable(spark, out, min_rows=4)
        res = spark.read.parquet(out)
        # seeds fetched + at least one discovered wave
        assert n > 3
        assert res.filter("depth = 1").count() > 0
        # URL-seen held across micro-batches: no URL fetched twice
        dups = (res.filter("url is not null").groupBy("url").count()
                .filter("count > 1").count())
        assert dups == 0
        # cross-batch host_seq continuity: per-host sequences are
        # 0..n-1 with no gaps even though waves arrived in different
        # micro-batches
        rows = [
            (r["host"], r["host_seq"])
            for r in res.filter("host_seq is not null").collect()
        ]
        per_host = {}
        for h, s in rows:
            per_host.setdefault(h, []).append(s)
        for h, seqs in per_host.items():
            assert sorted(seqs) == list(range(len(seqs))), (h, sorted(seqs))
    finally:
        q.stop()


def test_streaming_seed_injection_after_start(spark, tmp_path):
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    write_seeds(frontier, ["http://host0.test/teapot"])
    q = crawl_stream(
        spark, frontier, out, ck,
        CrawlSettings(timeout=600), trigger_seconds=0.5,
    )
    try:
        assert _wait_stable(spark, out, settle_rounds=3, min_rows=1) == 1
        # inject more work into the running stream
        write_seeds(frontier, ["http://host1.test/gzip",
                               "bogus url"])
        n = _wait_stable(spark, out, settle_rounds=3, min_rows=3)
        assert n == 3
        res = spark.read.parquet(out)
        assert res.filter("status = 418").count() == 1
        assert res.filter("status = -10").count() == 1  # parse error row
    finally:
        q.stop()


def test_streaming_robots_gate(spark, tmp_path):
    """robots.txt gating in streaming mode: disallowed paths never
    reach the output; rules persist via the catalog table."""
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    # host0.test disallows /private8/ and /page/28 (fixtures.py:300)
    write_seeds(frontier, [
        "http://host0.test/page/1",
        "http://host0.test/private8/x",
        "http://host0.test/page/28",
    ])
    q = crawl_stream(
        spark, frontier, out, ck,
        CrawlSettings(timeout=600, respect_robots=True),
        trigger_seconds=0.5,
    )
    try:
        n = _wait_stable(spark, out, settle_rounds=3, min_rows=1)
        assert n == 1
        res = spark.read.parquet(out)
        assert res.collect()[0]["path_query"] == "/page/1"
        denied = spark.read.parquet(out + "_robots_denied")
        assert denied.count() == 2
        assert set(r["error_msg"] for r in denied.collect()) == {
            "Disallowed by robots.txt"
        }
    finally:
        q.stop()


def test_streaming_dedup_within_one_batch(spark, tmp_path):
    """Under dedup a URL that reaches one micro-batch twice (two seed
    files, here at depths 1 and 0 and in two spellings of one
    canonical href) is fetched once, at its smallest depth; the seen
    gate alone only drops URLs of earlier batches."""
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    write_seeds(frontier, ["http://host0.test/page/1",
                           "http://host1.test/page/2"], depth=1)
    write_seeds(frontier, ["HTTP://HOST0.test:80/page/1"])
    q = crawl_stream(spark, frontier, out, ck,
                     CrawlSettings(timeout=600, dedup=True),
                     trigger_seconds=0.5)
    try:
        _wait_stable(spark, out, settle_rounds=3, min_rows=2)
    finally:
        q.stop()
    rows = sorted((r["url"], r["depth"])
                  for r in spark.read.parquet(out).collect())
    assert rows == [("http://host0.test/page/1", 0),
                    ("http://host1.test/page/2", 1)]


def test_streaming_restart_resumes_seen(spark, tmp_path):
    """Stop the stream, restart on the same checkpoint: the SeenFilter
    reloads its sidecar manifest (round-1 code crashed here on a
    removed private method), and re-submitted URLs are not refetched
    while new ones are."""
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    write_seeds(frontier, ["http://host0.test/page/1",
                           "http://host1.test/page/2"])
    settings = CrawlSettings(timeout=600, dedup=True)
    q = crawl_stream(spark, frontier, out, ck, settings,
                     trigger_seconds=0.5)
    try:
        _wait_stable(spark, out, min_rows=2)
    finally:
        q.stop()

    first = spark.read.parquet(out)
    n_first = first.filter("url is not null").count()
    assert n_first == 2

    # restart; re-seed one OLD url + one NEW url
    write_seeds(frontier, ["http://host0.test/page/1",
                           "http://host2.test/page/3"])
    q2 = crawl_stream(spark, frontier, out, ck, settings,
                      trigger_seconds=0.5)
    try:
        _wait_stable(spark, out, min_rows=n_first + 1)
    finally:
        q2.stop()

    res = spark.read.parquet(out).filter("url is not null")
    urls = [r["url"] for r in res.collect()]
    assert len(urls) == len(set(urls)) == 3  # old URL skipped, new fetched
    assert any("host2.test" in u for u in urls)


def test_streaming_archive_sink(spark, tmp_path):
    """archive_dir: every micro-batch's done pages also land in
    rolled .warc.gz archives, so the streaming crawl closes the same
    loop as the batch one — the archived record set matches the
    parquet results and round-trips into documents."""
    from minicrawler_spark.sources.warc import (
        read_warc,
        warc_to_documents,
    )

    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    warc = str(tmp_path / "warc")

    write_seeds(frontier,
                [f"http://host{i}.test/page/{i}" for i in range(3)])
    q = crawl_stream(
        spark, frontier, out, ck,
        CrawlSettings(timeout=600, extract_links=True, dedup=True,
                      max_depth=1, writehead=True),
        trigger_seconds=0.5,
        archive_dir=warc,
    )
    try:
        _wait_stable(spark, out, min_rows=4)
        res = spark.read.parquet(out)
        want = {r["url"] for r in
                res.filter("outcome = 'done'").collect()}
        got = {r["url"] for r in read_warc(spark, warc).collect()}
        assert got == want and len(got) >= 4
        # bodies were archived (the parquet results dropped them)
        assert "body" not in res.columns
        one = read_warc(spark, warc).first()
        assert len(bytes(one["body"])) > 0
        # archive -> documents adapter works on the streamed archive
        docs = warc_to_documents(spark, warc)
        n_html = res.filter(
            "outcome = 'done' and status = 200").count()
        assert docs.count() > 0 and docs.count() <= n_html
    finally:
        q.stop()


def test_streaming_matches_batch_crawl(spark, tmp_path):
    """The stream and crawl() run one round function: the same seeds
    with links, dedup, robots and max_depth=1 give the same fetched
    rows and the same robots-denied URLs through crawl_stream() as
    through crawl(), on both batch seen paths (the in-memory anti-join
    without a checkpoint dir, the SeenFilter with one)."""
    from minicrawler_spark.streaming.crawl import crawl

    seeds = [f"http://host{i}.test/page/{i}" for i in range(3)] + [
        "http://host5.test/page/1",       # links to host7.test/page/36
        "http://host6.test/page/6",       # links to host6.test/page/16
        "http://host0.test/page/28",      # Disallow: /page/28
        "http://host2.test/private3/a",   # Disallow: /private3/
        "bogus",                          # fails URL parsing
    ]
    settings = CrawlSettings(timeout=600, extract_links=True, dedup=True,
                             respect_robots=True, max_depth=1)
    batches = [
        crawl(spark, seeds, settings, checkpoint_dir=ck).collect()
        for ck in (None, str(tmp_path / "batch_ck"))
    ]
    wants = [
        ({(r["url"], r["status"], r["depth"], r["outcome"])
          for r in batch if r["outcome"] != "robots"},
         {r["rawurl"] for r in batch if r["outcome"] == "robots"})
        for batch in batches
    ]
    assert wants[0] == wants[1]
    want, want_denied = wants[0]
    assert len(want) > len(seeds)
    # both a seed and a discovered link are denied: rules fetched in
    # the first round and in a later one both gate
    assert {r["depth"] for r in batches[0]
            if r["outcome"] == "robots"} == {0, 1}

    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    write_seeds(frontier, seeds)
    q = crawl_stream(spark, frontier, out, str(tmp_path / "ck"), settings,
                     trigger_seconds=0.5)
    try:
        _wait_stable(spark, out, min_rows=len(want))
        got = {(r["url"], r["status"], r["depth"], r["outcome"])
               for r in spark.read.parquet(out).collect()}
        denied = {r["rawurl"] for r in
                  spark.read.parquet(out + "_robots_denied").collect()}
    finally:
        q.stop()
    assert got == want
    assert denied == want_denied


def test_streaming_per_host_budget_defers(spark, tmp_path):
    """per_host_budget in the stream: rows over a host's budget go back
    into the frontier stream unseen, so each later micro-batch fetches
    the next one; none is dropped or fetched twice."""
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    seeds = [f"http://one.test/page/{i}" for i in range(3)]
    write_seeds(frontier, seeds)
    q = crawl_stream(
        spark, frontier, out, str(tmp_path / "ck"),
        CrawlSettings(timeout=600, dedup=True, per_host_budget=1),
        trigger_seconds=0.5,
    )
    try:
        _wait_stable(spark, out, min_rows=3)
        rows = spark.read.parquet(out).collect()
    finally:
        q.stop()
    assert sorted(r["url"] for r in rows) == seeds
    assert all(r["outcome"] == "done" for r in rows)
    assert len({r["round"] for r in rows}) == 3


def test_streaming_impatient_cuts_single_straggler(spark, tmp_path):
    """`impatient` holds in the stream as in crawl(): a micro-batch's
    lone straggler, 3 s behind four fast pages, comes out as a
    timeout (test_output_sink::test_impatient_cuts_single_straggler)."""
    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    write_seeds(frontier, [f"http://host{i}.test/page/{i}" for i in range(4)]
                + ["http://slow.test/delay/3000"])
    q = crawl_stream(
        spark, frontier, out, str(tmp_path / "ck"),
        CrawlSettings(impatient=True, timeout=600, delay=0),
        trigger_seconds=0.5,
    )
    try:
        _wait_stable(spark, out, settle_rounds=3, min_rows=5)
        rows = {r["rawurl"]: r for r in spark.read.parquet(out).collect()}
    finally:
        q.stop()
    slow = rows.pop("http://slow.test/delay/3000")
    assert slow["outcome"] == "timeout"
    assert slow["timeout_reason"] == "HTTP server timed out"
    assert [r["outcome"] for r in rows.values()] == ["done"] * 4


def test_streaming_replay_counts_host_stats_once(spark, tmp_path):
    """An epoch that runs again (its offsets logged, its commit not:
    a crash after the sinks) reads host_stats at the snapshot it
    started from, so its rows count once however often it runs. With
    dedup off the replay refetches every row, and its result rows
    replace the first run's (the epoch=0 directory): one copy."""
    _replay_epoch_zero(spark, tmp_path, dedup=False)


def test_streaming_replay_with_dedup_keeps_its_rows(spark, tmp_path):
    """With dedup on, the first run's seen add has already published
    the epoch's URLs when it replays; the replay's gate sees the set as
    the epoch started, so it refetches every row and its epoch=0
    directory still holds one copy, not an empty overwrite."""
    _replay_epoch_zero(spark, tmp_path, dedup=True)


def _replay_epoch_zero(spark, tmp_path, dedup):
    import os

    from minicrawler_spark.plans.snapshots import SnapshotCatalog

    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_seeds(frontier, ["http://host0.test/page/1",
                           "http://host0.test/page/2",
                           "http://host1.test/page/3"])
    settings = CrawlSettings(timeout=600, dedup=dedup)

    commits = os.path.join(ck, "offsets", "commits")

    def run():
        q = crawl_stream(spark, frontier, out, ck, settings,
                         trigger_seconds=0.5)
        try:
            deadline = time.time() + 120
            while (not os.path.exists(os.path.join(commits, "0"))
                   and time.time() < deadline):
                time.sleep(0.5)
            return _wait_stable(spark, out, settle_rounds=3, min_rows=3)
        finally:
            q.stop()

    assert run() == 3
    # forget that epoch 0 finished: the restart replays it
    assert sorted(f for f in os.listdir(commits)
                  if not f.startswith(".")) == ["0"]
    for name in ("0", ".0.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert run() == 3
    assert os.path.exists(os.path.join(commits, "0"))  # it did replay
    assert sorted(os.listdir(out)) == ["epoch=0"]

    catalog = SnapshotCatalog(ck)
    assert catalog.current_id("host_stats") == 1
    counts = {r["host"]: r["host_count"]
              for r in catalog.read(spark, "host_stats").collect()}
    assert counts == {"host0.test": 2, "host1.test": 1}
