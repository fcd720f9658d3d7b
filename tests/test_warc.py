"""WARC sink/source (sources/warc.py): crawl → write_warc →
read_warc round-trip, record framing, determinism, and the pluggable
FS path."""

import gzip
import os

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.sources.warc import (
    _parse_warc,
    read_warc,
    warc_record_bytes,
    write_warc,
)
from minicrawler_spark.streaming.crawl import crawl


def test_warc_record_framing_and_determinism():
    http = b"HTTP/1.1 200\r\nContent-Type: text/plain\r\n\r\nhello"
    a = warc_record_bytes("http://x.test/a", "2025-06-15T12:00:00Z", http)
    b = warc_record_bytes("http://x.test/a", "2025-06-15T12:00:00Z", http)
    assert a == b  # content-derived record id -> reproducible archives
    assert a.startswith(b"WARC/1.1\r\nWARC-Type: response\r\n")
    assert b"WARC-Target-URI: http://x.test/a\r\n" in a
    assert b"Content-Length: %d\r\n" % len(http) in a
    assert a.endswith(http + b"\r\n\r\n")
    # parses back
    recs = list(_parse_warc(a))
    assert recs == [
        ("http://x.test/a", "2025-06-15T12:00:00Z", 200,
         b"HTTP/1.1 200\r\nContent-Type: text/plain", b"hello"),
    ]


def test_warc_roundtrip_through_crawl(spark, tmp_path):
    """Fixture crawl -> .warc.gz archives -> read back: every done
    page's url/status/body survives byte-exact."""
    out = str(tmp_path / "warc")
    res = crawl(
        spark,
        ["http://host%d.test/page/0" % i for i in range(6)],
        CrawlSettings(timeout=600, writehead=True),
    )
    done = res.filter("outcome = 'done'")
    want = {
        r["url"]: (r["status"], bytes(r["body"] or b""))
        for r in done.collect()
    }
    manifest = write_warc(done, out).collect()
    assert sum(m["n_records"] for m in manifest) == len(want)
    for m in manifest:
        assert os.path.exists(m["path"])
        assert m["path"].endswith(".warc.gz")
        # every record is its own gzip member (seekable layout):
        # the file must still decompress as concatenated members
        with open(m["path"], "rb") as f:
            gzip.decompress(f.read())

    got = {
        r["url"]: (r["status"], bytes(r["body"] or b""))
        for r in read_warc(spark, out).collect()
    }
    assert got == want

    # CDXJ sidecars: every record addressable by (offset, length) —
    # seek + single-member gunzip must yield exactly that record
    import glob as _glob
    import json as _json

    n_indexed = 0
    for cdxj in _glob.glob(out + "/*.cdxj"):
        warc_path = cdxj[:-5] + ".warc.gz"
        blob = open(warc_path, "rb").read()
        for line in open(cdxj).read().splitlines():
            url, _ts, meta = line.split(" ", 2)
            m = _json.loads(meta)
            member = blob[m["offset"]:m["offset"] + m["length"]]
            rec = gzip.decompress(member)
            u, _d, status, _h, body = next(iter(_parse_warc(rec)))
            assert u == url and (status, body) == want[url]
            n_indexed += 1
    assert n_indexed == len(want)
    # the stored payload head is the crawl's RAW reply head
    one = read_warc(spark, out).first()
    assert bytes(one["http_head"]).startswith(b"HTTP/1.1 ")


def test_warc_to_documents_pipeline(spark, tmp_path):
    """Archive -> documents-table adapter: text extracted from the
    archived HTML equals the engine's own span text for the same
    pages — including a windows-1250 page whose charset is declared
    ONLY in the Content-Type header (the adapter must run the
    engine's header-charset -> HTML-detect -> ISO-8859-1 chain, not
    default to UTF-8) — and the result feeds the training-data
    operators unchanged (crawl -> warc -> documents -> exact_dedup)."""
    from minicrawler_spark.operators.dedup import exact_dedup
    from minicrawler_spark.sources.warc import warc_to_documents

    out = str(tmp_path / "warc")
    seeds = ["http://host%d.test/page/0" % i for i in range(4)] + [
        # charset only in the reply head; body has no <meta charset>
        "http://host0.test/headers-charset/windows-1250",
    ]
    res = crawl(
        spark, seeds,
        CrawlSettings(timeout=600, writehead=True,
                      convert_to_text=True, convert_to_utf8=True),
    )
    done = res.filter("outcome = 'done'")
    want_text = {
        r["url"]: "".join(
            s["text"] for s in (r["spans"] or []) if s["kind"] == "text"
        )
        for r in done.collect()
    }
    # the non-ASCII text survived the live chain (sanity: the fixture
    # page is only recoverable through the header charset)
    cs_url = "http://host0.test/headers-charset/windows-1250"
    assert "žluťoučký" in want_text[cs_url]
    # archive the RAW crawl (body as fetched; writehead keeps the head)
    raw = crawl(
        spark, seeds,
        CrawlSettings(timeout=600, writehead=True),
    ).filter("outcome = 'done'")
    write_warc(raw, out).collect()

    docs = warc_to_documents(spark, out)
    got = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert got == want_text
    assert all(r["n_chars"] == len(got[r["doc_id"]])
               for r in docs.collect())
    # operators consume it directly
    assert exact_dedup(docs).count() == len(want_text)


def test_warc_rolls_at_size_cap(spark, tmp_path):
    """VERDICT r3 #1: a partition whose archive exceeds
    max_archive_bytes must roll into multiple part files with bounded
    peak buffer, each file individually indexed, and the record set
    must round-trip byte-identically."""
    import glob as _glob

    out = str(tmp_path / "warc")
    # one partition, incompressible bodies ~8 KiB each -> with a
    # 20 KiB cap the writer must roll every ~2-3 records
    import random

    rnd = random.Random(7)
    rows = [
        ("http://roll.test/p/%d" % i, 200, "text/plain", i * 1000,
         bytes(rnd.randrange(256) for _ in range(8192)))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "url string, status int, content_type string, "
              "elapsed_ms long, body binary"
    ).coalesce(1)
    cap = 20 * 1024
    manifest = write_warc(df, out, max_archive_bytes=cap).collect()
    assert len(manifest) >= 4  # rolled, not one partition-sized file
    assert sum(m["n_records"] for m in manifest) == len(rows)
    # bounded peak: every rolled file crossed the cap by at most one
    # member (the roll happens right after the record that crosses)
    for m in manifest[:-1]:
        assert m["n_bytes"] < cap + 16 * 1024
    # every file has its own cdxj naming it
    for m in manifest:
        cdxj = m["path"][: -len(".warc.gz")] + ".cdxj"
        assert os.path.exists(cdxj)
        assert sum(1 for _ in open(cdxj)) == m["n_records"]
    assert len(_glob.glob(out + "/*.warc.gz")) == len(manifest)
    # round-trip: all records, byte-exact bodies, across the rolls
    got = {
        r["url"]: bytes(r["body"])
        for r in read_warc(spark, out).collect()
    }
    assert got == {u: b for u, _s, _c, _e, b in rows}


def test_warc_cdxj_random_access_reads_only_selected_bytes(
    spark, tmp_path
):
    """VERDICT r3 #4: read_warc_records must fetch ONLY the selected
    records' gzip members via ranged reads — counted through an FS
    shim that logs every read_range to a cross-process file."""
    import glob as _glob
    import json as _json

    from minicrawler_spark.sources.warc import (
        read_cdxj,
        read_warc_records,
    )

    out = str(tmp_path / "warc")
    log = str(tmp_path / "ranges.log")

    class _RangeLogFS:
        """LocalFS + an append-only log of ranged reads (file-based:
        executor workers are separate processes)."""

        def __init__(self, log_path):
            self.log_path = log_path

        def read_range(self, path, offset, length):
            with open(self.log_path, "a") as f:
                f.write("%s %d %d\n" % (path, offset, length))
            with open(path, "rb") as f:
                f.seek(offset)
                return f.read(length)

        def read_bytes(self, path):
            raise AssertionError("selective reader must use read_range")

    rows = [
        ("http://sel.test/p/%d" % i, 200 if i % 3 else 404,
         "text/plain", 0, ("body-%d-" % i).encode() * 50)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "url string, status int, content_type string, "
              "elapsed_ms long, body binary"
    ).repartition(3)
    write_warc(df, out).collect()

    import pyspark.sql.functions as F

    sel = F.col("url").isin(
        "http://sel.test/p/4", "http://sel.test/p/11"
    )
    got = read_warc_records(
        spark, out, selector=sel, fs=_RangeLogFS(log)
    ).collect()
    assert sorted(r["url"] for r in got) == [
        "http://sel.test/p/11", "http://sel.test/p/4"
    ]
    # bodies match the full-scan reader's for the same urls
    full = {
        r["url"]: bytes(r["body"]) for r in read_warc(spark, out).collect()
    }
    for r in got:
        assert bytes(r["body"]) == full[r["url"]]
    # exactly 2 ranged reads, of exactly the 2 indexed member lengths
    reads = [ln.split() for ln in open(log).read().splitlines()]
    assert len(reads) == 2
    want_lens = []
    for cdxj in _glob.glob(out + "/*.cdxj"):
        for line in open(cdxj).read().splitlines():
            url, _ts, meta = line.split(" ", 2)
            if url in ("http://sel.test/p/4", "http://sel.test/p/11"):
                want_lens.append(int(_json.loads(meta)["length"]))
    assert sorted(int(ln) for _p, _o, ln in reads) == sorted(want_lens)
    # the index DataFrame itself is queryable (status/time filters)
    idx = read_cdxj(spark, out)
    assert idx.filter("status = 404").count() == sum(
        1 for _u, s, _c, _e, _b in rows if s == 404
    )


def test_warc_dedup_loop_closure(spark, tmp_path):
    """VERDICT r3 #9: crawl -> warc -> warc_to_documents ->
    exact_dedup + minhash_dup_pairs produces the same survivors and
    pairs as the live crawl results, on a web with PLANTED
    duplicates (/page/03 serves the same bytes as /page/3 under a
    distinct URL)."""
    from minicrawler_spark.operators.dedup import (
        exact_dedup,
        minhash_dup_pairs,
    )
    from minicrawler_spark.sources.warc import warc_to_documents

    import pyspark.sql.functions as F

    seeds = [
        "http://host0.test/page/3", "http://host0.test/page/03",
        "http://host1.test/page/5", "http://host1.test/page/005",
        "http://host2.test/page/9",
        # non-UTF-8 page, charset declared only in the reply head:
        # loop closure must hold on non-UTF-8 corpora too (the
        # archive adapter runs the engine's charset chain)
        "http://host2.test/headers-charset/windows-1250",
    ]
    out = str(tmp_path / "warc")
    # live path: converted crawl -> documents shape
    conv = crawl(
        spark, seeds,
        CrawlSettings(timeout=600, writehead=True,
                      convert_to_text=True, convert_to_utf8=True),
    ).filter("outcome = 'done'")
    docs_live = conv.select(
        F.col("url").alias("doc_id"),
        F.concat_ws(
            "",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        ).alias("text"),
    ).localCheckpoint()
    # archive path: raw crawl -> .warc.gz -> documents
    raw = crawl(
        spark, seeds, CrawlSettings(timeout=600, writehead=True)
    ).filter("outcome = 'done'")
    write_warc(raw, out).collect()
    docs_warc = warc_to_documents(spark, out).select("doc_id", "text")

    live = {(r["doc_id"], r["text"]) for r in docs_live.collect()}
    arch = {(r["doc_id"], r["text"]) for r in docs_warc.collect()}
    assert live == arch and len(live) == 6
    assert any("žluťoučký" in t for _d, t in arch)  # cp1250 decoded

    # exact dedup: identical survivor sets, planted dups collapse
    ex_live = {(r["keep_doc_id"], r["n_copies"])
               for r in exact_dedup(docs_live).collect()}
    ex_warc = {(r["keep_doc_id"], r["n_copies"])
               for r in exact_dedup(docs_warc).collect()}
    assert ex_live == ex_warc
    assert sum(1 for _k, n in ex_live if n == 2) == 2  # the 2 plants

    # minhash near-dup pairs: identical across both paths and they
    # contain exactly the planted duplicate pairs at jaccard 1.0
    p_live = {(r["doc_a"], r["doc_b"], r["jaccard"])
              for r in minhash_dup_pairs(
                  docs_live, threshold=0.9).collect()}
    p_warc = {(r["doc_a"], r["doc_b"], r["jaccard"])
              for r in minhash_dup_pairs(
                  docs_warc, threshold=0.9).collect()}
    assert p_live == p_warc
    assert p_live == {
        ("http://host0.test/page/03", "http://host0.test/page/3", 1.0),
        ("http://host1.test/page/005", "http://host1.test/page/5", 1.0),
    }


def test_warc_interop_records(spark, tmp_path):
    """VERDICT r4 #3 (ISO 28500 §6 / warcio-pywb conventions): every
    rolled file opens with a warcinfo record; responses carry a
    WARC-Payload-Digest (sha1 base32 of the body); write_requests
    adds a request record per response, linked by WARC-Concurrent-To;
    the read paths still skip non-response records so round-trips are
    unchanged."""
    import base64 as _b64
    import glob as _glob
    import hashlib as _hashlib

    from minicrawler_spark.sources.warc import _iter_members

    out = str(tmp_path / "warc")
    res = crawl(
        spark,
        ["http://host%d.test/page/0" % i for i in range(3)],
        CrawlSettings(timeout=600, writehead=True),
    ).filter("outcome = 'done'")
    want = {r["url"]: bytes(r["body"] or b"") for r in res.collect()}
    write_warc(res, out, write_requests=True).collect()

    def headers_of(rec: bytes) -> dict:
        head = rec.split(b"\r\n\r\n", 1)[0].decode("utf-8")
        return dict(
            (k.strip().lower(), v.strip())
            for k, _s, v in (ln.partition(":")
                             for ln in head.split("\r\n")[1:])
        )

    n_resp = 0
    for path in _glob.glob(out + "/*.warc.gz"):
        members = [m for m in _iter_members(open(path, "rb").read())]
        # first member: warcinfo with the mandatory fields
        h0 = headers_of(members[0])
        assert h0["warc-type"] == "warcinfo"
        assert h0["content-type"] == "application/warc-fields"
        assert h0["warc-record-id"].startswith("<urn:sha256:")
        info_body = members[0].split(b"\r\n\r\n", 1)[1]
        assert b"software: minicrawler-spark/" in info_body
        assert b"format: WARC File Format 1.1" in info_body
        # then request/response pairs, linked
        rest = members[1:]
        assert len(rest) % 2 == 0
        for req, resp in zip(rest[::2], rest[1::2]):
            hq, hr = headers_of(req), headers_of(resp)
            assert hq["warc-type"] == "request"
            assert hq["content-type"] == \
                "application/http;msgtype=request"
            assert hr["warc-type"] == "response"
            assert hq["warc-concurrent-to"] == hr["warc-record-id"]
            assert hq["warc-target-uri"] == hr["warc-target-uri"]
            # the reconstructed request is a real HTTP/1.1 request
            # for the fetched path on the fetched host
            req_http = req.split(b"\r\n\r\n", 2)[1]
            assert req_http.startswith(b"GET /")
            assert b"\r\nHost: " in b"\r\n" + req_http
            # payload digest: sha1 base32 of the response body
            url = hr["warc-target-uri"]
            digest = "sha1:" + _b64.b32encode(
                _hashlib.sha1(want[url]).digest()
            ).decode("ascii")
            assert hr["warc-payload-digest"] == digest
            n_resp += 1
    assert n_resp == len(want)
    # read paths unchanged: non-response records are skipped
    got = {r["url"]: bytes(r["body"] or b"")
           for r in read_warc(spark, out).collect()}
    assert got == want


def test_cdxj_url_with_spaces_roundtrips(spark, tmp_path):
    """ADVICE r5: CDXJ lines are space-delimited with the URL first —
    a URL containing spaces (rawurl fallback for unparsed seeds) must
    not shift the fields. The writer percent-escapes the delimiter
    bytes; read_cdxj decodes them, and read_warc_records still
    range-reads the right member."""
    from pyspark.sql import functions as F

    from minicrawler_spark.sources.warc import (
        read_cdxj,
        read_warc_records,
    )

    out = str(tmp_path / "warc")
    ugly = "http://x.test/a b?q=1 2&p=%20already"
    rows = [
        (ugly, 200, "text/plain", 0, None, b"spaced"),
        ("http://x.test/clean", 200, "text/plain", 0, None, b"clean"),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, status int, content_type string, "
        "elapsed_ms long, head binary, body binary",
    ).coalesce(1)
    write_warc(df, out).collect()

    idx = read_cdxj(spark, out)
    assert {r["url"] for r in idx.collect()} == {u for u, *_ in rows}
    got = read_warc_records(
        spark, out, selector=F.col("url") == ugly
    ).collect()
    assert len(got) == 1
    assert got[0]["url"] == ugly and bytes(got[0]["body"]) == b"spaced"


def test_read_warc_chunked_memory_bounded(spark, tmp_path):
    """VERDICT r4 #5: read_warc streams archives through the FS
    layer in bounded ranged reads — never a whole-blob read, every
    request at most chunk_bytes — and produces the same records as
    an unconstrained read."""
    import json as _json

    out = str(tmp_path / "warc")
    log = str(tmp_path / "ranges.log")

    class _RangeLogFS:
        """LocalFS pass-through that logs every read_range request
        and forbids whole-blob reads (executor-side log file works
        in local mode)."""

        def __init__(self, log_path):
            self.log_path = log_path

        def read_bytes(self, path):
            raise AssertionError("whole-blob read: %s" % path)

        def read_range(self, path, offset, length):
            # emulate an object store: a Range GET starting at/past
            # EOF answers 416, not b'' — POSIX masks this, so the
            # shim enforces it (a "read until empty" loop would die
            # here whenever size % chunk_bytes == 0)
            total = os.path.getsize(path)
            if offset >= total:
                raise AssertionError(
                    "416 InvalidRange: offset %d >= size %d"
                    % (offset, total)
                )
            with open(self.log_path, "a") as f:
                f.write(_json.dumps([offset, length]) + "\n")
            with open(path, "rb") as f:
                f.seek(offset)
                return f.read(length)

        def size(self, path):
            return os.path.getsize(path)

        def listdir(self, path):
            return sorted(os.listdir(path)) if os.path.isdir(path) else []

    res = crawl(
        spark,
        ["http://host%d.test/page/0" % i for i in range(6)],
        CrawlSettings(timeout=600, writehead=True),
    ).filter("outcome = 'done'")
    # small cap -> several rolled files; several records per file
    write_warc(res, out, max_archive_bytes=8 * 1024).collect()

    want = {(r["url"], bytes(r["body"] or b""))
            for r in read_warc(spark, out).collect()}
    got = {(r["url"], bytes(r["body"] or b""))
           for r in read_warc(spark, out, fs=_RangeLogFS(log),
                              chunk_bytes=1024).collect()}
    assert got == want and len(got) == 6
    reqs = [_json.loads(ln) for ln in open(log).read().splitlines()]
    assert reqs and all(ln <= 1024 for _off, ln in reqs)
    assert len(reqs) > len(got)  # genuinely chunked, multiple reads

    # exact-multiple EOF: chunk_bytes == the file's size means the
    # only read returns a full chunk — the loop must then STOP, not
    # issue a read at EOF (the strict shim above raises there)
    first = sorted(
        p for p in os.listdir(out) if p.endswith(".warc.gz")
    )[0]
    fsize = os.path.getsize(os.path.join(out, first))
    exact = {(r["url"], bytes(r["body"] or b""))
             for r in read_warc(spark, out, fs=_RangeLogFS(log),
                                chunk_bytes=fsize).collect()}
    assert exact == want


def test_warc_write_through_fs_shim(spark, tmp_path):
    """The sink honors the pluggable FS (executors pickle it)."""
    from tests.test_seen_scale import _SlowShimFS

    out = str(tmp_path / "warc")
    res = crawl(
        spark, ["http://host0.test/page/0"], CrawlSettings(timeout=600)
    ).filter("outcome = 'done'")
    manifest = write_warc(res, out, fs=_SlowShimFS(delay=0)).collect()
    assert manifest and os.path.exists(manifest[0]["path"])
    got = read_warc(spark, out).collect()
    assert len(got) == 1 and got[0]["status"] == 200


def test_warc_url_with_crlf_cannot_break_record_framing():
    """A URL carrying raw CR/LF (reachable via the rawurl fallback
    for unparsed seeds) must not terminate the WARC record header
    early — unescaped, it ends the header block before
    Content-Length and every later record in the archive is lost.
    The writer percent-escapes the delimiter bytes into
    WARC-Target-URI and the parser reverses it."""
    evil_url = "http://x.test/\r\n\r\nGARBAGE: injected"
    evil = warc_record_bytes(
        evil_url, "2025-06-15T00:00:00Z",
        b"HTTP/1.1 200\r\nContent-Length: 2\r\n\r\nhi",
    )
    good = warc_record_bytes(
        "http://ok.test/a b", "2025-06-15T00:00:00Z",
        b"HTTP/1.1 200\r\nContent-Length: 2\r\n\r\nok",
    )
    # unescape=True: this stream is this writer's own bytes (the file
    # readers detect that via the warcinfo record / CDXJ sidecar;
    # foreign archives keep their URI bytes verbatim — ADVICE r5)
    recs = list(_parse_warc(evil + good, unescape=True))
    assert len(recs) == 2
    # URLs round-trip exactly, including the control bytes + space
    assert recs[0][0] == evil_url
    assert recs[1][0] == "http://ok.test/a b"
    assert recs[0][4] == b"hi" and recs[1][4] == b"ok"
    # and the raw record bytes contain no naked CR/LF inside the
    # header line (the escape really happened on the wire)
    head = evil[: evil.find(b"\r\n\r\n")]
    for line in head.split(b"\r\n"):
        assert b"GARBAGE" not in line or line.startswith(
            b"WARC-Target-URI:"
        )


def test_read_warc_missing_path_raises_and_glob_works(
    spark, tmp_path
):
    """A typo'd archive path must fail loud (an empty DataFrame here
    silently writes an empty corpus downstream), and the
    dir/*.warc.gz glob form keeps working."""
    import pytest

    with pytest.raises(FileNotFoundError):
        read_warc(spark, str(tmp_path / "no-such-dir"))

    out = str(tmp_path / "warc")
    res = crawl(
        spark, ["http://host0.test/page/0"],
        CrawlSettings(timeout=600),
    ).filter("outcome = 'done'")
    write_warc(res, out).collect()
    got = read_warc(spark, out + "/*.warc.gz").collect()
    assert len(got) == 1 and got[0]["status"] == 200
    with pytest.raises(FileNotFoundError):
        read_warc(spark, out + "/*.nomatch.gz")


def test_wet_roundtrip_and_interop(spark, tmp_path):
    """documents -> write_wet -> read_wet round-trips text exactly;
    the archives are WET-convention: .warc.wet.gz names, one
    warcinfo first member, conversion records with text/plain
    payloads and escaped target URIs."""
    from minicrawler_spark.sources.warc import read_wet, write_wet

    out = str(tmp_path / "wet")
    docs = spark.createDataFrame(
        [("http://a.test/p1", "hello wet\nline two"),
         ("http://b.test/with space", "žluťoučký kůň"),
         ("http://c.test/p3", "")],
        "doc_id string, text string",
    ).coalesce(1)
    manifest = write_wet(docs, out).collect()
    assert sum(m["n_records"] for m in manifest) == 3
    assert all(m["path"].endswith(".warc.wet.gz") for m in manifest)

    got = {r["doc_id"]: (r["text"], r["n_chars"])
           for r in read_wet(spark, out).collect()}
    assert got == {
        "http://a.test/p1": ("hello wet\nline two", 18),
        "http://b.test/with space": ("žluťoučký kůň", 13),
        "http://c.test/p3": ("", 0),
    }

    # raw structure: first member is warcinfo, records are
    # conversion/text-plain with the URI escaped on the wire
    blob = gzip.decompress(open(manifest[0]["path"], "rb").read())
    assert b"WARC-Type: warcinfo" in blob.split(b"\r\n\r\n")[0]
    assert b"WARC-Type: conversion" in blob
    assert b"Content-Type: text/plain" in blob
    assert b"http://b.test/with%20space" in blob
    assert b"http://b.test/with space" not in blob

    # CDXJ sidecars index every record for ranged access
    import glob as _glob

    n_indexed = sum(
        1 for c in _glob.glob(out + "/*.cdxj") for _ in open(c)
    )
    assert n_indexed == 3

    # WARC reader in the same dir ignores WET files (and vice versa)
    import pytest

    with pytest.raises(FileNotFoundError):
        read_warc(spark, out)


def test_wet_from_archived_crawl(spark, tmp_path):
    """The full text-exchange chain: crawl -> write_warc ->
    warc_to_documents -> write_wet -> read_wet == the documents."""
    from minicrawler_spark.sources.warc import (
        read_wet,
        warc_to_documents,
        write_wet,
    )

    warc_dir = str(tmp_path / "warc")
    wet_dir = str(tmp_path / "wet")
    res = crawl(
        spark,
        ["http://host%d.test/page/0" % i for i in range(4)],
        CrawlSettings(timeout=600, writehead=True),
    ).filter("outcome = 'done'")
    write_warc(res, warc_dir).collect()
    docs = warc_to_documents(spark, warc_dir)
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    write_wet(docs, wet_dir).collect()
    got = {r["doc_id"]: r["text"]
           for r in read_wet(spark, wet_dir).collect()}
    assert got == want and len(got) == 4


def test_wet_indexed_ranged_reads(spark, tmp_path):
    """The CDXJ sidecars write_wet produces drive selective ranged
    reads too: read_warc_records must yield the selected CONVERSION
    records (the type filter is the reader's, not the index's)."""
    from minicrawler_spark.sources.warc import (
        read_warc_records,
        write_wet,
    )

    out = str(tmp_path / "wet")
    docs = spark.createDataFrame(
        [("http://a.test/p%d" % i, "text number %d" % i)
         for i in range(6)],
        "doc_id string, text string",
    ).coalesce(1)
    write_wet(docs, out).collect()
    from pyspark.sql import functions as F

    got = read_warc_records(
        spark, out, selector=F.col("url").endswith("p3")
    ).collect()
    assert len(got) == 1
    assert got[0]["url"] == "http://a.test/p3"
    assert bytes(got[0]["body"]) == b"text number 3"
    assert got[0]["status"] == 0  # conversion records carry no HTTP


def _raw_record(warc_type, uri, extra, payload, version=b"WARC/1.0"):
    """A hand-built record, the way a foreign writer could emit it."""
    head = version + b"\r\nWARC-Type: " + warc_type + b"\r\n"
    if uri is not None:
        head += b"WARC-Target-URI: " + uri + b"\r\n"
    head += extra
    head += b"Content-Length: %d\r\n\r\n" % len(payload)
    return head + payload + b"\r\n\r\n"


def test_foreign_record_quoting_warcinfo_markers_reads_verbatim(
    spark, tmp_path
):
    """A foreign record whose URI and headers embed both own-archive
    markers ('WARC-Type: warcinfo', 'software: minicrawler-spark/')
    must not be taken for this writer's warcinfo: its %20/%0A URIs,
    and those of every later record, read back byte-for-byte."""
    from minicrawler_spark.sources.warc import (
        _is_own_warcinfo,
        _warcinfo_record,
    )

    http = b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi"
    bait_uri = b"http://f.test/a%20b?WARC-Type: warcinfo"
    bait = _raw_record(
        b"response", bait_uri,
        b"X-Note: software: minicrawler-spark/9\r\n"
        b"X-Also: WARC-Type: warcinfo\r\n",
        http,
    )
    later = _raw_record(b"response", b"http://f.test/x%0Ay", b"", http)
    # a foreign warcinfo quoting the software field inside another one
    info = _raw_record(
        b"warcinfo", None, b"",
        b"description: copy of software: minicrawler-spark/9\r\n",
    )
    assert _is_own_warcinfo(_warcinfo_record(0, 0))
    for rec in (bait, later, info,
                _raw_record(b"warcinfo", None, b"",
                            b"software: minicrawler-spark/9\r\n")):
        assert not _is_own_warcinfo(rec)

    d = tmp_path / "foreign"
    d.mkdir()
    with open(d / "f.warc.gz", "wb") as f:
        for rec in (bait, info, later):
            f.write(gzip.compress(rec))
    got = [r["url"] for r in read_warc(spark, str(d)).collect()]
    assert got == [bait_uri.decode(), "http://f.test/x%0Ay"]
