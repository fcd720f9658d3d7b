"""Differential tests vs the COMPILED REFERENCE BINARY on the same
seed list + politeness budget over one loopback server (the BASELINE
correctness contract): identical crawl ordering, identical URL-seen
set (server-observed), field-level record equality, and -c
span-sequence equality.

The binary is built by tools_build_reference.py (c-ares shimmed);
tests skip if the toolchain is unavailable.
"""

import gzip
import re
import subprocess
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.streaming.crawl import crawl

try:
    import tools_build_reference

    BINARY = tools_build_reference.build()
except Exception as e:  # toolchain missing -> skip module
    BINARY = None
    BUILD_ERR = e

pytestmark = pytest.mark.skipif(
    BINARY is None, reason="reference binary build unavailable"
)

DOC_HTML = (
    "<html><head><title>T&amp;T</title></head><body>"
    "<h1>Header &copy; here</h1>"
    "<p>Some   text&nbsp;runs with <b>bold</b> and a "
    "<a href='/plain'>link</a>.</p>"
    "<script>ignored();</script>"
    "<table><tr><td>c1</td><td>caf&eacute;</td></tr></table>"
    "<img src='/img.png'>tail"
    "<!-- comment -->"
    "</body></html>"
).encode()


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    hits = None  # set per-run

    def log_message(self, *a):
        pass

    def _send(self, status, ctype, body, extra=()):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in extra:
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if Handler.hits is not None:
            Handler.hits.append(self.path)
        if self.path == "/plain":
            self._send(200, "text/plain", b"plain body here")
        elif self.path == "/doc.html":
            self._send(200, "text/html", DOC_HTML)
        elif self.path.startswith("/redirect/"):
            n = int(self.path.rsplit("/", 1)[1])
            loc = "/plain" if n <= 1 else "/redirect/%d" % (n - 1)
            self._send(302, "text/plain", b"", [("Location", loc)])
        elif self.path == "/cookies":
            self._send(
                200, "text/plain", b"ck",
                [("Set-Cookie", "alpha=1; Path=/"),
                 ("Set-Cookie", "beta=two; Path=/sub")],
            )
        elif self.path == "/gzip":
            gz = gzip.compress(b"the gzipped payload")
            self._send(200, "text/plain", gz, [("Content-Encoding", "gzip")])
        else:
            self._send(404, "text/plain", b"not here", [])


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield "http://127.0.0.1:%d" % srv.server_address[1]
    srv.shutdown()


def parse_reference_stdout(out: bytes) -> list:
    """Parse the binary's record stream into dicts (Timing/Downtime
    excluded — wall-clock)."""
    recs = []
    for chunk in re.split(rb"(?:^|\n)URL: ", out):
        if not chunk:
            continue
        head, _, rest = chunk.partition(b"\nIndex: ")
        idx_line, _, body = rest.partition(b"\n\n")
        r = {"rawurl": head.split(b"\n", 1)[0].decode(),
             "index": int(idx_line.split(b";")[0]),
             "body": body[:-1] if body.endswith(b"\n") else body,
             "redirect_info": [], "cookies": []}
        lines = head.decode("utf-8", "replace").split("\n")[1:]
        in_cookies = 0
        for ln in lines:
            if in_cookies > 0 and "\t" in ln:
                r["cookies"].append(ln)
                in_cookies -= 1
                continue
            if ln.startswith("Redirected-To: "):
                r["redirectedto"] = ln[15:]
            elif ln.startswith("Redirect-info: "):
                m = re.match(r"Redirect-info: (\S+) (\d+);", ln)
                r["redirect_info"].append((m.group(1), int(m.group(2))))
            elif ln.startswith("Status: "):
                r["status"] = int(ln[8:])
            elif ln.startswith("Content-length: "):
                r["content_length"] = int(ln[16:])
            elif ln.startswith("Content-type: "):
                r["content_type"] = ln[14:]
            elif ln.startswith("Cookies: "):
                in_cookies = int(ln[9:])
            elif ln.startswith("Error-msg: "):
                r["error_msg"] = ln[11:]
        recs.append(r)
    return sorted(recs, key=lambda r: r["index"])


def run_reference(args, timeout=60):
    out = subprocess.run(
        [BINARY] + args, capture_output=True, timeout=timeout
    )
    assert out.returncode == 0, out.stderr[-500:]
    return parse_reference_stdout(out.stdout)


def run_ours(spark, seeds, settings):
    res = crawl(
        spark, seeds, settings,
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
    )
    return {r["index"]: r for r in res.collect()}


def test_records_match_reference(server, spark):
    seeds = [
        server + "/plain",
        server + "/redirect/3",
        server + "/cookies",
        server + "/missing",
        server + "/gzip",
    ]
    Handler.hits = ref_hits = []
    ref = run_reference(["-t20", "-D300"] + seeds)
    Handler.hits = our_hits = []
    ours = run_ours(
        spark, seeds, CrawlSettings(timeout=20, delay=300)
    )
    Handler.hits = None

    assert len(ref) == len(ours) == len(seeds)
    for i in range(len(seeds)):
        R, O = ref[i], ours[i]
        assert R["status"] == O["status"], i
        assert R["content_length"] == O["content_length"], i
        assert R["body"] == bytes(O["body"] or b""), i
        assert R.get("content_type") == O["content_type"], i
        assert R.get("redirectedto") == O["redirectedto"], i
        ours_chain = [(h["url"], h["status"])
                      for h in (O["redirect_info"] or [])]
        assert R["redirect_info"] == ours_chain, i

    # cookie jars byte-equal in netscape format (session cookies ->
    # same LONG_MAX expiry on both sides)
    from minicrawler_spark.functions.cookies import netscape_line

    ours_lines = [netscape_line(c.asDict()) for c in ours[2]["cookies"]]
    assert ref[2]["cookies"] == ours_lines

    # URL-seen set as OBSERVED BY THE SERVER must be identical, and
    # each job's own request chain (seed + redirect hops) must appear
    # in the same order in both engines' request streams. The GLOBAL
    # interleaving of different jobs is NOT compared: the reference's
    # cross-job order is tick-iteration/timing-dependent (select loop
    # + 64-slot per-IP hash, SURVEY §7 "hard parts"), while ours is
    # the declared deterministic (priority, seq) FIFO — asserted below.
    assert sorted(set(ref_hits)) == sorted(set(our_hits))
    assert len(ref_hits) == len(our_hits)

    def subseq(chain, hits):
        it = iter(hits)
        return all(h in it for h in chain)

    chains = [
        ["/plain"],
        ["/redirect/3", "/redirect/2", "/redirect/1", "/plain"],
        ["/cookies"], ["/missing"], ["/gzip"],
    ]
    for c in chains:
        assert subseq(c, ref_hits), (c, ref_hits)
        assert subseq(c, our_hits), (c, our_hits)

    # ours IS the declared deterministic order: seeds in (priority,
    # seq) FIFO per host, redirect hops inline with their job
    assert our_hits == [
        "/plain",
        "/redirect/3", "/redirect/2", "/redirect/1", "/plain",
        "/cookies", "/missing", "/gzip",
    ]


def test_span_sequence_matches_reference_c(server, spark):
    """-c output: the reference's converted text must equal the
    concatenation of our text spans (the per-row invariant of the
    input_hint) and our converted body."""
    ref = run_reference(["-t20", "-c", server + "/doc.html"])
    ours = run_ours(
        spark, [server + "/doc.html"],
        CrawlSettings(timeout=20, convert_to_text=True,
                      convert_to_utf8=True, extract_links=True,
                      max_depth=0),
    )
    ref_text = ref[0]["body"].decode("utf-8")
    our_body = bytes(ours[0]["body"]).decode("utf-8")
    spans = ours[0]["spans"]
    joined = "".join(s["text"] for s in spans if s["kind"] == "text")
    assert our_body == ref_text
    assert joined == ref_text
    # media spans carry the resolved <img src>
    media = [s["media_ref"] for s in spans if s["kind"] == "media"]
    assert media == [server + "/img.png"]


def test_error_and_auth_fields_match(server, spark):
    seeds = ["not a url", "ftp://x.test/y", server + "/plain"]
    ref = run_reference(["-t20"] + seeds)
    ours = run_ours(spark, seeds, CrawlSettings(timeout=20))
    for i in range(3):
        assert ref[i]["status"] == ours[i]["status"], i
        if "error_msg" in ref[i]:
            assert ref[i]["error_msg"] == ours[i]["error_msg"], i


class EchoHandler(BaseHTTPRequestHandler):
    """Echoes the request line + sorted headers (minus Connection,
    which differs legitimately between keep-alive strategies) into the
    body — the wire-request equality oracle. Also serves basic and
    digest challenges with a fixed nonce."""

    protocol_version = "HTTP/1.1"

    def log_message(self, *a):
        pass

    def _echo(self, extra=b""):
        skip = {"connection"}
        lines = ["%s %s" % (self.command, self.path)]
        for k in sorted(self.headers, key=str.lower):
            if k.lower() not in skip:
                lines.append("%s: %s" % (k, self.headers[k]))
        body = ("\n".join(lines)).encode() + extra
        self.send_response(200)
        self.send_header("Content-Type", "text/plain")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _challenge(self, header):
        self.send_response(401)
        self.send_header("WWW-Authenticate", header)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def do_GET(self):
        if self.path == "/basic":
            if self.headers.get("Authorization", "").startswith("Basic "):
                self._echo()
            else:
                self._challenge('Basic realm="r1"')
        elif self.path == "/digest":
            if self.headers.get("Authorization", "").startswith("Digest "):
                self._echo()
            else:
                self._challenge(
                    'Digest realm="dr", nonce="fixednonce123", qop="auth"'
                )
        else:
            self._echo()

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        self._echo(b"\n<body>" + self.rfile.read(n))

    do_DELETE = do_GET


@pytest.fixture(scope="module")
def echo_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), EchoHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield "http://127.0.0.1:%d" % srv.server_address[1]
    srv.shutdown()


def test_wire_requests_match_reference(echo_server, spark):
    """Both engines must put the SAME header set on the wire: UA,
    Accept default, custom -w header, cookie jar line, gzip opt-in,
    POST content headers, custom method, Basic and Digest
    Authorization (fixed cnonce/nc make digest deterministic)."""
    jar = "127.0.0.1\t1\t/\t0\t9999999999\tjk\tjv"
    seeds = [
        echo_server + "/plain",
        echo_server + "/basic",
        echo_server + "/digest",
    ]
    ref = run_reference(
        ["-t20", "-g", "-A", "ref-agent/9", "-w", "X-Extra: 42",
         "-b", jar, "-u", "usr", "-ppw",
         "-P", "k=v", seeds[0], seeds[1], seeds[2]]
    )
    ours = run_ours(
        spark,
        [{"url": seeds[0], "method": "POST", "post": b"k=v",
          "cookies": [{"name": "jk", "value": "jv", "domain": "127.0.0.1",
                       "path": "/", "secure": False, "host_only": True,
                       "expires": 9999999999}]}]
        + [{"url": s,
            "cookies": [{"name": "jk", "value": "jv", "domain": "127.0.0.1",
                         "path": "/", "secure": False, "host_only": True,
                         "expires": 9999999999}]} for s in seeds[1:]],
        CrawlSettings(timeout=20, gzip=True,
                      customagent="ref-agent/9", customheader="X-Extra: 42",
                      username="usr", password="pw"),
    )
    for i in range(3):
        assert ref[i]["status"] == ours[i]["status"] == 200, i
        assert ref[i]["body"] == bytes(ours[i]["body"]), (
            i, ref[i]["body"], bytes(ours[i]["body"]))
