"""HTTP/2 client (sources/http2.py) — framing, HPACK, flow control,
ALPN negotiation, connection reuse, and the full crawl engine over an
h2 loopback server.

The test server is deliberately implemented directly on RFC 9113
frames with nghttp2's own HPACK codec on its side of the connection
(tests/nghttp2_hpack.py, when libnghttp2 is loadable), so both
directions of our client's pure-Python HPACK (literal blocks decoded by
the C library, indexed+Huffman+dynamic-table blocks produced by it)
are validated against the same authority the reference binary links."""

import random
import socket
import ssl
import struct
import subprocess
import threading

import pytest

from minicrawler_spark.sources.http2 import (
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    F_DATA,
    F_GOAWAY,
    F_HEADERS,
    F_PING,
    F_SETTINGS,
    F_WINDOW_UPDATE,
    PREFACE,
    pack_frame,
)
from minicrawler_spark.sources.hpack_py import (
    STATIC_TABLE, PyHpackDecoder, PyHpackEncoder,
)

from .nghttp2_hpack import _NgHpackDecoder, _NgHpackEncoder, _load_nghttp2

needs_nghttp2 = pytest.mark.skipif(
    not _load_nghttp2(), reason="libnghttp2 not loadable"
)


def _server_codec(pure_python=False):
    """The loopback server's HPACK (decoder, encoder): libnghttp2's
    when loadable, else hpack_py."""
    if not pure_python and _load_nghttp2():
        return _NgHpackDecoder(), _NgHpackEncoder()
    return PyHpackDecoder(), PyHpackEncoder()


@needs_nghttp2
def test_hpack_roundtrip_with_dynamic_table():
    enc, dec = _NgHpackEncoder(), PyHpackDecoder()
    hdrs = [
        (b":status", b"200"),
        (b"content-type", b"text/html; charset=utf-8"),
        (b"x-long", b"v" * 300),
    ]
    first = enc.encode(hdrs)
    assert dec.decode(first) == hdrs
    second = enc.encode(hdrs)
    assert len(second) < len(first)  # dynamic-table indexing kicked in
    assert dec.decode(second) == hdrs


# ---------------------------------------------------------------------------
# frame-level loopback server
# ---------------------------------------------------------------------------


def _mk_cert(tmp_path):
    key, crt = tmp_path / "k.pem", tmp_path / "c.pem"
    r = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(crt), "-days", "1",
         "-subj", "/CN=127.0.0.1"],
        capture_output=True,
    )
    if r.returncode != 0:
        pytest.skip("openssl CLI unavailable")
    return str(key), str(crt)


class H2TestServer:
    """Single-connection-at-a-time h2 server: handler(method, path,
    headers) -> (status, [(name, value)], body)."""

    def __init__(self, tmp_path, handler, alpn=("h2", "http/1.1"),
                 data_chunk=16384, respect_flow_window=False,
                 split_headers=False, pure_python=False):
        key, crt = _mk_cert(tmp_path)
        self.ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        self.ctx.load_cert_chain(crt, key)
        self.ctx.set_alpn_protocols(list(alpn))
        self.handler = handler
        self.data_chunk = data_chunk
        self.respect_flow_window = respect_flow_window
        self.split_headers = split_headers
        self.pure_python = pure_python  # hpack_py on the server too
        self.requests = []          # h2 path [(method, path, {n: v})]
        self.h1_requests = []       # http/1.1 fallback path
        self.streams_served = []    # stream ids, in order
        self.connections = 0
        self.errors = []
        self.lsock = socket.socket()
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(4)
        self.port = self.lsock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # -- frame io ------------------------------------------------------

    def _read_exact(self, tls, n):
        buf = b""
        while len(buf) < n:
            d = tls.recv(n - len(buf))
            if not d:
                raise ConnectionError("client closed")
            buf += d
        return buf

    def _read_frame(self, tls):
        hdr = self._read_exact(tls, 9)
        ln = struct.unpack(">I", b"\x00" + hdr[:3])[0]
        return (hdr[3], hdr[4],
                struct.unpack(">I", hdr[5:9])[0] & 0x7FFFFFFF,
                self._read_exact(tls, ln) if ln else b"")

    # -- server loop ---------------------------------------------------

    def _serve(self):
        # thread-per-connection: the engine's mux opens several h1
        # keep-alive sockets concurrently (the h2 path rides one
        # session, but must not be blocked by a lingering h1 socket)
        def one(conn):
            try:
                tls = self.ctx.wrap_socket(conn, server_side=True)
                self.connections += 1
                if tls.selected_alpn_protocol() != "h2":
                    self._serve_h1(tls)
                    return
                self._serve_h2(tls)
            except Exception as e:  # surface in the test, don't hang
                self.errors.append(repr(e))
                try:
                    conn.close()
                except OSError:
                    pass

        while not self._stop.is_set():
            try:
                conn, _ = self.lsock.accept()
            except OSError:
                return
            threading.Thread(target=one, args=(conn,), daemon=True).start()

    def _serve_h1(self, tls):
        """Handler-driven HTTP/1.1 with keep-alive, so the SAME
        scenarios serve over both protocols (h1/h2 parity tests)."""
        buf = b""
        try:
            while True:
                while b"\r\n\r\n" not in buf:
                    d = tls.recv(65536)
                    if not d:
                        return
                    buf += d
                head, _, buf = buf.partition(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                method, path, _ = lines[0].split(" ", 2)
                hdrs = {}
                for ln in lines[1:]:
                    if ":" in ln:
                        k, v = ln.split(":", 1)
                        hdrs[k.strip().lower()] = v.strip()
                need = int(hdrs.get("content-length", "0"))
                while len(buf) < need:
                    d = tls.recv(65536)
                    if not d:
                        return
                    buf += d
                buf = buf[need:]
                self.h1_requests.append((method, path, hdrs))
                status, rhdrs, body = self.handler(method, path, hdrs)
                out = b"HTTP/1.1 %d X\r\n" % status
                names = {n.lower() for n, _ in rhdrs}
                for n, v in rhdrs:
                    out += ("%s: %s\r\n" % (n, v)).encode("latin-1")
                if "content-length" not in names:
                    out += b"Content-Length: %d\r\n" % len(body)
                tls.sendall(out + b"\r\n" + body)
        except (ConnectionError, OSError, ssl.SSLError):
            return
        finally:
            try:
                tls.close()
            except OSError:
                pass

    def _serve_h2(self, tls):
        assert self._read_exact(tls, len(PREFACE)) == PREFACE
        dec, enc = _server_codec(self.pure_python)
        tls.sendall(pack_frame(F_SETTINGS, 0, 0, b""))
        window = 65535
        open_frag = {}
        while True:
            try:
                ftype, flags, sid, payload = self._read_frame(tls)
            except (ConnectionError, OSError, ssl.SSLError):
                return
            if ftype == F_SETTINGS and not (flags & FLAG_ACK):
                tls.sendall(pack_frame(F_SETTINGS, FLAG_ACK, 0))
            elif ftype == F_PING and not (flags & FLAG_ACK):
                tls.sendall(pack_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype == F_WINDOW_UPDATE:
                if sid == 0:
                    window += struct.unpack(">I", payload)[0] & 0x7FFFFFFF
            elif ftype == F_HEADERS:
                open_frag[sid] = payload
                if flags & FLAG_END_HEADERS:
                    self._respond(
                        tls, dec, enc, sid, open_frag.pop(sid),
                        end_stream=bool(flags & FLAG_END_STREAM),
                        window=window,
                    )
            elif ftype == F_DATA:
                pass  # request bodies are consumed implicitly
            elif ftype == F_GOAWAY:
                return

    def _respond(self, tls, dec, enc, sid, block, end_stream, window):
        hdrs = dec.decode(block)
        pseudo = {n: v for n, v in hdrs if n.startswith(b":")}
        plain = {
            n.decode(): v.decode() for n, v in hdrs
            if not n.startswith(b":")
        }
        method = pseudo.get(b":method", b"").decode()
        path = pseudo.get(b":path", b"").decode()
        self.requests.append((method, path, plain))
        self.streams_served.append(sid)
        status, rhdrs, body = self.handler(method, path, plain)
        nva = [(b":status", str(status).encode())] + [
            (n.encode().lower(), v.encode()) for n, v in rhdrs
        ]
        block = enc.encode(nva)
        es = FLAG_END_STREAM if not body else 0
        if self.split_headers and len(block) >= 2:
            # HEADERS (no END_HEADERS, END_STREAM if bodiless) then
            # CONTINUATION carrying the rest — RFC 9113 §6.2/§6.10
            half = len(block) // 2
            from minicrawler_spark.sources.http2 import F_CONTINUATION

            tls.sendall(
                pack_frame(F_HEADERS, es, sid, block[:half])
                + pack_frame(F_CONTINUATION, FLAG_END_HEADERS, sid,
                             block[half:])
            )
        else:
            tls.sendall(
                pack_frame(F_HEADERS, FLAG_END_HEADERS | es, sid, block)
            )
        sent = 0
        while sent < len(body):
            chunk = body[sent:sent + self.data_chunk]
            if self.respect_flow_window:
                # consume the connection window; stall until the client
                # replenishes it (proves WINDOW_UPDATEs are sent)
                while self._window_left < len(chunk):
                    ftype, flags, wsid, payload = self._read_frame(tls)
                    if ftype == F_WINDOW_UPDATE and wsid == 0:
                        self._window_left += (
                            struct.unpack(">I", payload)[0] & 0x7FFFFFFF
                        )
                self._window_left -= len(chunk)
            sent += len(chunk)
            last = sent >= len(body)
            tls.sendall(
                pack_frame(
                    F_DATA, FLAG_END_STREAM if last else 0, sid, chunk
                )
            )

    _window_left = 65535

    def close(self):
        self._stop.set()
        self.lsock.close()


@pytest.fixture
def h2_env():
    from minicrawler_spark.sources import httpfetch as hf

    old = dict(hf._DEFAULTS)
    hf.configure(timeout_s=10.0, insecure=True)
    loop, ctx = hf._thread_driver()  # the blocking driver's pool
    loop.run_until_complete(ctx.close())
    hf._TLS_MAX.clear()
    yield hf
    hf._DEFAULTS.update(old)
    loop.run_until_complete(ctx.close())
    hf._TLS_MAX.clear()


def test_h2_get_end_to_end(tmp_path, h2_env):
    """GET over negotiated h2: request headers arrive lowercased with
    :authority (no Host/Connection), and the response comes back as
    HTTP/1.1-shape raw bytes for the engine's protocol layer."""
    def handler(method, path, headers):
        return 200, [("content-type", "text/plain"),
                     ("set-cookie", "sid=42; Path=/")], b"h2 body bytes"

    srv = H2TestServer(tmp_path, handler)
    try:
        raw, delay = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/p?q=1" % srv.port,
            {"Host": "127.0.0.1:%d" % srv.port, "Accept": "*/*",
             "User-Agent": "minicrawler/5.2.7", "Cookie": "a=b"},
            None,
        )
    finally:
        srv.close()
    assert srv.errors == []
    assert raw.startswith(b"HTTP/1.1 200\r\n")
    assert b"set-cookie: sid=42; Path=/\r\n" in raw
    assert raw.endswith(b"\r\n\r\nh2 body bytes")
    method, path, hdrs = srv.requests[0]
    assert (method, path) == ("GET", "/p?q=1")
    assert hdrs["accept"] == "*/*"
    assert hdrs["user-agent"] == "minicrawler/5.2.7"
    assert hdrs["cookie"] == "a=b"
    assert "host" not in hdrs and "connection" not in hdrs


def test_h2_connection_reuse_and_stream_ids(tmp_path, h2_env):
    """Second request to the same host reuses the pooled h2 session on
    stream 3 (crawler.c keeps the session across hops)."""
    srv = H2TestServer(
        tmp_path, lambda m, p, h: (200, [("content-length", "2")], b"ok")
    )
    try:
        for _ in range(2):
            raw, _ = h2_env.http_fetcher(
                "GET", "https://127.0.0.1:%d/x" % srv.port,
                {"Host": "127.0.0.1"}, None,
            )
            assert raw.endswith(b"ok")
    finally:
        srv.close()
    assert srv.errors == []
    assert srv.connections == 1
    assert srv.streams_served == [1, 3]


def test_h2_post_body(tmp_path, h2_env):
    got = {}

    def handler(method, path, headers):
        got.update(headers)
        got["method"] = method
        return 200, [], b"posted"

    srv = H2TestServer(tmp_path, handler)
    try:
        raw, _ = h2_env.http_fetcher(
            "POST", "https://127.0.0.1:%d/submit" % srv.port,
            {"Host": "x", "Content-Length": "7",
             "Content-Type": "application/x-www-form-urlencoded"},
            b"a=1&b=2",
        )
    finally:
        srv.close()
    assert srv.errors == []
    assert raw.endswith(b"posted")
    assert got["method"] == "POST"
    assert got["content-length"] == "7"


def test_h2_large_body_flow_control(tmp_path, h2_env):
    """A 300 KiB response crosses the 64 KiB connection window almost
    5x over: the server stalls until the client's WINDOW_UPDATEs
    arrive, so completion proves flow control works."""
    body = bytes(range(256)) * 1200  # 300 KiB
    srv = H2TestServer(
        tmp_path,
        lambda m, p, h: (200, [("content-type",
                                "application/octet-stream")], body),
        respect_flow_window=True,
    )
    try:
        raw, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/big" % srv.port,
            {"Host": "x"}, None,
        )
    finally:
        srv.close()
    assert srv.errors == []
    head_end = raw.find(b"\r\n\r\n")
    assert raw[head_end + 4:] == body


def test_h2_disabled_falls_back_to_h1(tmp_path, h2_env):
    """-2 / disable_http2: ALPN offers only http/1.1 even though the
    server prefers h2 (MCURL_OPT_DISABLE_HTTP2 semantics)."""
    srv = H2TestServer(
        tmp_path, lambda m, p, h: (200, [], b"via h2")
    )
    h2_env.configure(timeout_s=10.0, insecure=True, disable_http2=True)
    try:
        raw, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/x" % srv.port,
            {"Host": "x"}, None,
        )
    finally:
        srv.close()
    assert raw.endswith(b"via h2")
    assert srv.requests == []  # never reached the h2 path
    assert [(m, p) for m, p, _ in srv.h1_requests] == [("GET", "/x")]


def test_h2_through_crawl_engine(tmp_path, h2_env, spark):
    """Full engine over h2: redirect hop + cookie round-trip, all
    protocol interpretation done by the engine on the synthesized
    HTTP/1.1-shape bytes."""
    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    def handler(method, path, headers):
        if path == "/start":
            return 302, [("location", "/target"),
                         ("set-cookie", "hop=1; Path=/")], b""
        if path == "/target":
            assert headers.get("cookie") == "hop=1"
            return 200, [("content-type", "text/plain")], b"arrived"
        return 404, [], b"no"

    srv = H2TestServer(tmp_path, handler)
    try:
        res = crawl(
            spark,
            ["https://127.0.0.1:%d/start" % srv.port],
            CrawlSettings(timeout=30, insecure=True),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        rows = res.collect()
    finally:
        srv.close()
    assert srv.errors == []
    assert len(rows) == 1
    r = rows[0]
    assert r["outcome"] == "done"
    assert r["status"] == 200
    assert bytes(r["body"]) == b"arrived"
    assert r["redirect_info"][0]["url"].endswith("/target")
    # both hops rode ONE h2 session (stream ids 1 and 3)
    assert srv.connections == 1
    assert srv.streams_served == [1, 3]


def _scenario_handler(method, path, headers):
    """12 httpbin-style scenarios served identically over h1.1 and h2
    (content-length always explicit so the header set is identical on
    both wires)."""
    import gzip as _gzip

    def ok(status, hdrs, body):
        return status, hdrs + [("content-length", str(len(body)))], body

    if path == "/plain":
        return ok(200, [("content-type", "text/plain")], b"plain body here")
    if path == "/doc.html":
        doc = (b"<html><head><title>T</title></head><body>"
               b"<h1>Head&iacute;ng</h1><p>para with "
               b"<a href='/linked'>a link</a> &amp; more</p>"
               b"<img src='/i.png'>tail</body></html>")
        return ok(200, [("content-type", "text/html")], doc)
    if path.startswith("/redirect/"):
        n = int(path.rsplit("/", 1)[1])
        loc = "/plain" if n <= 1 else "/redirect/%d" % (n - 1)
        return ok(302, [("location", loc)], b"")
    if path == "/cookies":
        return ok(302, [("set-cookie", "alpha=1; Path=/"),
                        ("set-cookie", "beta=two; Path=/"),
                        ("location", "/cookie-check")], b"")
    if path == "/cookie-check":
        got = headers.get("cookie", "")
        return ok(200, [("content-type", "text/plain")],
                  ("ck:%s" % got).encode())
    if path == "/gzip":
        gz = _gzip.compress(b"the gzipped payload", mtime=0)
        return ok(200, [("content-type", "text/plain"),
                        ("content-encoding", "gzip")], gz)
    if path == "/refresh":
        return ok(200, [("content-type", "text/plain"),
                        ("refresh", "0;url=/plain")], b"interim")
    if path == "/charset":
        return ok(200, [("content-type", "text/html; charset=iso-8859-1")],
                  b"<html><body>caf\xe9 latin</body></html>")
    if path == "/auth":
        return ok(401, [("www-authenticate", 'Basic realm="secrets"')],
                  b"denied")
    if path == "/big":
        return ok(200, [("content-type", "text/plain")],
                  b"0123456789abcdef" * 6000)  # 96 KB: h2 multi-DATA
    if path == "/empty":
        return ok(204, [], b"")
    return ok(404, [("content-type", "text/plain")], b"not here")


_SCENARIO_PATHS = [
    "/plain", "/doc.html", "/redirect/3", "/cookies", "/cookie-check",
    "/gzip", "/refresh", "/charset", "/auth", "/big", "/empty",
    "/missing",
]


def test_h1_h2_full_record_parity(tmp_path, h2_env, spark):
    """VERDICT r2 #10: the same fixture served over h1.1 and h2 must
    produce EQUAL logical records through the engine — status, body,
    spans, links, cookies, redirect chains, charset, auth fields — so
    h2 stays semantically pinned as the protocol layer evolves. Two
    server instances (separate ports) prevent keep-alive pool
    cross-talk between the runs."""
    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    def run(disable_http2):
        srv = H2TestServer(tmp_path, _scenario_handler)
        origin = "https://127.0.0.1:%d" % srv.port
        try:
            res = crawl(
                spark,
                [origin + p for p in _SCENARIO_PATHS],
                CrawlSettings(timeout=60, insecure=True,
                              disable_http2=disable_http2, delay=10),
                fetcher_spec=(
                    "minicrawler_spark.sources.httpfetch:http_fetcher"
                ),
            )
            rows = {r["index"]: r for r in res.collect()}
        finally:
            srv.close()
        assert srv.errors == []
        if disable_http2:
            assert srv.requests == [] and srv.h1_requests
        else:
            assert srv.h1_requests == [] and srv.requests
        return origin, rows

    def norm(origin, r):
        strip = lambda s: s.replace(origin, "") if s else s
        return {
            "path_query": r["path_query"],
            "outcome": r["outcome"],
            "status": r["status"],
            "error_msg": r["error_msg"],
            "redirectedto": strip(r["redirectedto"]),
            "content_type": r["content_type"],
            "charset": r["charset"],
            "wwwauthenticate": r["wwwauthenticate"],
            "body": bytes(r["body"]) if r["body"] is not None else None,
            "content_length": r["content_length"],
            "truncated": r["truncated"],
            "spans": [(s["kind"], s["text"]) for s in (r["spans"] or [])],
            "links": [strip(l) for l in (r["links"] or [])],
            "cookies": sorted(
                (c["name"], c["value"], c["path"])
                for c in (r["cookies"] or [])
            ),
            "redirects": [
                (strip(h["url"]), h["status"])
                for h in (r["redirect_info"] or [])
            ],
        }

    o1, h1 = run(disable_http2=True)
    o2, h2 = run(disable_http2=False)
    assert set(h1) == set(h2) and len(h1) == len(_SCENARIO_PATHS)
    for idx in sorted(h1):
        a, b = norm(o1, h1[idx]), norm(o2, h2[idx])
        assert a == b, "record %d (%s) differs h1 vs h2:\n%r\n%r" % (
            idx, _SCENARIO_PATHS[idx], a, b
        )


def test_h2_continuation_frames(tmp_path, h2_env):
    """Header blocks split across HEADERS+CONTINUATION decode as one
    block, and END_STREAM is honored from the INITIATING HEADERS frame
    (RFC 9113 6.2) for both bodiless and bodied responses."""
    srv = H2TestServer(
        tmp_path,
        lambda m, p, h: (
            (204, [("x-note", "bodiless")], b"") if p == "/nobody"
            else (200, [("x-note", "with-body")], b"payload")
        ),
        split_headers=True,
    )
    try:
        raw, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/nobody" % srv.port,
            {"Host": "x"}, None,
        )
        assert raw.startswith(b"HTTP/1.1 204\r\n")
        assert b"x-note: bodiless" in raw
        raw2, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/body" % srv.port,
            {"Host": "x"}, None,
        )
        assert raw2.startswith(b"HTTP/1.1 200\r\n")
        assert raw2.endswith(b"payload")
    finally:
        srv.close()
    assert srv.errors == []


def test_h2_gzip_body_through_engine(tmp_path, h2_env, spark):
    """Content-Encoding: gzip over h2: the engine's own protocol layer
    gunzips the synthesized response exactly as it does for h1."""
    import gzip as _gzip

    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    payload = b"compressed over http/2"
    srv = H2TestServer(
        tmp_path,
        lambda m, p, h: (
            200,
            [("content-encoding", "gzip"), ("content-type", "text/plain")],
            _gzip.compress(payload),
        ),
    )
    try:
        res = crawl(
            spark, ["https://127.0.0.1:%d/z" % srv.port],
            CrawlSettings(timeout=30, insecure=True,
                          gzip=True),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        r = res.collect()[0]
    finally:
        srv.close()
    assert srv.errors == []
    assert r["status"] == 200
    assert bytes(r["body"]) == payload
    assert srv.requests[0][2].get("accept-encoding") == "gzip"


def test_pyhpack_rfc7541_appendix_c_vectors():
    """The pure-Python fallback decoder against the RFC's own request
    examples: C.3 (plain literals) and C.4 (Huffman), each a 3-block
    sequence exercising the dynamic table across blocks."""
    from minicrawler_spark.sources.hpack_py import PyHpackDecoder

    first = [(b":method", b"GET"), (b":scheme", b"http"),
             (b":path", b"/"), (b":authority", b"www.example.com")]
    second = first + [(b"cache-control", b"no-cache")]
    third = [(b":method", b"GET"), (b":scheme", b"https"),
             (b":path", b"/index.html"),
             (b":authority", b"www.example.com"),
             (b"custom-key", b"custom-value")]

    plain = [
        "828684410f7777772e6578616d706c652e636f6d",
        "828684be58086e6f2d6361636865",
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565",
    ]
    huff = [
        "828684418cf1e3c2e5f23a6ba0ab90f4ff",
        "828684be5886a8eb10649cbf",
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf",
    ]
    for blocks in (plain, huff):
        dec = PyHpackDecoder()
        assert dec.decode(bytes.fromhex(blocks[0])) == first
        assert dec.decode(bytes.fromhex(blocks[1])) == second
        assert dec.decode(bytes.fromhex(blocks[2])) == third
        # C.3.3/C.4.3 end state (RFC 7541): 3 dynamic entries
        # [custom-key, cache-control, :authority], size 164
        assert [n for n, _ in dec._dyn] == [
            b"custom-key", b"cache-control", b":authority"
        ]
        assert dec._dyn_size == 164


@needs_nghttp2
def test_pyhpack_differential_vs_libnghttp2():
    """Blocks deflated by libnghttp2 (indexed + dynamic-table +
    Huffman forms) must inflate identically through the pure-Python
    decoder, across a multi-block session; and the pure-Python
    encoder's literal form must inflate through libnghttp2."""
    sessions = [
        [(b":status", b"200"), (b"content-type", b"text/html"),
         (b"set-cookie", b"sid=9c2f; Path=/; HttpOnly")],
        [(b":status", b"200"), (b"content-type", b"text/html"),
         (b"x-custom", b"\x00\xff binary-ish \x80")],
        [(b":status", b"304"), (b"etag", b'W/"abc123"'),
         (b"set-cookie", b"sid=9c2f; Path=/; HttpOnly")],
        [(b":method", b"GET"), (b":path", b"/p?q=" + b"z" * 300),
         (b"user-agent", b"minicrawler/5.2.7")],
    ]
    ng_enc, py_dec = _NgHpackEncoder(), PyHpackDecoder()
    py_enc, ng_dec = PyHpackEncoder(), _NgHpackDecoder()
    for headers in sessions:
        assert py_dec.decode(ng_enc.encode(headers)) == headers
        assert ng_dec.decode(py_enc.encode(headers)) == headers


@needs_nghttp2
def test_pyhpack_fuzz_differential_vs_libnghttp2():
    """Property fuzz: any header list libnghttp2 deflates (Huffman,
    indexing, dynamic-table evolution across a session) must inflate
    identically through the pure-Python decoder, and the pure-Python
    encoder's output must inflate identically through libnghttp2."""
    from hypothesis import given, settings as hsettings, strategies as st

    token = st.binary(min_size=0, max_size=40).filter(
        lambda b: b"\x00" not in b
    )
    name = st.one_of(
        st.sampled_from([b"content-type", b"set-cookie", b":status",
                         b"etag", b"x-a", b"cache-control"]),
        token.filter(lambda b: len(b) > 0 and b":" not in b).map(
            lambda b: b.lower()
        ),
    )
    header = st.tuples(name, token)
    session = st.lists(st.lists(header, min_size=1, max_size=8),
                       min_size=1, max_size=5)

    @hsettings(max_examples=60, deadline=None)
    @given(session)
    def roundtrip(blocks):
        ng_enc, py_dec = _NgHpackEncoder(), PyHpackDecoder()
        py_enc, ng_dec = PyHpackEncoder(), _NgHpackDecoder()
        for headers in blocks:
            headers = [(n, v) for n, v in headers]
            assert py_dec.decode(ng_enc.encode(headers)) == headers
            assert ng_dec.decode(py_enc.encode(headers)) == headers

    roundtrip()


def test_pyhpack_rejects_malformed():
    from minicrawler_spark.sources.hpack_py import (
        HpackError, PyHpackDecoder,
    )

    dec = PyHpackDecoder()
    for bad in (
        b"\xbf",          # indexed: index far beyond both tables
        b"\x40\x85abc",   # literal: truncated string body
        b"\x00\x83\xff\xff\xff",  # huffman: invalid padding/EOS
    ):
        with pytest.raises(HpackError):
            PyHpackDecoder().decode(bad)
    assert dec.decode(b"") == []


_GET = [
    (b":method", b"GET"), (b":scheme", b"https"),
    (b":authority", b"www.example.com"), (b":path", b"/docs/page?q=7"),
    (b"accept", b"*/*"), (b"user-agent", b"minicrawler/5.2.7"),
    (b"accept-encoding", b"gzip"),
]


def test_pyhpack_encoder_compact_request():
    """Static-table fields go out as one-byte indices, static names as
    name indices, and strings Huffman-coded when shorter: the 7-field
    GET is 142 bytes as raw literals and at most 60 here (libnghttp2:
    54). Literals never enter the peer's dynamic table."""
    block = PyHpackEncoder().encode(_GET)
    assert sum(3 + len(n) + len(v) for n, v in _GET) == 142
    assert len(block) <= 60
    assert block[:2] == b"\x82\x87"  # :method GET, :scheme https
    dec = PyHpackDecoder()
    assert dec.decode(block) == _GET
    assert dec._dyn == []
    # a string Huffman would lengthen stays raw
    assert PyHpackEncoder().encode([(b"x", b"\xff\xfe")]) == b"\x00\x01x\x02\xff\xfe"


@needs_nghttp2
def test_pyhpack_encoder_seeded_differential():
    """Seeded header lists over every encoder branch (exact static
    fields, static names with other values, new names, binary and
    long values) decode to the input through both libnghttp2 and the
    pure-Python decoder."""
    rng = random.Random(7)
    names = sorted({n for n, _ in STATIC_TABLE}) + [b"x-a", b"x-trace-id"]
    alphabet = bytes(range(1, 256))
    for _ in range(300):
        headers = []
        for _ in range(rng.randrange(1, 10)):
            r = rng.random()
            if r < 0.3:
                headers.append(rng.choice(STATIC_TABLE))
                continue
            name = rng.choice(names)
            if r < 0.6:
                value = bytes(rng.choice(b"abcdefghij0123456789/-.")
                              for _ in range(rng.randrange(0, 40)))
            elif r < 0.9:
                value = bytes(rng.choice(alphabet)
                              for _ in range(rng.randrange(0, 20)))
            else:
                value = b"v" * rng.randrange(120, 400)
            headers.append((name, value))
        block = PyHpackEncoder().encode(headers)
        assert PyHpackDecoder().decode(block) == headers
        assert _NgHpackDecoder().decode(block) == headers


def test_h2_end_to_end_without_libnghttp2(tmp_path, h2_env):
    """VERDICT r2 #3: h2 works with no libnghttp2 anywhere — full
    fetch, cookies and all, with the test server forced to hpack_py
    too, so the py encoder AND py decoder run on both sides."""

    def handler(method, path, headers):
        return 200, [("content-type", "text/plain"),
                     ("set-cookie", "sid=7; Path=/")], b"fallback h2"

    srv = H2TestServer(tmp_path, handler, pure_python=True)
    try:
        raw, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/f" % srv.port,
            {"Host": "127.0.0.1", "User-Agent": "minicrawler/5.2.7"},
            None,
        )
        # second request reuses the session: stream 3, state intact
        raw2, _ = h2_env.http_fetcher(
            "GET", "https://127.0.0.1:%d/f2" % srv.port,
            {"Host": "127.0.0.1"}, None,
        )
    finally:
        srv.close()
    assert srv.errors == []
    assert raw.startswith(b"HTTP/1.1 200\r\n")
    assert b"set-cookie: sid=7; Path=/\r\n" in raw
    assert raw.endswith(b"fallback h2")
    assert raw2.endswith(b"fallback h2")
    assert srv.streams_served == [1, 3]
    assert srv.requests[0][2]["user-agent"] == "minicrawler/5.2.7"


def test_h2_upload_respects_peer_flow_window(tmp_path, h2_env):
    """ADVICE r2: DATA must honor the peer's send window (RFC 9113
    §5.2). Both windows start at 65535, so a 100 KB POST must stall at
    the boundary until the server grants WINDOW_UPDATEs; the server
    records a violation if more than 65535 un-granted bytes arrive
    (the old fire-and-forget sender tripped this immediately)."""
    import socket as _socket
    import ssl as _ssl
    import struct as _struct

    from minicrawler_spark.sources.http2 import (
        F_DATA as _FD, F_HEADERS as _FH, F_SETTINGS as _FS,
        SETTINGS_INITIAL_WINDOW_SIZE as _SIW,
    )

    key, crt = _mk_cert(tmp_path)
    ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)
    ctx.set_alpn_protocols(["h2"])
    lsock = _socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]
    state = {"got": 0, "violations": [], "errors": []}

    def read_exact(tls, n):
        buf = b""
        while len(buf) < n:
            d = tls.recv(n - len(buf))
            if not d:
                raise ConnectionError("client closed")
            buf += d
        return buf

    def read_frame(tls):
        hdr = read_exact(tls, 9)
        ln = _struct.unpack(">I", b"\x00" + hdr[:3])[0]
        return (hdr[3], hdr[4],
                _struct.unpack(">I", hdr[5:9])[0] & 0x7FFFFFFF,
                read_exact(tls, ln) if ln else b"")

    def serve():
        try:
            conn, _ = lsock.accept()
            tls = ctx.wrap_socket(conn, server_side=True)
            assert read_exact(tls, len(PREFACE)) == PREFACE
            tls.sendall(pack_frame(_FS, 0, 0, b""))
            outstanding = 0
            sid = None
            import time as _t
            while True:
                ftype, flags, fsid, payload = read_frame(tls)
                if ftype == _FS and not (flags & FLAG_ACK):
                    tls.sendall(pack_frame(_FS, FLAG_ACK, 0))
                elif ftype == _FH:
                    sid = fsid
                elif ftype == _FD and fsid == sid:
                    outstanding += len(payload)
                    state["got"] += len(payload)
                    if outstanding > 65535:
                        state["violations"].append(outstanding)
                    if flags & FLAG_END_STREAM:
                        break
                    # consume slowly, then grant exactly what arrived
                    # on BOTH windows (the client decrements both)
                    _t.sleep(0.02)
                    inc = _struct.pack(">I", len(payload))
                    tls.sendall(
                        pack_frame(F_WINDOW_UPDATE, 0, 0, inc)
                        + pack_frame(F_WINDOW_UPDATE, 0, sid, inc)
                    )
                    outstanding -= len(payload)
            _dec, enc = _server_codec()
            block = enc.encode([(b":status", b"200")])
            tls.sendall(
                pack_frame(_FH, FLAG_END_HEADERS, sid, block)
                + pack_frame(_FD, FLAG_END_STREAM, sid,
                             b"got:%d" % state["got"])
            )
        except Exception as e:
            state["errors"].append(repr(e))

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    body = bytes(range(256)) * 400  # 102400 bytes > the 65535 window
    try:
        raw, _ = h2_env.http_fetcher(
            "POST", "https://127.0.0.1:%d/up" % port,
            {"Host": "x", "Content-Length": str(len(body))}, body,
        )
    finally:
        lsock.close()
    assert state["errors"] == []
    assert state["violations"] == []
    assert state["got"] == len(body)
    assert raw.endswith(b"got:%d" % len(body))


def _goaway_server(tmp_path, n_conns):
    """h2 server that answers each of `n_conns` connections with its
    SETTINGS, reads the client's first flight, then sends GOAWAY
    (last-stream-id 0, error ENHANCE_YOUR_CALM = 0xb) and closes —
    so the client's next write fails before it has read the GOAWAY."""
    import struct as _struct

    key, crt = _mk_cert(tmp_path)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)
    ctx.set_alpn_protocols(["h2"])
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(4)

    def serve():
        for _ in range(n_conns):
            conn, _ = lsock.accept()
            tls = ctx.wrap_socket(conn, server_side=True)
            buf = b""
            while len(buf) < len(PREFACE):
                buf += tls.recv(4096)
            tls.sendall(pack_frame(F_SETTINGS, 0, 0, b""))
            tls.recv(65536)  # their SETTINGS/HEADERS
            tls.sendall(
                pack_frame(F_GOAWAY, 0, 0, _struct.pack(">II", 0, 0xB))
            )
            tls.close()

    threading.Thread(target=serve, daemon=True).start()
    return lsock, lsock.getsockname()[1]


def test_h2_goaway_maps_to_error(tmp_path, h2_env):
    """A GOAWAY with an error code mid-stream surfaces as an OSError
    (engine maps it to the Connection-failed record), not a hang."""
    lsock, port = _goaway_server(tmp_path, 1)
    try:
        with pytest.raises(OSError) as ei:
            h2_env.http_fetcher(
                "GET", "https://127.0.0.1:%d/x" % port,
                {"Host": "x"}, None,
            )
        assert "GOAWAY" in str(ei.value)
    finally:
        lsock.close()


def test_h2_goaway_error_row_through_crawl(tmp_path, h2_env, spark):
    """The same GOAWAY reads the same on every row of a multiplexed
    real-time partition: two seeds in one partition both record the
    GOAWAY error, not the failed write that preceded reading it."""
    from minicrawler_spark.config import CrawlSettings
    from minicrawler_spark.streaming.crawl import crawl

    lsock, port = _goaway_server(tmp_path, 2)
    try:
        rows = crawl(
            spark,
            ["https://127.0.0.1:%d/%s" % (port, p) for p in ("a", "b")],
            CrawlSettings(timeout=10, insecure=True,
                          delay=10),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        ).collect()
    finally:
        lsock.close()
    assert len(rows) == 2
    for r in rows:
        assert r["outcome"] == "error"
        assert r["error_msg"] == "Connection failed: h2: GOAWAY error 11"
