"""Real-network fetcher (sources/httpfetch.py) driven end-to-end
through the crawl engine against a loopback HTTP server — DNS resolve,
connect, request bytes on a real socket, raw response back through the
engine's own protocol layer (head parse, redirects, cookies, gzip,
chunked, html2text spans)."""

import asyncio
import gzip
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.sources.httpfetch import http_fetcher
from minicrawler_spark.streaming.crawl import crawl

HTML = (b"<html><body><h1>Hi</h1><p>linked <a href='/ok'>here</a></p>"
        b"<img src='/img.png'></body></html>")


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

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
        if self.path == "/ok" or self.path.startswith("/ok?"):
            self._send(200, "text/plain", b"plain body")
        elif self.path == "/page":
            self._send(200, "text/html; charset=utf-8", HTML)
        elif self.path.startswith("/redirect/"):
            n = int(self.path.rsplit("/", 1)[1])
            loc = "/ok" if n <= 1 else "/redirect/%d" % (n - 1)
            self._send(302, "text/plain", b"", [("Location", loc)])
        elif self.path == "/gzip":
            gz = gzip.compress(b"unzipped payload")
            self._send(200, "text/plain", gz, [("Content-Encoding", "gzip")])
        elif self.path == "/cookie":
            self._send(200, "text/plain", b"c",
                       [("Set-Cookie", "sid=abc; Path=/")])
        elif self.path == "/chunked":
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            for part in (b"chun", b"ked!"):
                self.wfile.write(b"%x\r\n%s\r\n" % (len(part), part))
            self.wfile.write(b"0\r\n\r\n")
        elif self.path == "/echo-ua":
            ua = self.headers.get("User-Agent", "")
            self._send(200, "text/plain", ua.encode())
        else:
            self._send(404, "text/plain", b"nope")

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        self._send(200, "text/plain", b"post:" + body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield "http://127.0.0.1:%d" % srv.server_address[1]
    srv.shutdown()


def test_fetcher_raw_contract(server):
    raw, delay_ms = http_fetcher(
        "GET", server + "/ok", {"Host": "127.0.0.1", "Accept": "*/*"}, None
    )
    assert raw.startswith(b"HTTP/1.1 200")
    assert raw.endswith(b"plain body")
    assert delay_ms >= 0


def test_crawl_over_real_sockets(server, spark):
    seeds = [
        server + "/page",          # 0: html -> spans + links
        server + "/redirect/3",    # 1: real redirect chain
        server + "/gzip",          # 2
        server + "/chunked",       # 3
        server + "/cookie",        # 4
        {"url": server + "/ok", "method": "POST", "post": b"a=1"},  # 5
        server + "/echo-ua",       # 6
        server + "/missing",       # 7: 404 passthrough
    ]
    res = crawl(
        spark,
        seeds,
        CrawlSettings(
            timeout=30, delay=10, customagent="rt-agent/1",
            extract_links=True, max_depth=0,  # spans on, no BFS refetch
        ),
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
    ).cache()
    rows = {r["index"]: r for r in res.collect()}
    assert len(rows) == len(seeds)

    assert rows[0]["status"] == 200
    spans = rows[0]["spans"]
    assert any(s["kind"] == "text" and "Hi" in s["text"] for s in spans)
    assert any(s["kind"] == "media" for s in spans)

    assert rows[1]["status"] == 200
    assert len(rows[1]["redirect_info"]) == 3
    assert rows[1]["redirectedto"].endswith("/ok")
    assert bytes(rows[1]["body"]) == b"plain body"

    assert bytes(rows[2]["body"]) == b"unzipped payload"
    assert bytes(rows[3]["body"]) == b"chunked!"

    cookies = rows[4]["cookies"]
    assert [c["name"] for c in cookies] == ["sid"]
    assert cookies[0]["value"] == "abc"

    assert bytes(rows[5]["body"]) == b"post:a=1"
    assert bytes(rows[6]["body"]) == b"rt-agent/1"
    assert rows[7]["status"] == 404


def test_real_politeness_spacing(spark):
    """A real-network fetcher spaces same-host fetches by >= delay ms
    of wall clock with default settings (politeness enforced for real,
    not just scheduled): the fetcher, not a setting, picks the clock,
    so callers that cannot set one (crawl_job.py) are polite too."""
    import time

    arrivals = []

    class Timed(Handler):
        def do_GET(self):
            arrivals.append(time.monotonic())
            Handler.do_GET(self)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Timed)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = "http://127.0.0.1:%d" % srv.server_address[1]
    try:
        res = crawl(
            spark, [base + "/ok?i=%d" % i for i in range(4)],
            CrawlSettings(timeout=30, delay=300),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        n = res.filter("status = 200").count()
    finally:
        srv.shutdown()
    assert n == 4
    gaps = [b - a for a, b in zip(arrivals, arrivals[1:])]
    assert len(gaps) == 3 and min(gaps) >= 0.25, gaps  # slots 300 ms apart


def test_connect_refused_maps_to_error(spark):
    res = crawl(
        spark,
        ["http://127.0.0.1:9/x"],  # port 9: nothing listening
        CrawlSettings(timeout=3),
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
    )
    row = res.collect()[0]
    assert row["outcome"] in ("error", "timeout")


def test_keepalive_reuse(server):
    """Same-host requests reuse the pooled connection (the reference's
    crawler.c:1624-1632 reuse); the second response is clean."""
    from minicrawler_spark.sources import httpfetch

    loop, ctx = httpfetch._thread_driver()  # this thread's pool
    loop.run_until_complete(ctx.close())
    r1, _ = http_fetcher("GET", server + "/ok", {"Host": "x"}, None)
    assert r1.endswith(b"plain body")
    assert len(ctx._pool) == 1
    pooled = next(iter(ctx._pool.values()))[0]
    r2, _ = http_fetcher("GET", server + "/gzip", {"Host": "x"}, None)
    assert r2.startswith(b"HTTP/1.1 200")
    assert next(iter(ctx._pool.values()))[0] is pooled  # same connection
    # chunked framing keeps the socket clean too
    r3, _ = http_fetcher("GET", server + "/chunked", {"Host": "x"}, None)
    assert b"chunked" in r3.lower()
    r4, _ = http_fetcher("GET", server + "/ok", {"Host": "x"}, None)
    assert r4.endswith(b"plain body")


def test_stale_pooled_socket_retries_fresh(server):
    from minicrawler_spark.sources import httpfetch

    loop, ctx = httpfetch._thread_driver()
    loop.run_until_complete(ctx.close())
    r1, _ = http_fetcher("GET", server + "/ok", {"Host": "x"}, None)
    # kill the pooled connection behind the fetcher's back
    key, bucket = next(iter(ctx._pool.items()))
    _reader, writer = bucket[0]
    writer.close()
    r2, _ = http_fetcher("GET", server + "/ok", {"Host": "x"}, None)
    assert r2.endswith(b"plain body")


def test_idle_pool_bounded_across_hosts():
    """One-shot GETs to more hosts than the pool's total cap leave at
    most _POOL_TOTAL idle connections: each put past the cap closes the
    least recently used one."""
    from minicrawler_spark.sources import httpfetch as hf

    async def serve(reader, writer):
        try:
            while await reader.readuntil(b"\r\n\r\n"):  # keep-alive
                writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
                await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError):
            writer.close()

    async def main():
        servers = [
            await asyncio.start_server(serve, "127.0.0.1", 0)
            for _ in range(hf._POOL_TOTAL + 8)
        ]
        ports = [srv.sockets[0].getsockname()[1] for srv in servers]
        ctx = hf.AsyncFetchContext()
        try:
            for port in ports:
                raw, _ = await hf.http_fetcher_async(
                    "GET", "http://127.0.0.1:%d/" % port, {"Host": "x"}, None,
                    ctx,
                )
                assert raw.endswith(b"ok")
                if port == ports[0]:
                    first = ctx._pool[("http", "127.0.0.1", port)][0]
            idle = [e for bucket in ctx._pool.values() for e in bucket]
            assert len(idle) == hf._POOL_TOTAL
            assert [k[2] for k in ctx._pool] == ports[-hf._POOL_TOTAL:]
            assert first[1].is_closing()
        finally:
            await ctx.close()
            for srv in servers:
                srv.close()

    asyncio.run(main())


def test_trickling_server_bounded_by_deadline():
    """A server that dribbles bytes forever must not extend the fetch
    past timeout_s: the fetcher returns the partial buffer at the
    deadline (engine then emits the reference's timeout record)."""
    import socket as _socket
    import time as _time

    from minicrawler_spark.sources import httpfetch as hf

    lsock = _socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]
    stop = threading.Event()

    def trickler():
        conn, _ = lsock.accept()
        conn.recv(65536)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 1000000\r\n\r\n")
        while not stop.is_set():
            try:
                conn.sendall(b"x")
            except OSError:
                break
            _time.sleep(0.05)
        conn.close()

    t = threading.Thread(target=trickler, daemon=True)
    t.start()
    old = dict(hf._DEFAULTS)
    hf.configure(timeout_s=1.0)
    try:
        t0 = _time.monotonic()
        raw, delay_ms = hf.http_fetcher(
            "GET", "http://127.0.0.1:%d/slow" % port,
            {"Host": "127.0.0.1"}, None,
        )
        wall = _time.monotonic() - t0
    finally:
        stop.set()
        hf._DEFAULTS.update(old)
        lsock.close()
    assert raw.startswith(b"HTTP/1.1 200")
    assert wall < 3.0  # 1s deadline + slack, NOT the 50000s trickle
    assert delay_ms >= 900


def test_dns_cache_bounded(monkeypatch):
    """ADVICE r3: _DNS_CACHE must not grow without bound over
    millions of distinct hosts. At the cap, expired entries evict
    first; if all live, the oldest-inserted half goes."""
    import time as _time

    from minicrawler_spark.sources import httpfetch as hf

    monkeypatch.setattr(hf, "_DNS_CACHE_MAX", 100)
    hf._DNS_CACHE.clear()
    now = _time.monotonic()
    try:
        # half expired, half live
        for i in range(60):
            hf._dns_cache_put("exp%d" % i, [("a",)], now - 1)
        for i in range(40):
            hf._dns_cache_put("live%d" % i, [("a",)], now + 300)
        assert len(hf._DNS_CACHE) == 100
        hf._dns_cache_put("new1", [("a",)], now + 300)
        # expired evicted, every live entry retained
        assert len(hf._DNS_CACHE) == 41
        assert all("exp%d" % i not in hf._DNS_CACHE for i in range(60))
        assert all("live%d" % i in hf._DNS_CACHE for i in range(40))

        # all-live at cap: oldest-inserted half evicts
        hf._DNS_CACHE.clear()
        for i in range(100):
            hf._dns_cache_put("h%d" % i, [("a",)], now + 300)
        hf._dns_cache_put("new2", [("a",)], now + 300)
        assert len(hf._DNS_CACHE) == 51
        assert "h0" not in hf._DNS_CACHE and "h99" in hf._DNS_CACHE
        assert "new2" in hf._DNS_CACHE
        # updating an existing key never evicts
        before = set(hf._DNS_CACHE)
        hf._dns_cache_put("h99", [("b",)], now + 600)
        assert set(hf._DNS_CACHE) == before
        # ADVICE r5: a re-put MOVES the key to the young end, so a
        # refreshed hot host survives the oldest-half eviction
        hf._DNS_CACHE.clear()
        for i in range(100):
            hf._dns_cache_put("h%d" % i, [("a",)], now + 300)
        hf._dns_cache_put("h0", [("hot",)], now + 600)  # refresh oldest
        hf._dns_cache_put("new3", [("a",)], now + 300)  # trips eviction
        assert "h0" in hf._DNS_CACHE          # refreshed -> survived
        assert "h1" not in hf._DNS_CACHE      # stale oldest -> evicted
    finally:
        hf._DNS_CACHE.clear()


def test_etc_hosts_wins_over_stub_resolver(monkeypatch, tmp_path):
    """ADVICE r5: a name pinned in /etc/hosts must resolve from the
    file (getaddrinfo/nsswitch semantics) — the stub resolver speaks
    straight DNS and would bypass the pin. Dotless names (search
    domains) also never reach the stub resolver."""
    import asyncio

    from minicrawler_spark.sources import adns
    from minicrawler_spark.sources import httpfetch as hf

    hosts = tmp_path / "hosts"
    hosts.write_text(
        "# comment\n"
        "10.9.8.7  pinned.example.test alias.test  # trailing\n"
        "fd00::1   pinned6.test\n"
        "bogus-address  broken.test\n"
    )
    monkeypatch.setattr(hf, "_HOSTS_PATH", str(hosts))
    monkeypatch.setattr(
        hf, "_HOSTS_STATE", {"mtime": None, "map": {}}
    )

    async def boom(host, timeout=3.0):
        raise AssertionError("stub resolver must not be asked: %s" % host)

    monkeypatch.setattr(adns, "resolve_async", boom)
    monkeypatch.setattr(
        hf, "_ADNS_STATE", {"fails": 0, "disabled": False}
    )
    hf._DNS_CACHE.clear()
    try:
        infos = asyncio.run(hf._alookup("PINNED.example.test"))
        assert [sa[0] for _f, _t, _p, _c, sa in infos] == ["10.9.8.7"]
        infos = asyncio.run(hf._alookup("alias.test"))
        assert [sa[0] for _f, _t, _p, _c, sa in infos] == ["10.9.8.7"]
        infos = asyncio.run(hf._alookup("pinned6.test"))
        assert [sa[0] for _f, _t, _p, _c, sa in infos] == ["fd00::1"]
        # the unparseable /etc/hosts line was skipped (not fatal), so
        # broken.test is NOT pinned: a normal dotted name that reaches
        # the stub resolver — boom proves the pin didn't catch it
        with pytest.raises(AssertionError):
            asyncio.run(hf._alookup("broken.test"))
        # dotless name: straight to getaddrinfo, stub never asked
        try:
            asyncio.run(hf._alookup("localhost"))
        except OSError:
            pass  # environment-dependent; only the no-stub part matters
    finally:
        hf._DNS_CACHE.clear()


def _fake_tls_seam(monkeypatch, hf, handshake):
    """Fake the TLS handshake at the asyncio seam _aopen uses
    (asyncio.open_connection with ssl=): every attempt records its
    rung's max version, then `handshake(max_ver)` raises to fail it
    or returns to succeed, with the plain TCP stream standing in for
    the TLS one. The real per-rung context is still built."""
    attempts = []
    real_ctx = hf._tls_context
    real_open = asyncio.open_connection

    def fake_ctx(max_ver):
        real_ctx(max_ver)
        return max_ver

    async def fake_open(*args, ssl=None, server_hostname=None, sock=None,
                        **kw):
        if ssl is None:
            return await real_open(*args, sock=sock, **kw)
        attempts.append(ssl)
        try:
            handshake(ssl)
        except Exception:
            sock.close()  # asyncio closes the socket of a failed handshake
            raise
        return await real_open(sock=sock)

    monkeypatch.setattr(hf, "_tls_context", fake_ctx)
    monkeypatch.setattr(asyncio, "open_connection", fake_open)
    hf._TLS_MAX.clear()
    return attempts


def _aopen_https(hf, port):
    """One _aopen to 127.0.0.1:port over https; closes what it opens."""
    import time as _time

    async def go():
        _reader, writer = await hf._aopen(
            "https", "127.0.0.1", port, _time.monotonic() + 5, 5.0
        )
        writer.close()

    asyncio.run(go())


def _listener():
    lsock = __import__("socket").socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(4)
    return lsock, lsock.getsockname()[1]


def test_tls_downgrade_ladder(monkeypatch):
    """crawler.c:97-131: a handshake failure at the top rung retries
    with max_proto stepped down one version; success is remembered
    per host so the ladder is not re-walked."""
    import ssl as _ssl
    import time as _time

    from minicrawler_spark.sources import httpfetch as hf

    def handshake(max_ver):
        if max_ver == _ssl.TLSVersion.MAXIMUM_SUPPORTED:
            err = _ssl.SSLError("fake 1.3 version reject")
            err.reason = "UNSUPPORTED_PROTOCOL"
            raise err

    attempts = _fake_tls_seam(monkeypatch, hf, handshake)
    lsock, port = _listener()
    try:
        _aopen_https(hf, port)
        assert attempts == [
            _ssl.TLSVersion.MAXIMUM_SUPPORTED,
            _ssl.TLSVersion.TLSv1_2,
        ]
        assert hf._TLS_MAX["127.0.0.1"][0] == _ssl.TLSVersion.TLSv1_2
        # second open starts at the remembered rung — no re-walk
        _aopen_https(hf, port)
        assert attempts[-1] == _ssl.TLSVersion.TLSv1_2
        assert len(attempts) == 3
        # ADVICE r2: the rung EXPIRES — a transient failure must not
        # pin the host below max for the process lifetime
        hf._TLS_MAX["127.0.0.1"] = (
            _ssl.TLSVersion.TLSv1_2, _time.monotonic() - 1
        )
        assert hf._tls_rung_get("127.0.0.1") == (
            _ssl.TLSVersion.MAXIMUM_SUPPORTED
        )
        assert "127.0.0.1" not in hf._TLS_MAX
    finally:
        lsock.close()
        hf._TLS_MAX.clear()


def test_unexpected_eof_walks_tls_ladder(monkeypatch):
    """ADVICE r5: legacy TLS1.0-only stacks often just CLOSE the
    connection on a modern ClientHello (OpenSSL surfaces
    UNEXPECTED_EOF_WHILE_READING / SSLEOFError; the reference's
    SSL_ERROR_SYSCALL ret==0 path downgrades there) — abrupt EOF
    during the handshake must walk the ladder, unlike an RST."""
    import ssl as _ssl

    from minicrawler_spark.sources import httpfetch as hf

    def handshake(max_ver):
        if max_ver in (_ssl.TLSVersion.MAXIMUM_SUPPORTED,
                       _ssl.TLSVersion.TLSv1_2):
            raise _ssl.SSLEOFError(8, "EOF occurred in violation of protocol")

    attempts = _fake_tls_seam(monkeypatch, hf, handshake)
    lsock, port = _listener()
    try:
        _aopen_https(hf, port)
        assert attempts == [
            _ssl.TLSVersion.MAXIMUM_SUPPORTED,
            _ssl.TLSVersion.TLSv1_2,
            _ssl.TLSVersion.TLSv1_1,
        ]
        assert hf._TLS_MAX["127.0.0.1"][0] == _ssl.TLSVersion.TLSv1_1
    finally:
        lsock.close()
        hf._TLS_MAX.clear()


def test_tcp_reset_does_not_walk_tls_ladder(monkeypatch):
    """ADVICE r2: plain TCP errors during the handshake are hard
    failures (reference: SSL_ERROR_SYSCALL -> error state), never a
    downgrade signal — an attacker-injected RST must not pin the host
    to a legacy TLS version."""
    import ssl as _ssl

    from minicrawler_spark.sources import httpfetch as hf

    def handshake(max_ver):
        raise ConnectionResetError("injected RST")

    attempts = _fake_tls_seam(monkeypatch, hf, handshake)
    lsock, port = _listener()
    try:
        with pytest.raises(ConnectionResetError):
            _aopen_https(hf, port)
        assert attempts == [_ssl.TLSVersion.MAXIMUM_SUPPORTED]
        assert hf._TLS_MAX == {}
    finally:
        lsock.close()
        hf._TLS_MAX.clear()


def test_generic_ssl_error_does_not_walk_tls_ladder(monkeypatch):
    """VERDICT r4 #7: only version-negotiation reasons walk the
    ladder. A generic SSLError (truncated record, bad MAC, reason
    None) is a hard failure — no rung change, no _TLS_MAX pin."""
    import ssl as _ssl

    from minicrawler_spark.sources import httpfetch as hf

    for reason in ("DECRYPTION_FAILED_OR_BAD_RECORD_MAC",
                   "CERTIFICATE_VERIFY_FAILED", None):

        def handshake(max_ver, _reason=reason):
            err = _ssl.SSLError("generic failure")
            if _reason is not None:
                err.reason = _reason
            raise err

        attempts = _fake_tls_seam(monkeypatch, hf, handshake)
        lsock, port = _listener()
        try:
            with pytest.raises(_ssl.SSLError):
                _aopen_https(hf, port)
            assert attempts == [_ssl.TLSVersion.MAXIMUM_SUPPORTED], reason
            assert hf._TLS_MAX == {}
        finally:
            lsock.close()
            hf._TLS_MAX.clear()


def test_walks_ladder_trigger_set():
    """The trigger predicate itself: version reasons + handshake
    timeout walk; everything else doesn't."""
    import ssl as _ssl

    from minicrawler_spark.sources import httpfetch as hf

    for r in ("UNSUPPORTED_PROTOCOL", "TLSV1_ALERT_PROTOCOL_VERSION",
              "VERSION_TOO_LOW", "WRONG_VERSION_NUMBER",
              "UNEXPECTED_EOF_WHILE_READING"):
        e = _ssl.SSLError("x")
        e.reason = r
        assert hf._walks_ladder(e), r
    assert hf._walks_ladder(TimeoutError("handshake"))
    # ADVICE r5: a legacy server that just CLOSES on a modern hello
    # surfaces as SSLEOFError (reason may be unset) — must walk
    assert hf._walks_ladder(_ssl.SSLEOFError(8, "EOF in violation"))
    for r in ("DECRYPTION_FAILED_OR_BAD_RECORD_MAC", "CERTIFICATE_VERIFY_FAILED"):
        e = _ssl.SSLError("x")
        e.reason = r
        assert not hf._walks_ladder(e), r
    assert not hf._walks_ladder(_ssl.SSLError("no reason"))
    assert not hf._walks_ladder(ConnectionResetError("rst"))


def test_tls12_rung_keeps_default_security_level(monkeypatch):
    """Only the legacy (<1.2) rungs relax to SECLEVEL=0; the TLS1.2
    rung keeps the default cipher security settings."""
    import ssl as _ssl

    from minicrawler_spark.sources import httpfetch as hf

    seen = []
    real_set = _ssl.SSLContext.set_ciphers

    def spy(self, spec):
        seen.append(spec)
        return real_set(self, spec)

    monkeypatch.setattr(_ssl.SSLContext, "set_ciphers", spy)
    hf._tls_context(_ssl.TLSVersion.TLSv1_2)
    assert seen == []
    hf._tls_context(_ssl.TLSVersion.TLSv1)
    assert seen == ["DEFAULT:@SECLEVEL=0"]


def test_tls12_only_server_negotiates(tmp_path):
    """Integration: a TLS-1.2-max loopback server is reachable (the
    stdlib negotiates down within one handshake; the ladder is for
    servers that abort on a 1.3 ClientHello, covered above)."""
    import socket as _socket
    import ssl as _ssl
    import subprocess

    from minicrawler_spark.sources import httpfetch as hf

    key = tmp_path / "k.pem"
    crt = tmp_path / "c.pem"
    r = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(crt), "-days", "1",
         "-subj", "/CN=127.0.0.1"],
        capture_output=True,
    )
    if r.returncode != 0:
        pytest.skip("openssl CLI unavailable")

    ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(str(crt), str(key))
    ctx.maximum_version = _ssl.TLSVersion.TLSv1_2

    lsock = _socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]

    def serve():
        conn, _ = lsock.accept()
        try:
            tls = ctx.wrap_socket(conn, server_side=True)
            tls.recv(65536)
            tls.sendall(
                b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n"
                b"Connection: close\r\n\r\nok"
            )
            tls.close()
        except Exception:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    old = dict(hf._DEFAULTS)
    hf.configure(timeout_s=5.0, insecure=True)
    hf._TLS_MAX.clear()
    try:
        raw, _ = hf.http_fetcher(
            "GET", "https://127.0.0.1:%d/" % port,
            {"Host": "127.0.0.1"}, None,
        )
    finally:
        hf._DEFAULTS.update(old)
        hf._TLS_MAX.clear()
        lsock.close()
    assert raw.startswith(b"HTTP/1.1 200")


def test_robots_5xx_denies_in_real_mode(spark):
    """RFC 9309 §2.3.1.3-4: with a real-network fetcher a 5xx
    robots.txt is a complete disallow under default settings; the
    fixture web keeps the documented allow-all (tested in
    test_robots.py)."""

    class R500(Handler):
        def do_GET(self):
            if self.path == "/robots.txt":
                self._send(503, "text/plain", b"down")
            else:
                Handler.do_GET(self)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), R500)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = "http://127.0.0.1:%d" % srv.server_address[1]
    try:
        res = crawl(
            spark,
            [base + "/ok", base + "/page"],
            CrawlSettings(respect_robots=True, timeout=10),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        rows = res.collect()
        assert {r["outcome"] for r in rows} == {"robots"}
        assert all(r["error_msg"] == "Disallowed by robots.txt" for r in rows)
    finally:
        srv.shutdown()


def test_robots_unreachable_denies_in_real_mode(spark):
    """An unreachable robots.txt (nothing listens on port 9) denies the
    host's URLs instead of letting them through to the fetch."""
    res = crawl(
        spark, ["http://127.0.0.1:9/x"],
        CrawlSettings(respect_robots=True, timeout=3),
        fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
    )
    assert [(r["outcome"], r["error_msg"]) for r in res.collect()] == [
        ("robots", "Disallowed by robots.txt")
    ]


def _slow_server_rows(n_hosts, per_host, sleep_s):
    import time as _time

    class Slow(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_GET(self):
            _time.sleep(sleep_s)
            body = b"slow body"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    servers = [
        ThreadingHTTPServer(("127.0.0.1", 0), Slow) for _ in range(n_hosts)
    ]
    for srv in servers:
        threading.Thread(target=srv.serve_forever, daemon=True).start()

    from minicrawler_spark.streaming.crawl import FRONTIER_FIELDS

    rows, idx = [], 0
    for srv in servers:
        port = srv.server_address[1]
        for slot in range(per_host):
            rows.append(dict(
                index=idx, rawurl="http://127.0.0.1:%d/%d" % (port, slot),
                href="http://127.0.0.1:%d/%d" % (port, slot),
                host="127.0.0.1:%d" % port, hostname="127.0.0.1",
                scheme="http", path_query="/%d" % slot, host_seq=slot,
                wait_ms=slot * 100, elapsed_ms=0, cookies_json="[]",
                redirect_json="[]", method="GET", post=None,
                authorization=None, auth_attempt=False, redirect_limit=21,
                customheader=None, redirectedto=None, priority=0.0,
                seq=idx, depth=0,
            ))
            idx += 1
    for r in rows:
        for f in FRONTIER_FIELDS:
            r.setdefault(f.name, None)
    return servers, rows


def _run_stage(rows, **settings_kw):
    import pandas as pd

    from minicrawler_spark.streaming.crawl import _make_fetch_stage

    sdict = CrawlSettings(timeout=30, **settings_kw).as_dict()
    sdict["fetcher"] = "minicrawler_spark.sources.httpfetch:http_fetcher"
    stage = _make_fetch_stage(sdict, 0)
    return list(stage(iter([pd.DataFrame(rows)])))[0]


def test_multiplexed_fetch_overlaps_slow_hosts():
    """The select() analogue (crawler.c:1809-1860): K slow hosts in ONE
    partition complete in ~max, not ~sum, of their chains. 3 loopback
    hosts x 2 URLs, each response ~0.6s server-side: serial needs
    >= 3.6s; the multiplexed stage finishes in ~max (0.6s + the 0.1s
    politeness slot). Timed at the stage level — one partition's
    mapInPandas function — so Spark job-launch overhead can't mask
    the sum-vs-max distinction."""
    import time as _time

    servers, rows = _slow_server_rows(3, 2, 0.6)
    try:
        t0 = _time.monotonic()
        out = _run_stage(rows, delay=100)
        wall = _time.monotonic() - t0
    finally:
        for srv in servers:
            srv.shutdown()
    assert list(out["outcome"]) == ["done"] * 6
    assert list(out["status"]) == [200] * 6
    assert wall < 2.0, f"stage did not overlap: {wall:.2f}s (sum is 3.6s)"


def test_multiplexed_fetch_uses_no_executor_threads(monkeypatch):
    """VERDICT r2 #6: the multiplexer must be true nonblocking socket
    I/O — one event-loop thread, not a thread per chain. With
    loop.run_in_executor poisoned, the K-slow-hosts overlap must still
    hold (only asyncio's own DNS resolver may use it, and the DNS
    cache is pre-warmed here)."""
    import asyncio
    import time as _time

    from minicrawler_spark.sources import httpfetch as hf

    hf._lookup("127.0.0.1")  # warm the DNS cache: no resolver thread

    def poisoned(self, executor, func, *args):
        raise AssertionError(
            "run_in_executor called from the multiplexed fetch stage"
        )

    monkeypatch.setattr(
        asyncio.base_events.BaseEventLoop, "run_in_executor", poisoned
    )
    servers, rows = _slow_server_rows(3, 2, 0.6)
    try:
        t0 = _time.monotonic()
        out = _run_stage(rows, delay=100)
        wall = _time.monotonic() - t0
    finally:
        for srv in servers:
            srv.shutdown()
    assert list(out["outcome"]) == ["done"] * 6
    assert list(out["status"]) == [200] * 6
    assert wall < 2.0, f"did not overlap without threads: {wall:.2f}s"


def test_multiplexed_crawl_end_to_end(spark):
    """Same slow-host shape through the full crawl() driver loop:
    results are correct and per-job elapsed_ms reflects each chain's
    own service time, not the queue ahead of it."""
    servers, _ = _slow_server_rows(2, 2, 0.3)
    seeds = []
    for srv in servers:
        base = "http://127.0.0.1:%d" % srv.server_address[1]
        seeds += [base + "/a", base + "/b"]
    try:
        res = crawl(
            spark, seeds,
            CrawlSettings(timeout=30, delay=100),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        rows = res.collect()
    finally:
        for srv in servers:
            srv.shutdown()
    assert len(rows) == 4
    assert all(r["outcome"] == "done" and r["status"] == 200 for r in rows)
