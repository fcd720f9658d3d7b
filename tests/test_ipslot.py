"""Per-IP politeness slots (functions/ipslot.py) — differential
against an oracle binary compiled from the reference's OWN time.c,
plus the collision semantics through the crawl scheduler."""

import os
import struct
import subprocess

import pytest

from minicrawler_spark.config import CrawlSettings
from minicrawler_spark.functions.ipslot import (
    fixture_ip,
    ip16,
    resolve_slot,
    time_slot,
)
from minicrawler_spark.streaming.crawl import crawl


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    """The reference-built time-slot binary; skipped where the
    reference source checkout is absent."""
    try:
        return _build_oracle(tmp_path_factory.mktemp("ipslot-oracle"))
    except FileNotFoundError as e:
        pytest.skip(
            "reference source %s not available: the time-slot "
            "differential against the reference's time.c is off"
            % e.filename
        )


def _build_oracle(d):
    """Compile get_time_slot from /root/reference/src/time.c with stub
    headers (same pattern as the URL-parser oracle build)."""
    (d / "h").mkdir()
    (d / "h" / "config.h").write_text(
        "#define HAVE_LIMITS_H 1\n#define HAVE_CLOCK_GETTIME 1\n"
        "#define HAVE_TIMEGM 1\n"
    )
    (d / "h" / "proto.h").write_text(
        "#include <time.h>\n#define debugf(...) do {} while (0)\n"
        "unsigned get_time_slot(const unsigned char key[16]);\n"
    )
    (d / "main.c").write_text(
        '#include <stdio.h>\n#include <string.h>\n'
        'unsigned get_time_slot(const unsigned char key[16]);\n'
        'int main(int argc, char **argv) {\n'
        '  unsigned char key[16];\n'
        '  for (int a = 1; a < argc; a++) {\n'
        '    memset(key, 0, 16);\n'
        '    for (int i = 0; i < 16; i++) {\n'
        '      unsigned b; sscanf(argv[a] + 2*i, "%2x", &b); key[i] = b;\n'
        '    }\n'
        '    printf("%u\\n", get_time_slot(key));\n'
        '  }\n  return 0;\n}\n'
    )
    # copy time.c beside the stub headers: gcc resolves quoted
    # includes relative to the source file's own directory first, so
    # compiling in place would pick up the reference's real config.h
    import shutil

    shutil.copy("/root/reference/src/time.c", str(d / "time.c"))
    r1 = subprocess.run(
        ["gcc", "-O1", "-I", str(d), "-c", str(d / "time.c"),
         "-o", str(d / "time.o")],
        capture_output=True, cwd=str(d),
    )
    r2 = subprocess.run(
        ["gcc", "-O1", str(d / "main.c"), str(d / "time.o"),
         "-o", str(d / "ipslot")],
        capture_output=True,
    )
    if r1.returncode or r2.returncode:
        pytest.skip("gcc unavailable: %s" % (r1.stderr or r2.stderr))
    return str(d / "ipslot")


def test_time_slot_matches_reference(oracle):
    import random

    rng = random.Random(42)
    keys = [bytes(rng.randrange(256) for _ in range(16)) for _ in range(200)]
    # plus the shapes that actually occur: IPv4-in-first-4-bytes
    keys += [ip16("%d.%d.%d.%d" % (rng.randrange(256), rng.randrange(256),
                                   rng.randrange(256), rng.randrange(256)))
             for _ in range(100)]
    keys += [ip16("2001:db8::%x" % i) for i in range(50)]
    out = subprocess.run(
        [oracle] + [k.hex() for k in keys], capture_output=True, text=True
    )
    ref = [int(x) for x in out.stdout.split()]
    mine = [time_slot(k) for k in keys]
    assert mine == ref


def test_ip16_layout():
    assert ip16("1.2.3.4") == bytes([1, 2, 3, 4]) + b"\x00" * 12
    assert len(ip16("2001:db8::1")) == 16
    assert struct.unpack("<4I", ip16("0.0.0.0"))[0] == 0


def test_fixture_ip_stable_and_private():
    a = fixture_ip("host0.test")
    assert a == fixture_ip("host0.test")
    assert a.startswith("10.")
    assert fixture_ip("host1.test") != a


def test_colliding_hosts_share_politeness_channel(spark):
    """host0/host6/host36.test hash to ONE slot (48) under the fixture
    pseudo-IPs: with politeness_by_ip their requests serialize on the
    shared channel (wait 0/100/200 ms), the reference's time.c
    collision behavior; per-host mode starts all three at 0."""
    seeds = [
        "http://host0.test/page/1",
        "http://host6.test/page/1",
        "http://host36.test/page/1",
        "http://host2.test/page/1",   # slot 44: independent channel
    ]
    assert len({resolve_slot(h, False)
                for h in ("host0.test", "host6.test", "host36.test")}) == 1

    by_ip = crawl(
        spark, seeds,
        CrawlSettings(timeout=600, politeness_by_ip=True),
    ).collect()
    waits = {r["url"].split("/")[2]: r["downstart"] for r in by_ip}
    assert sorted(
        waits[h] for h in ("host0.test", "host6.test", "host36.test")
    ) == [0, 100, 200]
    assert waits["host2.test"] == 0  # own slot, no shared delay
    assert all(r["outcome"] == "done" for r in by_ip)

    per_host = crawl(spark, seeds, CrawlSettings(timeout=600)).collect()
    assert {r["downstart"] for r in per_host} == {0}


def test_by_ip_same_host_still_serializes(spark):
    """Two URLs on one host share its IP slot: waits 0/delay, same as
    per-host mode for the 1:1 case."""
    seeds = ["http://host5.test/page/1", "http://host5.test/page/2"]
    res = crawl(
        spark, seeds, CrawlSettings(timeout=600, politeness_by_ip=True)
    ).collect()
    assert sorted(r["downstart"] for r in res) == [0, 100]


def test_slot_and_fetch_share_one_resolution(monkeypatch):
    """ADVICE r2 / VERDICT r2 #9: the politeness slot and the
    connector must key on the SAME cached resolution — exactly one
    getaddrinfo per host per TTL window, however many rounds ask."""
    import asyncio
    import socket as _socket

    from minicrawler_spark.sources import httpfetch as hf

    calls = []
    real = _socket.getaddrinfo

    def counting(host, *a, **kw):
        calls.append(host)
        return real(host, *a, **kw)

    monkeypatch.setattr(_socket, "getaddrinfo", counting)
    hf._DNS_CACHE.clear()
    try:
        # three "rounds" of slot computation + two connector lookups
        for _ in range(3):
            resolve_slot("localhost", True)
        addrs = hf._order_addrs(asyncio.run(hf._alookup("localhost")), 80)
        hf._order_addrs(asyncio.run(hf._alookup("localhost")), 443)
        assert calls == ["localhost"]
        # the slot keys on the first-choice IP the connector dials
        assert hf.resolved_ip("localhost") == addrs[0][4][0]
        # expiry forces a fresh lookup
        infos, _exp = hf._DNS_CACHE["localhost"]
        hf._DNS_CACHE["localhost"] = (infos, 0.0)
        resolve_slot("localhost", True)
        assert calls == ["localhost", "localhost"]
    finally:
        hf._DNS_CACHE.clear()


def test_unresolvable_host_gets_stable_fallback_slot():
    hf_slot1 = resolve_slot("definitely-not-a-real-host.invalid", True)
    hf_slot2 = resolve_slot("definitely-not-a-real-host.invalid", True)
    assert hf_slot1 == hf_slot2
    assert 0 <= hf_slot1 < 64


def test_real_dns_shared_ip_shares_channel(spark):
    """Real-DNS mode: hostnames resolving to the SAME IP land in the
    same slot (the reference's behavior on loopback fixtures, where
    every 'host' is 127.0.0.1: one IP, one channel, globally spaced
    requests). 'localhost' and '127.0.0.1' both resolve to 127.0.0.1
    on this box."""
    import socket

    a = resolve_slot("localhost", True)
    b = resolve_slot("127.0.0.1", True)
    if socket.gethostbyname("localhost") != "127.0.0.1":
        pytest.skip("localhost does not resolve to 127.0.0.1 here")
    assert a == b == time_slot(ip16("127.0.0.1"))

    # and the wait schedule serializes the two "hosts" end to end:
    # both slots ranked in ONE channel -> waits 0/delay, while the
    # default per-host mode would start both at 0
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Ok(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):
            pass

        def do_GET(self):
            body = b"ok"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Ok)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        res = crawl(
            spark,
            ["http://localhost:%d/a" % port,
             "http://127.0.0.1:%d/b" % port],
            CrawlSettings(timeout=30, delay=300, politeness_by_ip=True),
            fetcher_spec="minicrawler_spark.sources.httpfetch:http_fetcher",
        )
        rows = res.collect()
    finally:
        srv.shutdown()
    assert all(r["outcome"] == "done" for r in rows)
    assert sorted(r["downstart"] for r in rows) == [0, 300]
