"""Crawl settings — mcrawler_settings + per-URL options as one record
(src/h/minicrawler.h:34-39, struct.h:6-11, cli.c:50-153). Broadcast to
executors. The clock is not a setting: the fetcher decides it
(streaming/crawl.py resolve_async_fetcher). The fixture web runs on a
deterministic virtual clock; a real-network fetcher also spaces
same-host requests on the wall clock.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class CrawlSettings:
    timeout: int = 5                 # seconds (struct.h:7)
    delay: int = 100                 # ms per host slot (struct.h:8)
    max_redirects: int = 21          # struct.h:9
    max_page_size: int = 2 * 1024 * 1024  # struct.h:10-11
    follow_redirects: bool = True    # -l inverts
    gzip: bool = False               # -g
    convert_to_text: bool = False    # -c (html2text the body)
    convert_to_utf8: bool = False    # -8
    customagent: str = ""            # -A
    customheader: str = ""           # -w
    username: str = ""               # -u
    password: str = ""               # -p
    impatient: bool = False          # -i
    # rebuild additions (north rule)
    extract_links: bool = False      # feed <a href>/<img src> into frontier
    dedup: bool = False              # URL-seen anti-join before scheduling
    respect_robots: bool = False     # robots.txt gating
    max_depth: int = 3               # link-following depth budget
    max_rounds: int = 64             # driver-loop bound
    per_host_budget: int = 0         # 0 = unlimited; else top-k per host/round
    insecure: bool = False           # -k: skip TLS verification
    disable_http2: bool = False      # -2: don't offer h2 in ALPN
                                     # (MCURL_OPT_DISABLE_HTTP2); default
                                     # offers h2 like the reference's
                                     # cert.c:258
    writehead: bool = False          # -h: keep the raw reply head
    ipv6_only: bool = False          # -6: resolve AAAA only
    politeness_by_ip: bool = False   # reference-faithful per-IP politeness:
                                     # 64 hash slots over the 16-byte IP
                                     # (time.c:43-96), INCLUDING collision
                                     # semantics (two IPs in one slot share
                                     # the channel). Default stays per-host
                                     # (1:1 on the fixture web; documented
                                     # round-1 deviation).

    def as_dict(self) -> dict:
        return self.__dict__.copy()
