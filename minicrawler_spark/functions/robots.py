"""robots.txt parsing + matching (RFC 9309) — a north-rule addition.

The reference never fetches robots.txt (SURVEY.md §2.11 gap #3); these
semantics come from RFC 9309 (Robots Exclusion Protocol), not from the
reference. Design decisions:

- group selection: the group whose User-agent product token is the
  longest case-insensitive substring-prefix match of our agent wins;
  groups for the identical chosen token merge; `*` is the fallback.
- rule match: `Allow`/`Disallow` path patterns with `*` (any run of
  octets) and a trailing `$` anchor; the MOST SPECIFIC (longest
  pattern) match decides; equal length -> Allow wins (RFC 9309 §2.2.2).
- empty Disallow pattern matches nothing (allow-all group idiom).
- `/robots.txt` itself is always fetchable.
- `Crawl-delay: N` (a de-facto extension, served by the fixture web)
  is surfaced in seconds so the politeness scheduler can take
  max(settings.delay, crawl_delay) per host.
- 3xx/4xx statuses -> allow all (RFC 9309 §2.3.1.2). Unreachable
  robots.txt and 5xx depend on the fetcher (crawl.py fetch_robots): a
  real-network fetcher (one with an async twin) treats them as
  complete disallow per RFC 9309 §2.3.1.3-4 (the host could not serve
  its policy); the fixture web keeps allow-all so deterministic
  fixtures without robots.txt stay total.

Rules travel between Spark stages as a JSON column
`[[allow:bool, pattern:str], ...]` per host; matching is vectorized
(Arrow batches), with compiled-regex caching keyed on the JSON string
so each distinct host's rules compile once per executor.
"""

from __future__ import annotations

import json
import re
from functools import lru_cache
from typing import List, Optional, Tuple

DEFAULT_AGENT_TOKEN = "minicrawler"

Rule = Tuple[bool, str]  # (allow, pattern)


def parse_robots(text: str, agent: str = DEFAULT_AGENT_TOKEN
                 ) -> Tuple[List[Rule], Optional[float]]:
    """Parse a robots.txt body -> (rules for `agent`, crawl_delay_s).

    Line grammar per RFC 9309 §2.2: `field ':' value` with `#`
    comments; unknown fields ignored; keys case-insensitive.
    """
    agent = agent.lower()
    # group -> accumulated (rules, crawl_delay); keyed by matched token
    groups: dict = {}
    current_tokens: List[str] = []
    last_was_ua = False
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            token = value.lower()
            if last_was_ua:
                current_tokens.append(token)
            else:
                current_tokens = [token]
            last_was_ua = True
            for t in current_tokens:
                groups.setdefault(t, ([], [None]))
            continue
        last_was_ua = False
        if not current_tokens:
            continue  # rules before any User-agent line: ignored
        if key in ("allow", "disallow"):
            if key == "disallow" and value == "":
                continue  # empty Disallow matches nothing
            for t in current_tokens:
                groups[t][0].append((key == "allow", value))
        elif key == "crawl-delay":
            try:
                d = float(value)
            except ValueError:
                continue
            for t in current_tokens:
                groups[t][1][0] = d

    # group selection: longest UA token that our agent starts with
    # (product-token prefix match), else '*'
    best_token = None
    for token in groups:
        if token != "*" and agent.startswith(token):
            if best_token is None or len(token) > len(best_token):
                best_token = token
    if best_token is None and "*" in groups:
        best_token = "*"
    if best_token is None:
        return [], None
    rules, delay_box = groups[best_token]
    return rules, delay_box[0]


def sitemaps_in_robots(text: str) -> List[str]:
    """`Sitemap:` lines (RFC 9309 §2.3 other-records / sitemaps.org
    protocol): global, group-independent, absolute URLs."""
    out: List[str] = []
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        key, sep, value = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            value = value.strip()
            if value:
                out.append(value)
    return out


def _pattern_to_regex(pattern: str) -> str:
    """Compile a robots path pattern (`*` wildcard, `$` end-anchor)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


@lru_cache(maxsize=4096)
def _compiled(rules_json: str):
    rules = json.loads(rules_json)
    return [
        (bool(allow), len(pattern), re.compile(_pattern_to_regex(pattern)))
        for allow, pattern in rules
    ]


def robots_allowed(rules_json: str, path: str) -> bool:
    """Longest-match decision for one path (query string included in
    the match target, per RFC 9309 §2.2.2 'path and query')."""
    if not rules_json or rules_json == "[]":
        return True
    if path.split("?", 1)[0] == "/robots.txt":
        return True
    best_len, best_allow = -1, True
    for allow, plen, rx in _compiled(rules_json):
        if rx.match(path):
            if plen > best_len or (plen == best_len and allow and not best_allow):
                best_len, best_allow = plen, allow
    return best_allow


def robots_allowed_batch(rules_json_arr, path_arr):
    """Vectorized matcher over two aligned sequences (used inside
    pandas UDFs; regex compilation cached per distinct rules_json)."""
    return [
        robots_allowed(r if r is not None else "[]", p or "/")
        for r, p in zip(rules_json_arr, path_arr)
    ]
