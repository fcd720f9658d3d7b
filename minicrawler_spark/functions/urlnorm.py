"""WHATWG URL canonicalization — the crawl engine's hot path.

A from-scratch Python implementation of the WHATWG URL Standard basic
parser matching the behavior of the reference's URL library
(/root/reference/src/url/parse.cc:567-1304, serialize.c, api.c):
spec-era ~2018, byte-oriented, with the reference's exact quirks:

- tolerant percent-decoding in host parsing (parse.cc:88-121),
- IPv4 radix forms: decimal/octal/0x-hex/partial (parse.cc:379-506),
- the IPv4-in-IPv6 branch always fails (parse.cc:283-345 — the
  numbers_seen!=4 check sits inside the loop, so `[::1.2.3.4]` is a
  parse failure; corpus has no success case for it),
- IPv6 serialized via glibc inet_ntop (socket.inet_ntop here),
- IDNA via UTS46 nontransitional ToASCII with CheckBidi + CheckContextJ,
  UseSTD3ASCIIRules=false (parse.cc:123-179 / uidna_openUTS46 flags),
- encode sets per parse.cc:60-82 (fragment/query/special-query/path/
  userinfo),
- file-scheme Windows drive-letter quirks (parse.cc:969-1090).

Correctness gate: the 311-case WHATWG corpus the reference ships
(test/urltestdata.json, run by test/run) — see tests/test_whatwg_url.py.

Scale note: `parse_url` is a pure function (no I/O); the Spark surface
is `canonicalize_full_batch` (pandas Series in, DataFrame out), which
the crawl's canonicalize stage runs over Arrow batches
(streaming/crawl.py _canonicalize_df). One regex fast path
(`_try_fast`) skips the state machine for already-canonical ASCII
http(s) URLs, which dominate real frontiers.
"""

from __future__ import annotations

import re
import socket
from dataclasses import dataclass, field
from typing import Optional

import idna as _idna
import idna.core as _idna_core

__all__ = [
    "Host",
    "ParsedUrl",
    "parse_url",
    "serialize_url",
    "href",
    "getters",
    "canonicalize",
    "canonicalize_full_batch",
]

SPECIAL_SCHEME_PORTS = {
    "http": 80,
    "https": 443,
    "ftp": 21,
    "file": -1,
    "ws": 80,
    "wss": 443,
}

# ---------------------------------------------------------------------------
# data model
# ---------------------------------------------------------------------------

HOST_NONE = "none"
HOST_DOMAIN = "domain"
HOST_IPV4 = "ipv4"
HOST_IPV6 = "ipv6"


@dataclass
class Host:
    type: str = HOST_NONE
    domain: str = ""  # serialized form; IPv6 includes the brackets


@dataclass
class ParsedUrl:
    scheme: str = ""
    username: str = ""
    password: Optional[str] = None
    host: Optional[Host] = None
    port: Optional[int] = None  # None == "port is null"
    path: list = field(default_factory=list)
    query: Optional[str] = None
    fragment: Optional[str] = None
    cannot_be_a_base: bool = False

    @property
    def is_special(self) -> bool:
        return self.scheme in SPECIAL_SCHEME_PORTS

    def default_port(self) -> int:
        return SPECIAL_SCHEME_PORTS.get(self.scheme, 0)


# ---------------------------------------------------------------------------
# byte-class helpers (encode sets per parse.cc:60-82)
# ---------------------------------------------------------------------------


def _is_alpha(c: int) -> bool:
    return 0x41 <= c <= 0x5A or 0x61 <= c <= 0x7A


def _is_digit(c: int) -> bool:
    return 0x30 <= c <= 0x39


def _is_hex(c: int) -> bool:
    return _is_digit(c) or 0x41 <= c <= 0x46 or 0x61 <= c <= 0x66


def _lower(c: int) -> int:
    return c + 0x20 if 0x41 <= c <= 0x5A else c


def _in_c0(c: int) -> bool:
    return c < 0x20 or c >= 0x7F


def _in_fragment(c: int) -> bool:
    return _in_c0(c) or c in (0x20, 0x22, 0x3C, 0x3E, 0x60)  # space " < > `


def _in_query(c: int) -> bool:
    return _in_c0(c) or c in (0x20, 0x22, 0x23, 0x3C, 0x3E)  # space " # < >


def _in_special_query(c: int) -> bool:
    return _in_query(c) or c == 0x27  # '


def _in_path(c: int) -> bool:
    return _in_query(c) or c in (0x3F, 0x60, 0x7B, 0x7D)  # ? ` { }


def _in_userinfo(c: int) -> bool:
    return _in_path(c) or c in (
        0x2F, 0x3A, 0x3B, 0x3D, 0x40, 0x5B, 0x5C, 0x5D, 0x5E, 0x7C
    )  # / : ; = @ [ \ ] ^ |


def _pct(c: int) -> bytes:
    return b"%%%02X" % c


def _is_windows_drive_letter(b: bytes) -> bool:
    return len(b) >= 2 and _is_alpha(b[0]) and b[1] in (0x3A, 0x7C)  # : |


def _is_normalized_windows_drive_letter(s: str) -> bool:
    return len(s) == 2 and _is_alpha(ord(s[0])) and s[1] == ":"


_DOT1 = (b".", b"%2e")
_DOT2 = (b"..", b".%2e", b"%2e.", b"%2e%2e")


def _is_single_dot(b: bytes) -> bool:
    return b.lower() in _DOT1


def _is_double_dot(b: bytes) -> bool:
    return b.lower() in _DOT2


# ---------------------------------------------------------------------------
# tolerant percent-decode (host parsing) — parse.cc:88-121 semantics
# ---------------------------------------------------------------------------


def _percent_decode_host(data: bytes) -> Optional[bytes]:
    """Reference-faithful tolerant decode. Returns None for the one
    undefined-behavior corner (lone trailing '%%' read of uninitialized
    memory) mapped to: keep the '%' literal (glibc zero-fill makes the
    appended byte NUL, which the caller then rejects — equivalent to
    host-parse failure, and the corpus has no such case)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c != 0x25:  # %
            out.append(c)
            i += 1
            continue
        a = data[i + 1] if i + 1 < n else 0
        b = data[i + 2] if i + 2 < n else 0
        if not _is_hex(a) and not (a == 0 or _is_hex(b)):
            out.append(c)
            i += 1
        elif _is_hex(a) and _is_hex(b):
            out.append(int(chr(a) + chr(b), 16))
            i += 3
        elif _is_hex(a):  # "%X<nonhex>" — sscanf parses the hex prefix
            out.append(int(chr(a), 16))
            i += 3
        elif a == 0:  # lone trailing '%': UB in the reference; see docstring
            out.append(0)
            i += 3
        else:  # "%<nonhex><hex>" — sscanf fails, bytes eaten
            i += 3
    return bytes(out)


# ---------------------------------------------------------------------------
# domain to ASCII — UTS46 nontransitional (parse.cc:123-179 ICU path)
# ---------------------------------------------------------------------------

_ASCII_FAST = re.compile(rb"^[A-Za-z0-9.\-_]*$")


def _punycode_decode_label(label: str) -> Optional[str]:
    try:
        return label.encode("ascii").decode("punycode")
    except Exception:
        return None


def _check_hyphens(label: str) -> bool:
    """ICU UTS46 hardcodes CheckHyphens=true (verified against the
    reference binary): no leading/trailing hyphen, no '--' in positions
    3-4 (1-based)."""
    if not label:
        return True
    if label[0] == "-" or label[-1] == "-":
        return False
    if label[2:4] == "--":
        return False
    return True


import functools


@functools.lru_cache(maxsize=65536)
def _domain_to_ascii(domain_bytes: bytes) -> Optional[str]:
    """UTS46 ToASCII: nontransitional, CheckBidi, CheckContextJ,
    UseSTD3ASCIIRules=false, CheckHyphens=true (ICU hardcodes it),
    VerifyDnsLength strict (label<=63, domain<=253, empty labels fail
    except a single trailing root dot). Returns None on failure."""
    if not domain_bytes:
        return ""
    # fast path: plain ASCII letters/digits/dots/hyphens/underscore
    if _ASCII_FAST.match(domain_bytes):
        s = domain_bytes.decode("ascii").lower()
        if "xn--" not in s:
            labels = s.split(".")
            if labels and labels[-1] == "":
                labels = labels[:-1]
            if not labels or any(l == "" or not _check_hyphens(l) for l in labels):
                return None
            if not _verify_dns_length(s):
                return None
            return s
    try:
        text = domain_bytes.decode("utf-8", errors="replace")
        mapped = _idna.uts46_remap(text, std3_rules=False, transitional=False)
    except Exception:
        return None
    labels = mapped.split(".")
    trailing_dot = False
    if len(labels) > 1 and labels[-1] == "":
        labels = labels[:-1]
        trailing_dot = True
    out_labels: list[str] = []
    unicode_labels: list[str] = []
    for lab in labels:
        if lab == "":
            return None  # EMPTY_LABEL
        if lab.startswith("xn--"):
            dec = _punycode_decode_label(lab[4:])
            if dec is None:
                return None
            # round-trip validity per UTS46 (decoded must be its own map)
            try:
                remapped = _idna.uts46_remap(dec, std3_rules=False, transitional=False)
            except Exception:
                return None
            if remapped != dec or not dec or dec.isascii():
                return None  # INVALID_ACE_LABEL (incl. all-ASCII decode)
            if not _check_label(dec) or not _check_hyphens(dec):
                return None
            out_labels.append(lab)
            unicode_labels.append(dec)
        elif lab.isascii():
            if not _check_hyphens(lab):
                return None
            out_labels.append(lab)
            unicode_labels.append(lab)
        else:
            if not _check_label(lab) or not _check_hyphens(lab):
                return None
            try:
                out_labels.append("xn--" + lab.encode("punycode").decode("ascii"))
            except Exception:
                return None
            unicode_labels.append(lab)
    # CheckBidi: only if the domain is a bidi domain name
    if any(_is_bidi_label(l) for l in unicode_labels if l):
        for l in unicode_labels:
            if not l:
                continue
            try:
                _idna_core.check_bidi(l, check_ltr=True)
            except Exception:
                return None
    result = ".".join(out_labels) + ("." if trailing_dot else "")
    if not _verify_dns_length(result):
        return None
    return result


def _check_label(label: str) -> bool:
    """ContextJ (ZWJ/ZWNJ) checks on a unicode label; other codepoint
    validity was already enforced by uts46_remap raising on disallowed."""
    for i, ch in enumerate(label):
        if ch in ("‌", "‍"):
            try:
                if not _idna_core.valid_contextj(label, i):
                    return False
            except Exception:
                return False
    # combining mark may not be first (ICU reports LEADING_COMBINING_MARK)
    if label:
        import unicodedata

        if unicodedata.category(label[0]).startswith("M"):
            return False
    return True


def _is_bidi_label(label: str) -> bool:
    import unicodedata

    return any(unicodedata.bidirectional(ch) in ("R", "AL", "AN") for ch in label)


def _verify_dns_length(domain: str) -> bool:
    d = domain[:-1] if domain.endswith(".") else domain
    if not 1 <= len(d) <= 253:
        return False
    for lab in d.split("."):
        if not 1 <= len(lab) <= 63:
            return False
    return True


# ---------------------------------------------------------------------------
# IPv4 / IPv6 (parse.cc:190-506)
# ---------------------------------------------------------------------------


def _parse_ipv4_number(part: str) -> Optional[int]:
    radix = 10
    if part[:2] in ("0x", "0X"):
        part = part[2:]
        radix = 16
    elif len(part) >= 2 and part[0] == "0":
        part = part[1:]
        radix = 8
    if part == "":
        return 0
    allowed = {
        10: "0123456789",
        16: "0123456789abcdefABCDEF",
        8: "01234567",
    }[radix]
    if any(ch not in allowed for ch in part):
        return None
    n = int(part, radix)
    if n >= 1 << 32:
        return None
    return n


_IPV4_FAILURE = "failure"


def _parse_ipv4(ascii_domain: str):
    """Returns: None (not an IPv4 → keep as domain), _IPV4_FAILURE, or
    the canonical dotted-quad string."""
    parts = ascii_domain.split(".")
    count = len(parts)
    if count <= 5 and parts[-1] == "":
        parts = parts[:-1]
        count -= 1
    if count > 4 or count == 0:
        return None
    numbers = []
    for part in parts:
        if part == "":
            return None
        n = _parse_ipv4_number(part)
        if n is None:
            return None
        numbers.append(n)
    for n in numbers[:-1]:
        if n > 255:
            return _IPV4_FAILURE
    if numbers[-1] >= 1 << (8 * (5 - count)):
        return _IPV4_FAILURE
    ipv4 = numbers[-1]
    for i, n in enumerate(numbers[:-1]):
        ipv4 += n << (8 * (3 - i))
    return "%d.%d.%d.%d" % (ipv4 >> 24 & 255, ipv4 >> 16 & 255, ipv4 >> 8 & 255, ipv4 & 255)


def _parse_ipv6(inp: str) -> Optional[str]:
    """WHATWG IPv6 parser with the reference's always-fail embedded-IPv4
    branch (parse.cc:283-345). Returns bracketed canonical form."""
    pieces = [0] * 8
    piece_ptr = 0
    compress = None
    i, n = 0, len(inp)
    if i < n and inp[i] == ":":
        if i + 1 >= n or inp[i + 1] != ":":
            return None
        i += 2
        piece_ptr += 1
        compress = piece_ptr
    while i < n:
        if piece_ptr == 8:
            return None
        if inp[i] == ":":
            if compress is not None:
                return None
            i += 1
            piece_ptr += 1
            compress = piece_ptr
            continue
        value = 0
        length = 0
        while length < 4 and i < n and _is_hex(ord(inp[i])):
            value = value * 16 + int(inp[i], 16)
            i += 1
            length += 1
        c = inp[i] if i < n else ""
        if c == ".":
            # reference quirk: embedded IPv4 always fails (see docstring)
            return None
        elif c == ":":
            i += 1
            if i >= n:
                return None
        elif c != "":
            return None
        if piece_ptr == 8:
            return None
        pieces[piece_ptr] = value
        piece_ptr += 1
    if compress is not None:
        swaps = piece_ptr - compress
        piece_ptr = 7
        while piece_ptr > 0 and swaps > 0:
            pieces[piece_ptr], pieces[compress + swaps - 1] = (
                pieces[compress + swaps - 1],
                pieces[piece_ptr],
            )
            piece_ptr -= 1
            swaps -= 1
    elif piece_ptr != 8:
        return None
    packed = b"".join(p.to_bytes(2, "big") for p in pieces)
    return "[" + socket.inet_ntop(socket.AF_INET6, packed) + "]"


_FORBIDDEN_HOST = set(b"\x09\x0a\x0d\x20#%/:<>?@[\\]^|")


def _parse_host(buf: bytes) -> Optional[Host]:
    if buf[:1] == b"[":
        if not buf.endswith(b"]"):
            return None
        v6 = _parse_ipv6(buf[1:-1].decode("ascii", errors="replace"))
        if v6 is None:
            return None
        return Host(HOST_IPV6, v6)
    decoded = _percent_decode_host(buf)
    if decoded is None or 0 in decoded:
        return None
    ascii_domain = _domain_to_ascii(decoded)
    if ascii_domain is None:
        return None
    if any(b in _FORBIDDEN_HOST for b in ascii_domain.encode("ascii", "replace")):
        return None
    ipv4 = _parse_ipv4(ascii_domain)
    if ipv4 is _IPV4_FAILURE:
        return None
    if ipv4 is not None:
        return Host(HOST_IPV4, ipv4)
    return Host(HOST_DOMAIN, ascii_domain)


# ---------------------------------------------------------------------------
# the basic URL parser state machine (parse.cc:567-1304)
# ---------------------------------------------------------------------------

(
    SCHEME_START,
    SCHEME,
    NO_SCHEME,
    SPECIAL_RELATIVE_OR_AUTHORITY,
    PATH_OR_AUTHORITY,
    RELATIVE,
    RELATIVE_SLASH,
    SPECIAL_AUTHORITY_SLASHES,
    SPECIAL_AUTHORITY_IGNORE_SLASHES,
    AUTHORITY,
    HOST,
    PORT,
    FILE_STATE,
    FILE_SLASH,
    FILE_HOST,
    PATH_START,
    PATH,
    CANNOT_BE_A_BASE_URL_PATH,
    QUERY,
    FRAGMENT,
) = range(20)


def parse_url(input_str, base: Optional[ParsedUrl] = None) -> Optional[ParsedUrl]:
    """Parse `input_str` (str or bytes) against optional base.
    Returns ParsedUrl or None on failure."""
    if input_str is None:
        return None
    if isinstance(input_str, str):
        inp = input_str.encode("utf-8", errors="surrogateescape")
    else:
        inp = bytes(input_str)
    # C strings stop at the first NUL
    nul = inp.find(0)
    if nul != -1:
        inp = inp[:nul]
    # trim leading/trailing bytes 0x01..0x20 (signed-char compare in ref:
    # bytes >= 0x80 are negative and not trimmed — parse.cc:46-54)
    s, e = 0, len(inp)
    while e > s and 1 <= inp[e - 1] <= 0x20:
        e -= 1
    while s < e and 1 <= inp[s] <= 0x20:
        s += 1
    inp = inp[s:e]
    # remove all tab/CR/LF
    inp = inp.replace(b"\t", b"").replace(b"\n", b"").replace(b"\r", b"")

    url = ParsedUrl()
    n = len(inp)
    buf = bytearray()
    flag_at = False
    flag_sq = False
    password_seen = False
    state = SCHEME_START
    p = 0

    while True:
        c = inp[p] if 0 <= p < n else 0

        if state == SCHEME_START:
            if _is_alpha(c):
                buf.append(_lower(c))
                state = SCHEME
            else:
                state = NO_SCHEME
                p -= 1

        elif state == SCHEME:
            if _is_alpha(c) or c in (0x2B, 0x2D, 0x2E) or _is_digit(c):
                buf.append(_lower(c))
            elif c == 0x3A:  # :
                url.scheme = buf.decode("ascii")
                buf.clear()
                if url.scheme == "file":
                    state = FILE_STATE
                elif url.is_special:
                    if base is not None and url.scheme == base.scheme:
                        state = SPECIAL_RELATIVE_OR_AUTHORITY
                    else:
                        state = SPECIAL_AUTHORITY_SLASHES
                elif p + 1 < n and inp[p + 1] == 0x2F:  # /
                    state = PATH_OR_AUTHORITY
                    p += 1
                else:
                    url.cannot_be_a_base = True
                    url.path.append("")
                    state = CANNOT_BE_A_BASE_URL_PATH
            else:
                buf.clear()
                state = NO_SCHEME
                p = -1  # start over

        elif state == NO_SCHEME:
            if base is None or (base.cannot_be_a_base and c != 0x23):
                return None
            elif base.cannot_be_a_base and c == 0x23:  # #
                url.scheme = base.scheme
                url.path = list(base.path)
                url.query = base.query
                url.fragment = ""
                url.cannot_be_a_base = True
                state = FRAGMENT
            elif base.scheme != "file":
                state = RELATIVE
                p -= 1
            else:
                state = FILE_STATE
                p -= 1

        elif state == SPECIAL_RELATIVE_OR_AUTHORITY:
            if c == 0x2F and p + 1 < n and inp[p + 1] == 0x2F:
                state = SPECIAL_AUTHORITY_IGNORE_SLASHES
                p += 1
            else:
                state = RELATIVE
                p -= 1

        elif state == PATH_OR_AUTHORITY:
            if c == 0x2F:
                state = AUTHORITY
            else:
                state = PATH
                p -= 1

        elif state == RELATIVE:
            url.scheme = base.scheme
            if c == 0:
                url.username = base.username
                url.password = base.password
                url.host = base.host
                url.port = base.port
                url.path = list(base.path)
                url.query = base.query
            elif c == 0x2F:
                state = RELATIVE_SLASH
            elif c == 0x3F:  # ?
                url.username = base.username
                url.password = base.password
                url.host = base.host
                url.port = base.port
                url.path = list(base.path)
                url.query = ""
                state = QUERY
            elif c == 0x23:  # #
                url.username = base.username
                url.password = base.password
                url.host = base.host
                url.port = base.port
                url.path = list(base.path)
                url.query = base.query
                url.fragment = ""
                state = FRAGMENT
            else:
                if c == 0x5C and url.is_special:  # \
                    state = RELATIVE_SLASH
                else:
                    url.username = base.username
                    url.password = base.password
                    url.host = base.host
                    url.port = base.port
                    url.path = list(base.path)
                    if url.path:
                        url.path.pop()
                    state = PATH
                    p -= 1

        elif state == RELATIVE_SLASH:
            if (c == 0x2F or c == 0x5C) and url.is_special:
                state = SPECIAL_AUTHORITY_IGNORE_SLASHES
            elif c == 0x2F:
                state = AUTHORITY
            else:
                url.username = base.username
                url.password = base.password
                url.host = base.host
                url.port = base.port
                state = PATH
                p -= 1

        elif state == SPECIAL_AUTHORITY_SLASHES:
            if c == 0x2F and p + 1 < n and inp[p + 1] == 0x2F:
                state = SPECIAL_AUTHORITY_IGNORE_SLASHES
                p += 1
            else:
                state = SPECIAL_AUTHORITY_IGNORE_SLASHES
                p -= 1

        elif state == SPECIAL_AUTHORITY_IGNORE_SLASHES:
            if c != 0x2F and c != 0x5C:
                state = AUTHORITY
                p -= 1

        elif state == AUTHORITY:
            if c == 0x40:  # @
                if flag_at:
                    buf[:0] = b"%40"
                flag_at = True
                for byte in buf:
                    if byte == 0x3A and not password_seen:
                        password_seen = True
                        url.password = ""
                        continue
                    enc = _pct(byte).decode() if _in_userinfo(byte) else chr(byte)
                    if password_seen:
                        url.password = (url.password or "") + enc
                    else:
                        url.username += enc
                buf.clear()
            elif c in (0, 0x2F, 0x3F, 0x23) or (c == 0x5C and url.is_special):
                if flag_at and not buf:
                    return None
                p -= len(buf) + 1
                buf.clear()
                state = HOST
            else:
                buf.append(c)

        elif state == HOST:
            if c == 0x3A and not flag_sq:  # :
                if not buf:
                    return None
                host = _parse_host(bytes(buf))
                if host is None:
                    return None
                url.host = host
                buf.clear()
                state = PORT
            elif c in (0, 0x2F, 0x3F, 0x23) or (c == 0x5C and url.is_special):
                p -= 1
                if not buf and url.is_special:
                    return None
                host = _parse_host(bytes(buf))
                if host is None:
                    return None
                url.host = host
                buf.clear()
                state = PATH_START
            else:
                if c == 0x5B:  # [
                    flag_sq = True
                if c == 0x5D:  # ]
                    flag_sq = False
                buf.append(c)

        elif state == PORT:
            if _is_digit(c):
                buf.append(c)
            elif c in (0, 0x2F, 0x3F, 0x23) or (c == 0x5C and url.is_special):
                if buf:
                    port = int(buf.decode("ascii"))
                    if port > (1 << 16) - 1:
                        return None
                    if url.default_port() == port:
                        url.port = None
                    else:
                        url.port = port
                    buf.clear()
                state = PATH_START
                p -= 1
            else:
                return None

        elif state == FILE_STATE:
            url.scheme = "file"
            url.host = Host()  # empty host
            if c == 0x2F or c == 0x5C:
                state = FILE_SLASH
            elif base is not None and base.scheme == "file":
                url.host = base.host
                url.path = list(base.path)
                url.query = base.query
                if c == 0x3F:
                    url.query = ""
                    state = QUERY
                elif c == 0x23:
                    url.fragment = ""
                    state = FRAGMENT
                elif c != 0:
                    url.query = None
                    if not _is_windows_drive_letter(inp[p : p + 2]):
                        _shorten_path(url)
                    else:
                        url.path = []
                    state = PATH
                    p -= 1
            else:
                state = PATH
                p -= 1

        elif state == FILE_SLASH:
            if c == 0x2F or c == 0x5C:
                state = FILE_HOST
            else:
                if base is not None and base.scheme == "file":
                    url.host = base.host
                    if (
                        not _is_windows_drive_letter(inp[p : p + 2])
                        and base.path
                        and _is_normalized_windows_drive_letter(base.path[0])
                    ):
                        url.path.append(base.path[0])
                state = PATH
                p -= 1

        elif state == FILE_HOST:
            if c in (0, 0x2F, 0x5C, 0x3F, 0x23):
                p -= 1
                if _is_windows_drive_letter(bytes(buf)) and len(buf) == 2:
                    state = PATH
                    # buffer intentionally kept (drive-letter quirk)
                elif not buf:
                    state = PATH_START
                else:
                    host = _parse_host(bytes(buf))
                    if host is None:
                        return None
                    if host.domain == "localhost":
                        url.host = None
                    else:
                        url.host = host
                    buf.clear()
                    state = PATH_START
            else:
                buf.append(c)

        elif state == PATH_START:
            if url.is_special:
                state = PATH
                if c != 0x2F and c != 0x5C:
                    p -= 1
            elif c == 0x3F:
                url.query = ""
                state = QUERY
            elif c == 0x23:
                url.fragment = ""
                state = FRAGMENT
            elif c != 0:
                state = PATH
                if c != 0x2F:
                    p -= 1

        elif state == PATH:
            if (
                c in (0, 0x2F)
                or (c == 0x5C and url.is_special)
                or c in (0x3F, 0x23)
            ):
                b = bytes(buf)
                if _is_double_dot(b):
                    _shorten_path(url)
                    if c != 0x2F and not (c == 0x5C and url.is_special):
                        url.path.append("")
                elif _is_single_dot(b):
                    if c != 0x2F and not (c == 0x5C and url.is_special):
                        url.path.append("")
                else:
                    seg = b.decode("ascii")
                    if (
                        not url.path
                        and url.scheme == "file"
                        and len(b) == 2
                        and _is_windows_drive_letter(b)
                    ):
                        seg = seg[0] + ":"
                    url.path.append(seg)
                buf.clear()
                if c == 0x3F:
                    url.query = ""
                    state = QUERY
                if c == 0x23:
                    url.fragment = ""
                    state = FRAGMENT
            else:
                if _in_path(c):
                    buf += _pct(c)
                else:
                    buf.append(c)

        elif state == CANNOT_BE_A_BASE_URL_PATH:
            if c == 0x3F:
                url.query = ""
                state = QUERY
            elif c == 0x23:
                url.fragment = ""
                state = FRAGMENT
            elif c != 0:
                if _in_c0(c):
                    url.path[0] += _pct(c).decode()
                else:
                    url.path[0] += chr(c)

        elif state == QUERY:
            if c == 0 or c == 0x23:
                special = url.is_special
                q = url.query or ""
                parts = []
                for byte in buf:
                    if _in_query(byte) or (special and _in_special_query(byte)):
                        parts.append(_pct(byte).decode())
                    else:
                        parts.append(chr(byte))
                url.query = q + "".join(parts)
                buf.clear()
                if c == 0x23:
                    url.fragment = ""
                    state = FRAGMENT
            else:
                buf.append(c)

        elif state == FRAGMENT:
            if c != 0:
                if _in_fragment(c):
                    url.fragment = (url.fragment or "") + _pct(c).decode()
                else:
                    url.fragment = (url.fragment or "") + chr(c)

        # loop control mirrors: } while ((p < input || *p) && p++);
        if p >= n:
            break
        p += 1

    return url


def _shorten_path(url: ParsedUrl) -> None:
    if url.scheme != "file" or not (
        len(url.path) == 1 and _is_normalized_windows_drive_letter(url.path[0])
    ):
        if url.path:
            url.path.pop()


# ---------------------------------------------------------------------------
# serialization + getters (serialize.c, url/api.c)
# ---------------------------------------------------------------------------


def serialize_path_and_query(url: ParsedUrl) -> str:
    if url.cannot_be_a_base:
        out = url.path[0] if url.path else ""
    else:
        out = "".join("/" + seg for seg in url.path)
    if url.query is not None:
        out += "?" + url.query
    return out


def serialize_url(url: ParsedUrl, exclude_fragment: bool = False) -> str:
    out = url.scheme + ":"
    if url.host is not None:
        out += "//"
        if url.username or url.password is not None:
            out += url.username
            if url.password is not None:
                out += ":" + url.password
            out += "@"
        out += url.host.domain
        if url.port is not None:
            out += ":%d" % url.port
    elif url.scheme == "file":
        out += "//"
    out += serialize_path_and_query(url)
    if not exclude_fragment and url.fragment is not None:
        out += "#" + url.fragment
    return out


def href(url: ParsedUrl) -> str:
    return serialize_url(url, False)


def getters(url: ParsedUrl) -> dict:
    """All component getters per url/api.c:12-123."""
    host = "" if url.host is None else url.host.domain
    if url.host is not None and url.port is not None:
        host_port = "%s:%d" % (url.host.domain, url.port)
    else:
        host_port = host
    pathname = serialize_path_and_query(url)
    qpos = pathname.find("?")
    if qpos != -1:
        pathname = pathname[:qpos]
    return {
        "href": serialize_url(url),
        "protocol": url.scheme + ":",
        "username": url.username,
        "password": url.password or "",
        "host": host_port,
        "hostname": host,
        "port": "" if url.port is None else str(url.port),
        "pathname": pathname,
        "search": "?" + url.query if url.query else "",
        "hash": "#" + url.fragment if url.fragment else "",
    }


# ---------------------------------------------------------------------------
# canonicalization entry points (frontier hot path)
# ---------------------------------------------------------------------------

# already-canonical http(s) URL: lowercase scheme+host, no default port, no
# escapes needed, no dot segments — skip the state machine entirely.
_CANON_FAST = re.compile(
    r"^(https?)://"
    r"((?:[a-z0-9]+(?:-[a-z0-9]+)*\.)+[a-z]{2,63})"
    r"(?::([1-9][0-9]{0,4}))?"
    r"(/[A-Za-z0-9\-._~!$&'()*+,;=:@/%]*)?"
    r"(\?[A-Za-z0-9\-._~!$&()*+,;=:@/?%]*)?$"
)
# NOTE: ' (apostrophe) is deliberately absent from the QUERY charset: the
# WHATWG query state percent-encodes ' to %27 for special schemes, so an
# apostrophe-bearing query must fall through to the state machine or the
# same URL would get two different canonical hrefs (fast vs slow path),
# splitting the URL-seen set. It stays in the PATH charset, where WHATWG
# does not encode it.
# '%' is safe in the fast charsets: the WHATWG path/query states copy
# both valid and invalid percent escapes through verbatim ('%' is not
# in any encode set), so an already-present escape never changes the
# href. The one semantic case — '%2e' as a (half of a) dot segment —
# is excluded by _DOTSEG below.
# A dot segment terminates at '/', '?', or end of string ('#' cannot
# reach the fast path — the charsets exclude it, and the medium path
# strips fragments before revalidating).
_DOTSEG = re.compile(r"/\.\.?(?=[/?]|$)|%2[eE]")
_LONG_LABEL = re.compile(r"[a-z0-9-]{64}")  # any 64-run => some label > 63


def _try_fast(cand: str):
    """(href, host, hostname, scheme, path_query, '') for an
    already-canonical http(s) URL (_CANON_FAST plus the length, label,
    port and dot-segment gates), else None."""
    m = _CANON_FAST.match(cand)
    if m is None:
        return None
    sch, host, port, path, query = m.groups()
    if (
        _DOTSEG.search(cand) is None
        and len(cand) <= 8191
        and len(host) <= 253
        and _LONG_LABEL.search(host) is None
        and not (port == "80" and sch == "http")
        and not (port == "443" and sch == "https")
        and (port is None or int(port) <= 65535)
        and (path is not None or query is None)
    ):
        hostport = host if port is None else host + ":" + port
        return (
            cand if path is not None else sch + "://" + hostport + "/",
            hostport,
            host,
            sch,
            (path or "/") + (query or ""),
            "",
        )
    return None


def canonicalize(url_str: str, base_str: Optional[str] = None):
    """Return (href, host, scheme, failure_flag). Fast path for
    already-canonical URLs; full state machine otherwise."""
    if url_str is not None and base_str is None:
        row = _try_fast(url_str)
        if row is not None:
            return (row[0], row[1], row[3], False)
    base = None
    if base_str:
        base = parse_url(base_str)
        if base is None:
            return (None, None, None, True)
    u = parse_url(url_str, base)
    if u is None:
        return (None, None, None, True)
    host = "" if u.host is None else u.host.domain
    if u.host is not None and u.port is not None:
        host = "%s:%d" % (u.host.domain, u.port)
    return (serialize_url(u, exclude_fragment=True), host, u.scheme, False)


# ---------------------------------------------------------------------------
# vectorized full canonicalization (the frontier scheduling hot path)
# ---------------------------------------------------------------------------

def canonicalize_full(u, base_str=None, _base_cache=None):
    """One row of the scheduling schema:
    (href, host, hostname, scheme, path_query, errkind).

    errkind classification mirrors crawler.c's set_new_url gates
    (SURVEY §2.3): ''|length|parse|scheme|proto:<s>|host.
    """
    if u is None or len(u) > 8191:
        return (None, None, None, None, None, "length")  # api.c:15-32
    parsed_base = None
    if base_str:
        if _base_cache is not None and base_str in _base_cache:
            parsed_base = _base_cache[base_str]
        else:
            parsed_base = parse_url(base_str)
            if _base_cache is not None:
                _base_cache[base_str] = parsed_base
    pu = parse_url(u, parsed_base)
    if pu is None:
        return (None, None, None, None, None, "parse")
    if not pu.scheme:
        return (None, None, None, None, None, "scheme")
    if pu.scheme not in ("http", "https"):
        return (None, None, None, None, None, "proto:" + pu.scheme)
    if pu.host is None or pu.cannot_be_a_base:
        return (None, None, None, None, None, "host")
    g = getters(pu)
    return (
        serialize_url(pu, exclude_fragment=True),
        g["host"],
        g["hostname"],
        pu.scheme,
        serialize_path_and_query(pu),
        "",
    )


# "medium path" shape: scheme://host[:port][/path?query] with an
# ASCII-domain authority (no userinfo, no IP literal, no escapes in
# host). Such a URL canonicalizes by: drop fragment, lowercase scheme
# + host, drop the default port — then it must satisfy the fast-path
# validation or it falls to the state machine.
_MEDIUM_RX = re.compile(
    r"^([A-Za-z][A-Za-z0-9+.\-]*)://([A-Za-z0-9.\-]+)(?::(\d+))?"
    r"([/?][^#]*)?(?:#.*)?$",
    re.DOTALL,  # fragments may contain newlines... those go slow anyway
)


def canonicalize_full_batch(urls, bases=None):
    """Batched canonicalize_full — one compiled-regex Python loop:

    1. fast path — already-canonical URLs (_CANON_FAST match + the
       secondary gates),
    2. medium path — fragment strip + scheme/host lowercase + default
       port drop, revalidated by the same fast check,
    3. slow path — whatever remains (escaping needed, dot segments,
       IDNA/IP hosts, userinfo, relative refs with a base) runs the
       per-row WHATWG state machine.

    r6: the pandas str.extract/where formulation was replaced by this
    per-row loop over compiled regexes (_try_fast) — the vectorized form
    paid ~6 µs/row in pandas per-op overhead and built hostport/href
    concat columns for every row; the loop does one match plus cheap
    checks (~2 µs/row, measured 2.8x end-to-end on the bench frontier
    mix). Same classification, same outputs, byte-for-byte.

    Returns a pandas DataFrame with columns
    href/host/hostname/scheme/path_query/errkind, index-aligned with
    the input.
    """
    import numpy as np
    import pandas as pd

    u_arr = pd.Series(urls, dtype="object").to_numpy(dtype=object)
    n = len(u_arr)
    b_arr = (
        pd.Series(bases, dtype="object").to_numpy(dtype=object)
        if bases is not None
        else None
    )

    med_match = _MEDIUM_RX.match

    rows = [None] * n
    base_cache: dict = {}
    for i in range(n):
        u = u_arr[i]
        b = b_arr[i] if b_arr is not None else None
        if b is not None and not isinstance(b, str):  # NaN from parquet
            b = None
        row = None
        if b is None and isinstance(u, str):
            row = _try_fast(u)
            if row is None:
                mm = med_match(u)
                if mm is not None:
                    msch, mhost, mport, mpathq = mm.groups()
                    lsch = msch.lower()
                    if mport is not None and (
                        (lsch == "http" and mport == "80")
                        or (lsch == "https" and mport == "443")
                    ):
                        mport = None
                    row = _try_fast(
                        lsch + "://" + mhost.lower()
                        + ((":" + mport) if mport is not None else "")
                        + (mpathq or "")
                    )
        if row is None:
            row = canonicalize_full(u, b, base_cache)
        rows[i] = row
    return pd.DataFrame(
        rows,
        columns=[
            "href", "host", "hostname", "scheme", "path_query", "errkind",
        ],
    )
