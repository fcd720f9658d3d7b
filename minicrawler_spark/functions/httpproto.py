"""HTTP/1.1 protocol functions — pure, deterministic, Arrow-batchable.

Reimplements the reference's response handling and request generation
(logical fields only; sockets/TLS/h2 live in the pluggable fetcher):

- find_head_end: \\r*\\n\\r*\\n scan (http1.c:10-23),
- parse_head: HTTP/1.0|1.1 status line + headers with folded
  continuation lines, lines without ':' skipped (http1.c:29-83),
- header dispatch (crawler.c:1327-1426): Content-Length, Location
  (3xx only) / Refresh (any status, only "0;url=" prefix), Set-Cookie,
  Transfer-Encoding: chunked, Content-Encoding: gzip, Content-Type
  with the " charset=" (leading space) extraction quirk,
  WWW-Authenticate, Connection: close,
- chunked decode with the trailing-garbage-after-0-chunk truncation
  (http1.c:89-140),
- tolerant gunzip: keep partial output on truncation (inflate.c),
- decode_response: the above chained over one raw response, for the
  side fetches (robots.txt, sitemaps) that need only status and body,
- Basic + Digest auth (auth.c:16-24, 30-86; digcalc.c) with the
  reference's fixed cnonce and nc for reproducibility, challenge
  parsing with quoted-pair unescaping, digest preferred over basic,
  realm required for digest (auth.c:92-212),
- request generation (genrequest, crawler.c:756-872): exact header
  order and defaults (Accept */* unless in custom header, User-Agent
  minicrawler/5.2.7, Accept-Encoding: gzip opt, Content-Length/Type
  for POST).
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Optional

from .cookies import cookie_header, parse_set_cookie

__all__ = [
    "VERSION",
    "DEFAULT_AGENT",
    "find_head_end",
    "parse_head",
    "ResponseState",
    "dispatch_headers",
    "decode_chunked",
    "gunzip_tolerant",
    "decode_response",
    "basic_auth",
    "digest_auth",
    "parse_auth_challenge",
    "gen_request",
]

VERSION = "5.2.7"  # reference version string (minicrawler.h:25)
DEFAULT_AGENT = "minicrawler/" + VERSION
MAXURLSIZE = 8191


def find_head_end(data: bytes) -> Optional[int]:
    """Index just past the m{\\r*\\n\\r*\\n} head terminator, else None."""
    nn = 0
    for i, b in enumerate(data):
        if b == 0x0D:
            pass
        elif b == 0x0A:
            nn += 1
            if nn == 2:
                return i + 1
        else:
            nn = 0
    return None


def parse_head(head: bytes):
    """Returns (status, [(name, value), ...]) or None on unsupported
    protocol. Mirrors parsehead: status from byte 9, headers split at
    first ':', folded continuations joined, ':'-less lines skipped."""
    text = head.decode("latin-1")
    if not (text.startswith("HTTP/1.0") or text.startswith("HTTP/1.1")):
        return None
    # atoi(p) at offset 9
    rest = text[9:]
    num = ""
    for ch in rest.lstrip(" \t"):  # atoi skips whitespace
        if ch.isdigit() or (ch in "+-" and not num):
            num += ch
        else:
            break
    status = int(num) if num and num not in "+-" else 0
    nl = text.find("\n")
    if nl == -1:
        return status, []
    p = text[nl + 1 :]
    # join folded continuations: CRLF followed by SP/TAB
    headers = []
    i = 0
    n = len(p)
    while i < n:
        while i < n and p[i] in "\r\n":
            i += 1
        if i >= n:
            break
        # find name terminator among \r \n :
        j = i
        while j < n and p[j] not in "\r\n:":
            j += 1
        if j >= n:
            break
        if p[j] != ":":
            i = j
            continue
        name = p[i:j]
        j += 1
        while j < n and p[j] in " \t":
            j += 1
        # value with folded continuations
        parts = []
        while True:
            k = j
            while k < n and p[k] not in "\r\n":
                k += 1
            parts.append(p[j:k])
            q = k
            while q < n and p[q] in "\r\n":
                q += 1
            if q < n and p[q] in " \t":
                j = q
            else:
                break
        headers.append((name, "".join(parts)))
        i = k + 1 if k < n else n
    return status, headers


class ResponseState:
    """Accumulates the reference's per-response header state
    (the fields header_cb mutates on mcrawler_url)."""

    def __init__(self, method: str, username: str = ""):
        self.method = method
        self.username = username
        self.status = 0
        self.has_contentlen = False
        self.contentlen = -1
        self.location = ""
        self.error_msg = ""
        self.error = False
        self.chunked = False
        self.gzipped = False
        self.contenttype: Optional[str] = None
        self.charset = ""
        self.wwwauthenticate: Optional[str] = None
        self.close_connection = False
        self.set_cookies: list = []  # raw Set-Cookie values, in order


def dispatch_headers(state: ResponseState, status: int, headers: list) -> None:
    """header_cb (crawler.c:1327-1426) over parsed headers in order."""
    state.status = status
    for name, value in headers:
        nl = name.lower()
        if nl == "content-length":
            state.has_contentlen = True
            state.contentlen = _atoi(value)
            if state.method == "HEAD":
                state.contentlen = 0
        elif (nl == "location" and 300 <= state.status < 400) or nl == "refresh":
            if nl == "refresh":
                if not value.startswith("0;url="):
                    continue
                value = value[6:]
            if len(value) > MAXURLSIZE:
                state.error_msg = "Redirect URL is too long"
                state.error = True
                continue
            state.location = value
            if not state.has_contentlen and not state.chunked:
                state.has_contentlen = True
                state.contentlen = 0
        elif nl == "set-cookie":
            state.set_cookies.append(value)
        elif nl == "transfer-encoding":
            if value.lower() == "chunked":
                state.chunked = True
                state.has_contentlen = False
        elif nl == "content-encoding":
            if "gzip" in value:
                state.gzipped = True
        elif nl == "content-type":
            pos = value.find(" charset=")
            if pos != -1:
                ct = value[: pos + 1]
                ct = ct.rstrip(" ;")  # backward strip of ' ' and ';'
                state.contenttype = ct
                cs = value[pos + 9 :]
                if len(cs) < 16:  # sizeof(u->charset)
                    state.charset = cs
            else:
                state.contenttype = value
        elif nl == "www-authenticate":
            state.wwwauthenticate = value
        elif nl == "connection":
            if "close" in value.lower():
                state.close_connection = True


def _atoi(s: str) -> int:
    num = ""
    for ch in s.lstrip(" \t"):
        if ch.isdigit() or (ch in "+-" and not num):
            num += ch
        else:
            break
    return int(num) if num and num not in "+-" else 0


def decode_chunked(body: bytes):
    """eatchunk semantics over a complete buffer (http1.c:89-140):
    splice chunk-size lines; a 0-chunk ends the content and the rest
    is discarded. Returns (decoded, content_complete)."""
    out = bytearray()
    i, n = 0, len(body)
    first = True
    while i < n:
        # read chunk-size line (up to CR/LF)
        j = i
        hexdigits = []
        while j < n and body[j] not in (0x0D, 0x0A):
            if len(hexdigits) < 9:
                hexdigits.append(body[j])
            j += 1
        j += 2  # eat CRLF
        if j > n:
            return bytes(out), False
        # strtol(hex, NULL, 16): leading hex digits, trailing junk
        # (chunk extensions) ignored
        hexstr = ""
        for b in hexdigits:
            ch = chr(b)
            if ch in "0123456789abcdefABCDEF":
                hexstr += ch
            else:
                break
        size = int(hexstr, 16) if hexstr else 0
        if size == 0:
            return bytes(out), True  # trailing garbage discarded
        out += body[j : j + size]
        i = j + size + 2  # skip CRLF after chunk data
        first = False
    return bytes(out), False


def gunzip_tolerant(data: bytes) -> Optional[bytes]:
    """gunzip_buf (inflate.c:11-126): gzip-wrapped inflate; truncated
    input keeps the partial output (Z_BUF_ERROR tolerance); hard
    errors return None."""
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(data)
        try:
            out += d.flush()
        except zlib.error:
            pass  # truncated tail — keep partial
        return out
    except zlib.error:
        return None


def decode_response(raw: bytes):
    """(status, body) of one raw HTTP/1.x response, or None when it
    has no head or an unsupported one. The body is de-chunked, cut at
    Content-Length and gunzipped (b"" when the gzip is corrupt); the
    status policy stays with the caller."""
    raw = bytes(raw)
    head_end = find_head_end(raw)
    if head_end is None:
        return None
    parsed = parse_head(raw[:head_end])
    if parsed is None:
        return None
    status, header_list = parsed
    state = ResponseState("GET", "")
    dispatch_headers(state, status, header_list)
    body = raw[head_end:]
    if state.chunked:
        body, _ = decode_chunked(body)
    elif state.has_contentlen and state.contentlen >= 0:
        body = body[: state.contentlen]
    if state.gzipped:
        unz = gunzip_tolerant(body)
        body = unz if unz is not None else b""
    return status, body


# ---------------------------------------------------------------------------
# auth (auth.c, digcalc.c)
# ---------------------------------------------------------------------------

_CNONCE = "97jGn565ggO9jsp"  # fixed in the reference (auth.c:35)
_NC = "00000001"


def basic_auth(username: str, password: str) -> str:
    import base64 as b64

    user = username.split(":", 1)[0]  # ':' stripped from userid
    return "Basic " + b64.b64encode(
        ("%s:%s" % (user, password)).encode("latin-1")
    ).decode("ascii")


def _md5hex(s: bytes) -> str:
    return hashlib.md5(s).hexdigest()


def digest_auth(
    username: str,
    password: str,
    method: str,
    path: str,
    realm: str,
    params: list,
    body: bytes = b"",
) -> Optional[str]:
    nonce = alg = qop = opaq = None
    for pname, pvalue in params[:10]:
        if pname == "nonce":
            nonce = pvalue
        elif pname == "algorithm":
            alg = pvalue
        elif pname == "qop":
            qop = pvalue.split(",", 1)[0]
        elif pname == "opaque":
            opaq = pvalue
    if nonce is None:
        return None
    if alg is None:
        alg = "MD5"
    if qop is None:
        qop = ""
    user = username.split(":", 1)[0]

    ha1 = _md5hex(("%s:%s:%s" % (user, realm, password)).encode("latin-1"))
    if alg.lower() == "md5-sess":
        # reference hashes the RAW 16-byte HA1 then nonce/cnonce
        raw = hashlib.md5(("%s:%s:%s" % (user, realm, password)).encode("latin-1")).digest()
        ha1 = _md5hex(raw + (":%s:%s" % (nonce, _CNONCE)).encode("latin-1"))
    a2 = ("%s:%s" % (method, path)).encode("latin-1")
    if qop.lower() == "auth-int":
        a2 += (":" + _md5hex(body)).encode("latin-1")
    ha2 = _md5hex(a2)
    if qop:
        resp = _md5hex(
            ("%s:%s:%s:%s:%s:%s" % (ha1, nonce, _NC, _CNONCE, qop, ha2)).encode("latin-1")
        )
        auth = (
            'Digest username="%s", realm="%s", nonce="%s", uri="%s", '
            'response="%s", algorithm=%s, cnonce="%s", qop=%s, nc=%s'
            % (user, realm, nonce, path, resp, alg, _CNONCE, qop, _NC)
        )
    else:
        resp = _md5hex(("%s:%s:%s" % (ha1, nonce, ha2)).encode("latin-1"))
        auth = (
            'Digest username="%s", realm="%s", nonce="%s", uri="%s", '
            'response="%s", algorithm=%s' % (user, realm, nonce, path, resp, alg)
        )
    if opaq is not None:
        auth += ', opaque="%s"' % opaq
    return auth


def _parse_single_challenge(s: str, pos: int):
    """parse_single_challenge (auth.c:92-160). Returns
    (scheme, realm, params, new_pos) — new_pos == None means stop."""
    n = len(s)
    while pos < n and s[pos] == ",":
        pos += 1
    scheme_start = pos
    sp = s.find(" ", pos)
    if sp == -1:
        return s[scheme_start:], None, [], None
    scheme = s[scheme_start:sp]
    p = sp + 1
    realm = None
    params = []
    while True:
        while p < n and s[p] in " \t,":
            p += 1
        if p >= n:
            break
        pstart = p
        while p < n and s[p] not in " =":
            p += 1
        if p >= n:
            break
        if s[p] == " ":  # start of a new challenge
            return scheme, realm, params, pstart
        pname = s[pstart:p]
        p += 1
        if p < n and s[p] == '"':
            chars = []
            p += 1
            while p < n and s[p] != '"':
                if s[p] == "\\":
                    p += 1
                    if p >= n:
                        break
                chars.append(s[p])
                p += 1
            if p >= n:
                break  # unterminated quoted string
            value = "".join(chars)
            p += 1
        else:
            vstart = p
            while p < n and s[p] not in " \t,":
                p += 1
            value = s[vstart:p]
        if p < n:
            p += 1
        if pname.lower() == "realm":
            realm = value
        elif len(params) <= 9:
            params.append((pname, value))
        else:
            break
    return scheme, realm, params, n


def parse_auth_challenge(
    header: str,
    username: str,
    password: str,
    method: str,
    path: str,
    body: bytes = b"",
):
    """parse_authchallenge (auth.c:165-212): up to 3 challenges,
    digest (with realm) preferred over basic. Returns
    (authorization | None, error_msg)."""
    challenges = []
    pos = 0
    while pos is not None and pos < len(header) and len(challenges) < 3:
        scheme, realm, params, pos = _parse_single_challenge(header, pos)
        challenges.append((scheme, realm, params))
    can_basic = can_digest = None
    for i, (scheme, realm, params) in enumerate(challenges):
        if scheme.lower() == "basic":
            can_basic = i
        elif scheme.lower() == "digest" and realm is not None:
            can_digest = i
    if can_digest is not None:
        _, realm, params = challenges[can_digest]
        auth = digest_auth(username, password, method, path, realm, params, body)
        return auth, ""
    if can_basic is not None:
        return basic_auth(username, password), ""
    return None, "No supported HTTP authentication scheme"


# ---------------------------------------------------------------------------
# request generation (genrequest, crawler.c:756-872)
# ---------------------------------------------------------------------------


def gen_request(
    method: str,
    path_query: str,
    host_port: str,
    hostname: str,
    scheme: str,
    cookies: list,
    authorization: Optional[str] = None,
    customagent: str = "",
    customheader: str = "",
    gzip: bool = False,
    post: Optional[bytes] = None,
) -> bytes:
    lines = ["%s %s HTTP/1.1" % (method, path_query)]
    lines.append("Host: " + host_port)
    p = customheader.find("Accept:")
    if not (p != -1 and (p == 0 or customheader[p - 1] == "\n")):
        lines.append("Accept: */*")
    if authorization is not None:
        lines.append("Authorization: " + authorization)
    lines.append("User-Agent: " + (customagent or DEFAULT_AGENT))
    ch = cookie_header(cookies, hostname, path_query, scheme)
    if ch:
        lines.append("Cookie: " + ch)
    out = "\r\n".join(lines) + "\r\n"
    if customheader:
        out += customheader  # raw block, caller supplies newlines
    if gzip:
        out += "Accept-Encoding: gzip\r\n"
    if post is not None:
        out += "Content-Length: %d\r\n" % len(post)
        p = customheader.find("Content-Type:")
        if not (p != -1 and (p == 0 or customheader[p - 1] == "\n")):
            out += "Content-Type: application/x-www-form-urlencoded\r\n"
    out += "\r\n"
    data = out.encode("latin-1")
    if post is not None:
        data += post
    return data
