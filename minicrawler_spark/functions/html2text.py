"""HTML → interleaved text+media span documents.

Faithful reimplementation of the reference's HTML-to-text walk
(/root/reference/src/converthtml2text.c:287-391) plus the two
additions the rebuild needs (link + media-ref extraction feeding the
frontier):

- element classes (converthtml2text.c:9-27): H1-6/UL/OL/PRE/P/DL/DIV/
  NOSCRIPT/BLOCKQUOTE/FORM/HR/TABLE/FIELDSET/ADDRESS/TR emit newline
  (space when inside TD/TH); TD/TH emit tab; IMG emits space;
  SCRIPT/OPTION/STYLE content suppressed,
- whitespace collapse priority space < tab < newline via the put_char
  state machine (converthtml2text.c:211-245; initial state = newline),
- the reference's exact 250-entry entity table (entities.c:26-297,
  nbsp -> space) with numeric refs per consume_entity
  (entities.c:323-366: strtol semantics, max length 80, int range) and
  put_code's 16-bit truncation through UTF-16LE (conv.c:68-83),
- comments `<!--` ... `-->`, nonstandard CDATA `<!CDATA[` ... `]]>`
  (converthtml2text.c:174-208, 331-357),
- tag consumption incl. quoted attributes with backslash escapes
  (consume_elem, converthtml2text.c:115-171),
- charset detection from `<?xml encoding=>` / `<meta encoding=>` /
  `<meta http-equiv=Content-Type content="...charset=...">`
  (detect_charset_from_html, converthtml2text.c:489-580 — note the
  reference reads the META tag's *encoding* attribute, not *charset*;
  reproduced verbatim),
- charset -> UTF-8 conversion dropping unmappable input like iconv
  //IGNORE (conv.c:36-62).

Additions (north rule; absent from the reference, SURVEY.md §2.11):
`<img src>` positions become kind='media' spans and `<a href>` values
are returned for frontier link discovery. Per-row invariant vs the
reference binary: concatenating kind='text' span texts equals the
reference's converthtml2text output byte-for-byte (media spans carry
no text; the IMG placeholder space lives in the text spans).
"""

from __future__ import annotations

import re
from typing import Optional

from .entities import ENTITIES

__all__ = [
    "convert",
    "to_spans",
    "detect_charset_from_html",
    "convert_charset",
    "consume_entity",
    "put_code",
]

# element classes — converthtml2text.c:9-27
_NEWLINE_ELEMS = frozenset(
    b"h1 h2 h3 h4 h5 h6 ul ol pre p dl div noscript blockquote form hr "
    b"table fieldset address tr".split()
)
_TAB_ELEMS = frozenset((b"td", b"th"))
_SPACE_ELEMS = frozenset((b"img",))
_SKIP_ELEMS = frozenset((b"script", b"option", b"style"))
_KNOWN = _NEWLINE_ELEMS | _TAB_ELEMS | _SPACE_ELEMS | _SKIP_ELEMS

_CH_SPACE, _CH_TAB, _CH_NEWLINE, _CH_OTHER = range(4)
# (replace-mask, skip-mask) per incoming class — converthtml2text.c:211-227
_CH = {
    _CH_SPACE: (0, 1 << _CH_SPACE | 1 << _CH_TAB | 1 << _CH_NEWLINE),
    _CH_TAB: (1 << _CH_SPACE, 1 << _CH_NEWLINE),
    _CH_NEWLINE: (1 << _CH_SPACE | 1 << _CH_TAB, 0),
    _CH_OTHER: (0, 0),
}


# bytes the main walk hands to put_char as _CH_OTHER
_PLAIN_RUN = re.compile(rb"[^\r\n\t &<]+")


def _is_space(c: int) -> bool:
    return c in (0x0A, 0x0D, 0x20, 0x09)


def _is_tag_name_char(c: int) -> bool:
    return (
        0x41 <= c <= 0x5A
        or 0x61 <= c <= 0x7A
        or 0x30 <= c <= 0x39
        or c in (0x2D, 0x5F, 0x2E)  # - _ .
    )


def _consume_spaces(s: bytes, i: int, end: int) -> int:
    while i < end and _is_space(s[i]):
        i += 1
    return i


def _consume_elem_name(s: bytes, i: int, end: int) -> int:
    while i < end and _is_tag_name_char(s[i]):
        i += 1
    return i


def _consume_until_c(s: bytes, i: int, end: int, c: int) -> int:
    backslash = False
    while i < end:
        if s[i] == c and not backslash:
            return i + 1
        backslash = s[i] == 0x5C and not backslash
        i += 1
    return i


def _consume_elem(s: bytes, i: int, end: int, prev_begin: bool, prev_end: bool):
    """Port of consume_elem (converthtml2text.c:128-171).
    Returns (new_i, name_lower: bytes|None, begin, end_flag).

    The reference leaves desc->id = 0 (== H1, a newline-class element)
    on every truncated-at-EOF early return, and the main loop's
    ElemDesc struct keeps the PREVIOUS tag's begin/end flags when the
    return happens before `*desc = {}` (verified vs oracle: `<td>a<`
    emits the TD-context space, bare `a<` emits nothing). The b"h1"
    sentinel name reproduces the id=0 behavior."""
    if i >= end or s[i] != 0x3C:  # <
        return i, None, prev_begin, prev_end
    j = _consume_spaces(s, i + 1, end)
    if j >= end:
        return j, b"h1", prev_begin, prev_end  # before *desc = {}
    begin = True
    end_flag = False
    if s[j] == 0x2F:  # /
        end_flag = True
        begin = False
        j = _consume_spaces(s, j + 1, end)
        if j >= end:
            return j, b"h1", begin, end_flag
    name_start = j
    j = _consume_elem_name(s, j + 1, end)  # first char unconditional
    if j >= end:
        return j, b"h1", begin, end_flag  # id never computed -> 0
    name = s[name_start:j].lower()
    previous_slash = False
    while True:
        j = _consume_spaces(s, j, end)
        if j >= end:
            return j, name, begin, end_flag
        c = s[j]
        if c == 0x3E:  # >
            if previous_slash:
                end_flag = True
            return j + 1, name, begin, end_flag
        previous_slash = c == 0x2F
        if c in (0x22, 0x27):  # " '
            j = _consume_until_c(s, j + 1, end, c)
        else:
            j += 1


_STRTOL10 = re.compile(rb"^[ \t\n\v\f\r]*[+-]?[0-9]+$")
_STRTOL16 = re.compile(rb"^[ \t\n\v\f\r]*[+-]?(?:0[xX])?[0-9a-fA-F]+$")


def consume_entity(s: bytes, i: int, end: int):
    """Port of consume_entity (entities.c:323-366).
    Returns (code, new_i); code 0 means no entity."""
    if end - i > 80:
        end = i + 80
    if i >= end or s[i] != 0x26:  # &
        return 0, i
    p = i + 1
    while p < end and s[p] != 0x3B:  # ;
        p += 1
    if p >= end:
        return 0, i
    if i + 1 < len(s) and s[i + 1] == 0x23:  # #
        hexmode = i + 2 < len(s) and s[i + 2] in (0x78, 0x58)  # x X
        start = i + 3 if hexmode else i + 2
        body = s[start:p]
        pat = _STRTOL16 if hexmode else _STRTOL10
        if not pat.match(body):
            return 0, i
        try:
            val = int(body.strip(b" \t\n\v\f\r"), 16 if hexmode else 10)
        except ValueError:
            return 0, i
        # strtol clamps to long; (int) cast must round-trip
        if not (-(1 << 31) <= val < 1 << 31):
            return 0, i
        return val, p + 1
    name = s[i + 1 : p].decode("latin-1")
    code = ENTITIES.get(name)
    if code is None:
        return 0, i
    return code, p + 1


def put_code(code: int) -> Optional[bytes]:
    """Port of put_code (conv.c:68-83): the code is truncated to a
    16-bit UTF-16LE unit before conversion to UTF-8. Surrogates fail
    (-> caller falls back to a literal '&'); a BOM unit is eaten."""
    cu = code & 0xFFFF
    if 0xD800 <= cu <= 0xDFFF:
        return None
    if cu in (0xFEFF, 0xFFFE):  # BOM either endianness: eaten (verified)
        return b""
    return chr(cu).encode("utf-8")  # incl. cu==0 -> a NUL byte (verified)


def convert(html: bytes, collect_media: bool = True, collect_links: bool = True):
    """The main walk (converthtml2text.c:287-391).

    Returns (text: bytes, media: list[(offset, src: str)],
    links: list[str]) where offset is the byte position in `text` at
    the time the IMG tag was seen."""
    if isinstance(html, str):
        html = html.encode("utf-8", "surrogateescape")
    out = bytearray()
    ending = _CH_NEWLINE
    hints_skip = 0  # count of open skip-content elements (bitmask-ish)
    open_skip: set = set()
    open_tab: set = set()
    media: list = []
    links: list = []
    prev_begin = prev_end = False
    i, end = 0, len(html)

    def put_char(c: int):
        nonlocal ending
        if open_skip:
            return
        if c == 0x20:
            act = _CH_SPACE
        elif c == 0x0A:
            act = _CH_NEWLINE
        elif c == 0x09:
            act = _CH_TAB
        else:
            act = _CH_OTHER
        replace, skip = _CH[act]
        if (1 << ending) & skip:
            pass
        elif (1 << ending) & replace:
            out[-1] = c
            ending = act
        else:
            out.append(c)
            ending = act

    while i < end:
        c = html[i]
        if c == 0x0D:
            i += 1
        elif c in (0x0A, 0x09, 0x20):
            put_char(0x20)
            i += 1
        elif c == 0x26:  # &
            code, ni = consume_entity(html, i, end)
            emitted = put_code(code) if code else None
            if code and emitted is not None:
                for b in emitted:
                    put_char(b)
                i = ni
            else:
                put_char(0x26)
                i += 1
        elif c == 0x3C:  # <
            if html[i : i + 4] == b"<!--":
                j = html.find(b"-->", i + 4)
                i = end if j == -1 else j + 3
            elif html[i : i + 8] == b"<!CDATA[":
                # reference quirk (converthtml2text.c:331-357): the inlined
                # consume_cdata `continue`s on a "]]>" match instead of
                # breaking, and the trailing `p_src=s` wins — so CDATA
                # consumes the REST of the document as raw text; each
                # "]]>" drops only its first ']' (verified vs oracle).
                j = i + 8
                while j < end:
                    cc = html[j]
                    if cc in (0x0A, 0x09):
                        put_char(0x20)
                    elif cc == 0x0D:
                        pass
                    elif cc == 0x5D and html[j : j + 3] == b"]]>":
                        pass  # skip this ']' only, keep scanning
                    else:
                        put_char(cc)
                    j += 1
                i = end
            else:
                tag_start = i
                ni, name, begin, end_flag = _consume_elem(
                    html, i, end, prev_begin, prev_end
                )
                prev_begin, prev_end = begin, end_flag
                if name is not None and begin:
                    known = name if name in _KNOWN else None
                    if known in _NEWLINE_ELEMS:
                        if open_tab:
                            put_char(0x20)
                        else:
                            put_char(0x0A)
                    if known in _TAB_ELEMS:
                        put_char(0x09)
                    if known in _SPACE_ELEMS:
                        put_char(0x20)
                        if collect_media and not open_skip:
                            src = _extract_attr(html, tag_start, ni, b"src")
                            if src is not None:
                                media.append((len(out), src))
                    if (
                        collect_links
                        and name == b"a"
                        and not open_skip
                    ):
                        hrefv = _extract_attr(html, tag_start, ni, b"href")
                        if hrefv is not None:
                            links.append(hrefv)
                if name is not None and begin != end_flag:
                    known = name if name in _KNOWN else None
                    if known in _SKIP_ELEMS:
                        if begin:
                            open_skip.add(known)
                        else:
                            open_skip.discard(known)
                    if known in _TAB_ELEMS:
                        if begin:
                            open_tab.add(known)
                        else:
                            open_tab.discard(known)
                i = ni
        else:
            # a run of _CH_OTHER bytes: put_char would append each one
            j = _PLAIN_RUN.match(html, i).end()
            if not open_skip:
                out += html[i:j]
                ending = _CH_OTHER
            i = j

    return bytes(out), media, links


_ATTR_RE_CACHE: dict = {}


def _extract_attr(html: bytes, start: int, end: int, attr: bytes) -> Optional[str]:
    """Extract attr value from the tag byte-span [start, end).
    This is a rebuild addition (link/media discovery, SURVEY.md §2.11)
    layered over the reference's byte consumption, which only skips
    attributes."""
    rx = _ATTR_RE_CACHE.get(attr)
    if rx is None:
        rx = re.compile(
            rb"[\s'\"/]" + attr + rb"\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*))",
            re.IGNORECASE,
        )
        _ATTR_RE_CACHE[attr] = rx
    m = rx.search(html, start, end)
    if not m:
        return None
    val = next(g for g in m.groups() if g is not None)
    return val.decode("utf-8", "replace")


def to_spans(html: bytes):
    """Produce the interleaved span document (FIXTURES.md §1): text
    runs split at media positions; media spans carry the raw (not yet
    resolved) img src. Invariant: concatenation of text-span texts ==
    reference converthtml2text output."""
    text, media, links = convert(html)
    spans = []
    pos = 0
    order = 0
    for offset, src in media:
        if offset > pos:
            spans.append(
                {
                    "kind": "text",
                    "text": text[pos:offset].decode("utf-8", "replace"),
                    "media_ref": None,
                    "offset": pos,
                }
            )
            pos = offset
        spans.append(
            {"kind": "media", "text": None, "media_ref": src, "offset": offset}
        )
        order += 1
    if pos < len(text):
        spans.append(
            {
                "kind": "text",
                "text": text[pos:].decode("utf-8", "replace"),
                "media_ref": None,
                "offset": pos,
            }
        )
    return spans, links


# ---------------------------------------------------------------------------
# charset detection + conversion (converthtml2text.c:489-580, conv.c:36-62)
# ---------------------------------------------------------------------------


def _next_tag(s: bytes, i: int, end: int):
    """Port of next_tag (converthtml2text.c:487-542). Returns
    (new_i, name: bytes, attrs: dict with charset/encoding/http-equiv/
    content)."""
    attrs: dict = {}
    j = s.find(b"<", i, end)
    if j == -1:
        return end, b"", attrs
    j += 1
    name_start = j
    if j >= end or j + 1 >= end:
        return end, b"", attrs
    j = _consume_elem_name(s, j + 1, end)  # first char may be ! or ?
    name = s[name_start:j]
    while True:
        j = _consume_spaces(s, j, end)
        if j >= end:
            return end, name, attrs
        if s[j] == 0x2F:
            j += 1
            if j >= end:
                return end, name, attrs
        if s[j] == 0x3E:
            return j + 1, name, attrs
        pn_start = j
        j = _consume_elem_name(s, j + 1, end)
        if j >= end:
            return end, name, attrs
        pname = s[pn_start:j]
        j = _consume_spaces(s, j, end)
        if j >= end:
            return end, name, attrs
        if s[j] == 0x3D:  # =
            j = _consume_spaces(s, j + 1, end)
            if j >= end:
                return end, name, attrs
            if s[j] in (0x22, 0x27):
                v_start = j + 1
                j = _consume_until_c(s, j + 1, end, s[j])
                if j >= end:
                    return end, name, attrs
                val = s[v_start : j - 1]
            else:
                v_start = j
                j = _consume_elem_name(s, j, end)
                if j >= end:
                    return end, name, attrs
                val = s[v_start:j]
            # attribute names are matched CASE-SENSITIVELY in the
            # reference (str_equiv_right, converthtml2text.c:417-425;
            # uppercase HTTP-EQUIV is ignored — verified vs oracle);
            # repeated attrs: last one wins
            if pname in (b"charset", b"encoding", b"http-equiv", b"content"):
                attrs[pname] = val


def detect_charset_from_html(body: bytes) -> Optional[str]:
    """Port of detect_charset_from_html (converthtml2text.c:548-580).
    NOTE the reference quirk: for META tags it reads the `encoding`
    attribute (never `charset`), or http-equiv Content-Type's
    content charset=. Reproduced verbatim."""
    i, end = 0, len(body)
    while i < end:
        i, name, attrs = _next_tag(body, i, end)
        if name == b"?xml":
            if b"encoding" in attrs:
                return attrs[b"encoding"].decode("latin-1")
        elif name.lower() == b"meta":
            if b"encoding" in attrs:
                return attrs[b"encoding"].decode("latin-1")
            he = attrs.get(b"http-equiv")
            if he is not None and he.lower() == b"content-type":
                content = attrs.get(b"content")
                if content is not None:
                    pos = content.find(b"charset=")
                    if pos != -1:
                        return content[pos + 8 :].decode("latin-1")
    return None


_CHARSET_ALIASES = {
    "unknown": "utf-8",
}


def convert_charset(body: bytes, charset: str) -> Optional[bytes]:
    """Port of conv_charset (conv.c:36-62): charset -> UTF-8 dropping
    unmappable input (iconv //IGNORE). Returns None when the charset
    itself is unknown (reference: iconv_open fails -> error)."""
    cs = _CHARSET_ALIASES.get(charset.lower(), charset)
    try:
        text = body.decode(cs, errors="ignore")
    except (LookupError, ValueError):
        return None
    return text.encode("utf-8")
