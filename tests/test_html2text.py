"""html2text span generator — semantics locked against the reference's
converthtml2text (oracle-differential-fuzzed: 5000 random docs, 0 diffs;
see functions/html2text.py docstring for the quirk list)."""

from minicrawler_spark.functions.html2text import (
    consume_entity,
    convert,
    convert_charset,
    detect_charset_from_html,
    put_code,
    to_spans,
)


def t(html):
    return convert(html.encode() if isinstance(html, str) else html)[0]


def test_block_elements_and_collapse():
    assert t("<html><body><h1>Ti&amp;tle</h1><p>Hello&nbsp;world "
             "<img src='x.png'> end</p></body></html>") == b"\nTi&tle\nHello world end"
    # whitespace priority: newline replaces trailing space/tab
    assert t("a <div>b") == b"a\nb"
    assert t("a\t<div>b") == b"a\nb"
    # tab replaces space, not newline
    assert t("<td></td>a <td>b") == b"a\tb"
    # consecutive newlines accumulate (put_char NEWLINE skip-mask is 0)
    assert t("<div><div>x") == b"\n\nx"
    # leading whitespace suppressed (initial state = newline)
    assert t("   \t hello") == b"hello"


def test_table_context():
    # block elems inside TD emit space, not newline
    assert t("<td>a<div>b</td>") == b"a b"
    assert t("<table><tr><td>a</td><td>b</td></tr></table>") == b"\n\na\tb"


def test_skip_content():
    assert t("x<script>var a=1;</script>y") == b"xy"
    assert t("x<style>.a{}</style>y") == b"xy"
    assert t("x<option>o</option>y") == b"xy"
    # tags inside script still parsed, text suppressed
    assert t("<script>a<div>b</script>c") == b"c"


def test_entities():
    assert t("&amp;&lt;&gt;&nbsp;") == b"&<> "  # nbsp -> SPACE (ref table)
    assert t("&#233;") == "é".encode()
    assert t("&#xE9;") == "é".encode()
    assert t("&unknown;") == b"&unknown;"
    assert t("&#xD800;") == b"&#xD800;"  # surrogate -> literal
    assert t("X&#xFEFF;Y") == b"XY"  # BOM eaten
    assert t("X&#xFFFE;Y") == b"XY"  # reverse BOM eaten too
    assert t("X&#65536;Y") == b"X\x00Y"  # 16-bit truncation -> NUL
    assert t("X&#x1F600;Y") == b"X\xef\x98\x80Y"  # truncates to U+F600
    assert t("&#-60;") == "ￄ".encode()  # negative -> & 0xFFFF
    assert t("&#0;") == b"&#0;"  # code 0 is falsy -> literal
    # max entity length 80
    assert t("&" + "a" * 100 + ";") == ("&" + "a" * 100 + ";").encode()


def test_comments_and_cdata():
    assert t("a<!-- comment <div> -->b") == b"ab"
    assert t("a<!-- unterminated") == b"a"
    # reference quirk: <!CDATA[ consumes the REST of the document raw;
    # each ]]> loses only its first ]
    assert t("<!CDATA[raw \t data]]><div>x") == b"raw data]><div>x"


def test_truncated_tags_at_eof():
    # id stays 0 (H1) -> newline-class emission when begin flag set
    assert t("a<td") == b"a\n"
    assert t("a</td") == b"a"
    assert t('a<td x="y') == b"a\t"  # attr-loop early return keeps TD id
    assert t("<td>a<") == b"a "  # stale begin flag from previous tag


def test_media_and_links():
    text, media, links = convert(
        b"<p>see <img src='/pic.png'> and <a href=\"/next\">link</a></p>"
    )
    assert text == b"\nsee and link"
    assert media == [(5, "/pic.png")]
    assert links == ["/next"]
    # no media/link collection inside script
    _, media2, links2 = convert(b"<script><img src='x'><a href='y'></script>")
    assert media2 == [] and links2 == []


def test_spans_invariant():
    html = b"<h1>T</h1><p>a <img src=1.png> b <img src=2.png> c</p>"
    spans, links = to_spans(html)
    text, media, _ = convert(html)
    joined = "".join(s["text"] for s in spans if s["kind"] == "text")
    assert joined == text.decode()
    media_spans = [s for s in spans if s["kind"] == "media"]
    assert [m["media_ref"] for m in media_spans] == ["1.png", "2.png"]
    assert all(
        s["offset"] == spans[i - 1]["offset"] + len(spans[i - 1]["text"].encode())
        for i, s in enumerate(spans)
        if i > 0 and spans[i - 1]["kind"] == "text"
    )


def test_charset_detection():
    d = detect_charset_from_html
    assert d(b'<?xml version="1.0" encoding="UTF-8"?><html>') == "UTF-8"
    assert d(b'<meta http-equiv="Content-Type" content="text/html; charset=windows-1250">') == "windows-1250"
    # reference reads META's *encoding* attr, never *charset* (quirk)
    assert d(b'<meta charset="utf-8">') is None
    assert d(b'<meta encoding="win-1250">') == "win-1250"
    # attribute names are case-sensitive (str_equiv_right)
    assert d(b'<META HTTP-EQUIV="CONTENT-TYPE" CONTENT="x; charset=KOI8-R">') is None
    assert d(b"<html><body>x</body></html>") is None


def test_convert_charset():
    assert convert_charset("žluťoučký".encode("iso-8859-2"), "iso-8859-2") == "žluťoučký".encode()
    assert convert_charset(b"caf\xe9", "unknown") == b"caf"  # utf-8 //IGNORE drops
    assert convert_charset(b"x", "not-a-charset") is None


def test_put_code_consume_entity():
    assert put_code(0xE9) == "é".encode()
    assert put_code(0xD800) is None
    assert consume_entity(b"&amp;", 0, 5) == (38, 5)
    assert consume_entity(b"&nope;", 0, 6) == (0, 0)
    assert consume_entity(b"&#x2603;", 0, 8) == (0x2603, 8)


def _random_doc(rng):
    """One seeded document over the walk's branches: known, unknown,
    end and self-closing tags with quoted (and escaped) attributes,
    skip elements, entities, comments, raw whitespace and high bytes."""
    tags = ["p", "div", "td", "th", "tr", "img", "a", "script", "style",
            "option", "span", "b", "h1", "table"]
    words = [b"alpha", b"x", b"caf\xc3\xa9", b"\xff\xfe", b"a;b", b"]]",
             b"--", b">", b"/", b"\x00", b"\\"]
    entities = [b"&amp;", b"&nbsp;", b"&eacute;", b"&#233;", b"&#x1F600;",
                b"&#xD800;", b"&#0;", b"&nope;", b"&", b"&#-60;", b"&amp"]
    ws = [b" ", b"  ", b"\t", b"\n", b"\r\n", b"\r"]
    out = []
    for _ in range(rng.randrange(1, 80)):
        r = rng.random()
        if r < 0.30:
            out.append(rng.choice(words) * rng.randrange(1, 4))
        elif r < 0.45:
            out.append(rng.choice(ws))
        elif r < 0.60:
            out.append(rng.choice(entities))
        elif r < 0.97:
            name = rng.choice(tags).encode()
            if rng.random() < 0.3:
                name = name.upper()
            attr = b""
            if rng.random() < 0.5:
                q = rng.choice([b'"', b"'", b""])
                attr = b" %s=%s/v\\%s%d%s" % (
                    rng.choice([b"src", b"href", b"class"]), q, q,
                    rng.randrange(100), q)
            end = rng.choice([b">", b" />", b">", b""])
            out.append(b"<" + rng.choice([b"", b"/", b" "]) + name + attr + end)
        else:
            out.append(b"<!-- c <p> -->")
    # both of these run to the end of the document
    r = rng.random()
    if r < 0.05:
        out.append(b"<!-- open" + rng.choice(words))
    elif r < 0.15:
        out.append(b"<!CDATA[\t" + rng.choice(words) + b"]]>" + rng.choice(ws))
    return b"".join(out)


def test_convert_digest_pinned():
    """convert() output over the fixture web (32 hosts x 20 pages) and
    600 seeded random documents, pinned by one sha256. The digest was
    recorded on the per-byte walk, so a faster walk must give exactly
    the same text, media offsets and links."""
    import hashlib
    import random

    from minicrawler_spark.sources.fixtures import fixture_response

    docs = []
    for h in range(32):
        for p in range(20):
            raw, _ = fixture_response("GET", "http://host%d.test/page/%d" % (h, p))
            docs.append(raw.split(b"\r\n\r\n", 1)[1])
    rng = random.Random(13)
    docs += [_random_doc(rng) for _ in range(600)]
    digest = hashlib.sha256()
    for doc in docs:
        digest.update(repr(convert(doc)).encode())
    assert digest.hexdigest()[:16] == "f3eea18cc6b694e6"
