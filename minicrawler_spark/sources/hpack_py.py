"""Pure-Python HPACK (RFC 7541) — the one HPACK codec of the h2 client
(sources/http2.py).

The reference only speaks h2 when built against libnghttp2
(configure.ac HAVE_LIBNGHTTP2; crawler.c:203-224 swaps handlers). A
crawler deployment shouldn't lose h2 because one .so is missing, so
this module implements the decode side in full — static + dynamic
table, all four literal forms, table-size updates, Huffman strings —
and a stateless encode side (static-table indices, literals without
indexing, Huffman strings when shorter; it never writes the peer's
dynamic table, so it cannot desynchronize it, RFC 7541 §6.2.2).

Data tables are the RFC's own: the static table is Appendix A
verbatim; HUFFMAN holds Appendix B's (code, bit-length) per symbol
0..256 (256 = EOS). Correctness is pinned two ways in
tests/test_http2.py: the RFC Appendix C vectors byte-for-byte, and a
differential round trip against libnghttp2, the codec the reference
links (its binding is tests/nghttp2_hpack.py): its deflater's
dynamic-table + Huffman blocks decode here, and this encoder's blocks
decode there. The h2 loopback server speaks libnghttp2's HPACK too.
"""

from __future__ import annotations

from typing import List, Tuple


class HpackError(Exception):
    pass


# RFC 7541 Appendix A — the 61-entry static table.
STATIC_TABLE: List[Tuple[bytes, bytes]] = [
    (b":authority", b""),
    (b":method", b"GET"),
    (b":method", b"POST"),
    (b":path", b"/"),
    (b":path", b"/index.html"),
    (b":scheme", b"http"),
    (b":scheme", b"https"),
    (b":status", b"200"),
    (b":status", b"204"),
    (b":status", b"206"),
    (b":status", b"304"),
    (b":status", b"400"),
    (b":status", b"404"),
    (b":status", b"500"),
    (b"accept-charset", b""),
    (b"accept-encoding", b"gzip, deflate"),
    (b"accept-language", b""),
    (b"accept-ranges", b""),
    (b"accept", b""),
    (b"access-control-allow-origin", b""),
    (b"age", b""),
    (b"allow", b""),
    (b"authorization", b""),
    (b"cache-control", b""),
    (b"content-disposition", b""),
    (b"content-encoding", b""),
    (b"content-language", b""),
    (b"content-length", b""),
    (b"content-location", b""),
    (b"content-range", b""),
    (b"content-type", b""),
    (b"cookie", b""),
    (b"date", b""),
    (b"etag", b""),
    (b"expect", b""),
    (b"expires", b""),
    (b"from", b""),
    (b"host", b""),
    (b"if-match", b""),
    (b"if-modified-since", b""),
    (b"if-none-match", b""),
    (b"if-range", b""),
    (b"if-unmodified-since", b""),
    (b"last-modified", b""),
    (b"link", b""),
    (b"location", b""),
    (b"max-forwards", b""),
    (b"proxy-authenticate", b""),
    (b"proxy-authorization", b""),
    (b"range", b""),
    (b"referer", b""),
    (b"refresh", b""),
    (b"retry-after", b""),
    (b"server", b""),
    (b"set-cookie", b""),
    (b"strict-transport-security", b""),
    (b"transfer-encoding", b""),
    (b"user-agent", b""),
    (b"vary", b""),
    (b"via", b""),
    (b"www-authenticate", b""),
]

# the first static index of each field and of each name
_STATIC_FIELD = {f: i for i, f in reversed(list(enumerate(STATIC_TABLE, 1)))}
_STATIC_NAME = {n: i for i, (n, _) in reversed(list(enumerate(STATIC_TABLE, 1)))}

# RFC 7541 Appendix B — (code, bit length) for symbols 0..255 + EOS.
HUFFMAN: Tuple[Tuple[int, int], ...] = (
    (0x1ff8, 13), (0x7fffd8, 23), (0xfffffe2, 28), (0xfffffe3, 28), (0xfffffe4, 28), (0xfffffe5, 28), (0xfffffe6, 28), (0xfffffe7, 28),
    (0xfffffe8, 28), (0xffffea, 24), (0x3ffffffc, 30), (0xfffffe9, 28), (0xfffffea, 28), (0x3ffffffd, 30), (0xfffffeb, 28), (0xfffffec, 28),
    (0xfffffed, 28), (0xfffffee, 28), (0xfffffef, 28), (0xffffff0, 28), (0xffffff1, 28), (0xffffff2, 28), (0x3ffffffe, 30), (0xffffff3, 28),
    (0xffffff4, 28), (0xffffff5, 28), (0xffffff6, 28), (0xffffff7, 28), (0xffffff8, 28), (0xffffff9, 28), (0xffffffa, 28), (0xffffffb, 28),
    (0x14, 6), (0x3f8, 10), (0x3f9, 10), (0xffa, 12), (0x1ff9, 13), (0x15, 6), (0xf8, 8), (0x7fa, 11),
    (0x3fa, 10), (0x3fb, 10), (0xf9, 8), (0x7fb, 11), (0xfa, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6), (0x1a, 6), (0x1b, 6), (0x1c, 6), (0x1d, 6),
    (0x1e, 6), (0x1f, 6), (0x5c, 7), (0xfb, 8), (0x7ffc, 15), (0x20, 6), (0xffb, 12), (0x3fc, 10),
    (0x1ffa, 13), (0x21, 6), (0x5d, 7), (0x5e, 7), (0x5f, 7), (0x60, 7), (0x61, 7), (0x62, 7),
    (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7), (0x67, 7), (0x68, 7), (0x69, 7), (0x6a, 7),
    (0x6b, 7), (0x6c, 7), (0x6d, 7), (0x6e, 7), (0x6f, 7), (0x70, 7), (0x71, 7), (0x72, 7),
    (0xfc, 8), (0x73, 7), (0xfd, 8), (0x1ffb, 13), (0x7fff0, 19), (0x1ffc, 13), (0x3ffc, 14), (0x22, 6),
    (0x7ffd, 15), (0x3, 5), (0x23, 6), (0x4, 5), (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6),
    (0x27, 6), (0x6, 5), (0x74, 7), (0x75, 7), (0x28, 6), (0x29, 6), (0x2a, 6), (0x7, 5),
    (0x2b, 6), (0x76, 7), (0x2c, 6), (0x8, 5), (0x9, 5), (0x2d, 6), (0x77, 7), (0x78, 7),
    (0x79, 7), (0x7a, 7), (0x7b, 7), (0x7ffe, 15), (0x7fc, 11), (0x3ffd, 14), (0x1ffd, 13), (0xffffffc, 28),
    (0xfffe6, 20), (0x3fffd2, 22), (0xfffe7, 20), (0xfffe8, 20), (0x3fffd3, 22), (0x3fffd4, 22), (0x3fffd5, 22), (0x7fffd9, 23),
    (0x3fffd6, 22), (0x7fffda, 23), (0x7fffdb, 23), (0x7fffdc, 23), (0x7fffdd, 23), (0x7fffde, 23), (0xffffeb, 24), (0x7fffdf, 23),
    (0xffffec, 24), (0xffffed, 24), (0x3fffd7, 22), (0x7fffe0, 23), (0xffffee, 24), (0x7fffe1, 23), (0x7fffe2, 23), (0x7fffe3, 23),
    (0x7fffe4, 23), (0x1fffdc, 21), (0x3fffd8, 22), (0x7fffe5, 23), (0x3fffd9, 22), (0x7fffe6, 23), (0x7fffe7, 23), (0xffffef, 24),
    (0x3fffda, 22), (0x1fffdd, 21), (0xfffe9, 20), (0x3fffdb, 22), (0x3fffdc, 22), (0x7fffe8, 23), (0x7fffe9, 23), (0x1fffde, 21),
    (0x7fffea, 23), (0x3fffdd, 22), (0x3fffde, 22), (0xfffff0, 24), (0x1fffdf, 21), (0x3fffdf, 22), (0x7fffeb, 23), (0x7fffec, 23),
    (0x1fffe0, 21), (0x1fffe1, 21), (0x3fffe0, 22), (0x1fffe2, 21), (0x7fffed, 23), (0x3fffe1, 22), (0x7fffee, 23), (0x7fffef, 23),
    (0xfffea, 20), (0x3fffe2, 22), (0x3fffe3, 22), (0x3fffe4, 22), (0x7ffff0, 23), (0x3fffe5, 22), (0x3fffe6, 22), (0x7ffff1, 23),
    (0x3ffffe0, 26), (0x3ffffe1, 26), (0xfffeb, 20), (0x7fff1, 19), (0x3fffe7, 22), (0x7ffff2, 23), (0x3fffe8, 22), (0x1ffffec, 25),
    (0x3ffffe2, 26), (0x3ffffe3, 26), (0x3ffffe4, 26), (0x7ffffde, 27), (0x7ffffdf, 27), (0x3ffffe5, 26), (0xfffff1, 24), (0x1ffffed, 25),
    (0x7fff2, 19), (0x1fffe3, 21), (0x3ffffe6, 26), (0x7ffffe0, 27), (0x7ffffe1, 27), (0x3ffffe7, 26), (0x7ffffe2, 27), (0xfffff2, 24),
    (0x1fffe4, 21), (0x1fffe5, 21), (0x3ffffe8, 26), (0x3ffffe9, 26), (0xffffffd, 28), (0x7ffffe3, 27), (0x7ffffe4, 27), (0x7ffffe5, 27),
    (0xfffec, 20), (0xfffff3, 24), (0xfffed, 20), (0x1fffe6, 21), (0x3fffe9, 22), (0x1fffe7, 21), (0x1fffe8, 21), (0x7ffff3, 23),
    (0x3fffea, 22), (0x3fffeb, 22), (0x1ffffee, 25), (0x1ffffef, 25), (0xfffff4, 24), (0xfffff5, 24), (0x3ffffea, 26), (0x7ffff4, 23),
    (0x3ffffeb, 26), (0x7ffffe6, 27), (0x3ffffec, 26), (0x3ffffed, 26), (0x7ffffe7, 27), (0x7ffffe8, 27), (0x7ffffe9, 27), (0x7ffffea, 27),
    (0x7ffffeb, 27), (0xffffffe, 28), (0x7ffffec, 27), (0x7ffffed, 27), (0x7ffffee, 27), (0x7ffffef, 27), (0x7fffff0, 27), (0x3ffffee, 26),
    (0x3fffffff, 30),)


def _build_huffman_trie():
    """Decode trie: nodes are [left, right] lists; leaves are the
    symbol int. Built once at import."""
    root = [None, None]
    for sym, (code, nbits) in enumerate(HUFFMAN):
        node = root
        for i in range(nbits - 1, -1, -1):
            bit = (code >> i) & 1
            if i == 0:
                node[bit] = sym
            else:
                nxt = node[bit]
                if nxt is None:
                    nxt = [None, None]
                    node[bit] = nxt
                node = nxt
    return root


_HUFF_ROOT = _build_huffman_trie()
_EOS = 256


def huffman_decode(data: bytes) -> bytes:
    """Bit-walk the trie; the tail padding must be the EOS prefix
    (all 1s, fewer than 8 bits — RFC 7541 §5.2)."""
    out = bytearray()
    node = _HUFF_ROOT
    pad_bits = 0
    for byte in data:
        for i in range(7, -1, -1):
            bit = (byte >> i) & 1
            nxt = node[bit]
            if nxt is None:
                raise HpackError("invalid Huffman code")
            if isinstance(nxt, int):
                if nxt == _EOS:
                    raise HpackError("EOS in Huffman string")
                out.append(nxt)
                node = _HUFF_ROOT
                pad_bits = 0
            else:
                node = nxt
                pad_bits += 1
            if isinstance(nxt, list) and bit == 0:
                # a 0 bit can never be part of EOS padding
                pad_bits = -10**9
    if node is not _HUFF_ROOT and (pad_bits < 0 or pad_bits > 7):
        raise HpackError("bad Huffman padding")
    return bytes(out)


def huffman_encode(data: bytes) -> bytes:
    acc = 0
    nacc = 0
    out = bytearray()
    for byte in data:
        code, nbits = HUFFMAN[byte]
        acc = (acc << nbits) | code
        nacc += nbits
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
    if nacc:
        out.append(((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF)
    return bytes(out)


def encode_int(value: int, prefix_bits: int, first_byte: int = 0) -> bytes:
    """RFC 7541 §5.1 integer encoding onto a first byte whose high
    (8 - prefix_bits) bits carry the pattern."""
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes((first_byte | value,))
    out = bytearray((first_byte | limit,))
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def decode_int(block: bytes, pos: int, prefix_bits: int):
    """-> (value, new_pos)."""
    if pos >= len(block):
        raise HpackError("truncated integer")
    limit = (1 << prefix_bits) - 1
    value = block[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        if pos >= len(block):
            raise HpackError("truncated integer")
        b = block[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return value, pos
        if shift > 62:
            raise HpackError("integer overflow")


_ENTRY_OVERHEAD = 32  # RFC 7541 §4.1


class PyHpackDecoder:
    """Streaming HPACK inflater with a dynamic table (one per
    connection direction)."""

    def __init__(self, max_table: int = 4096):
        self.max_table = max_table
        self._settings_cap = max_table
        self._dyn: List[Tuple[bytes, bytes]] = []
        self._dyn_size = 0

    # -- dynamic table ---------------------------------------------------

    def _evict(self) -> None:
        while self._dyn_size > self.max_table and self._dyn:
            n, v = self._dyn.pop()
            self._dyn_size -= len(n) + len(v) + _ENTRY_OVERHEAD

    def _insert(self, name: bytes, value: bytes) -> None:
        self._dyn.insert(0, (name, value))
        self._dyn_size += len(name) + len(value) + _ENTRY_OVERHEAD
        self._evict()

    def _lookup(self, index: int) -> Tuple[bytes, bytes]:
        if index <= 0:
            raise HpackError("index 0")
        if index <= len(STATIC_TABLE):
            return STATIC_TABLE[index - 1]
        d = index - len(STATIC_TABLE) - 1
        if d >= len(self._dyn):
            raise HpackError("index %d beyond tables" % index)
        return self._dyn[d]

    # -- strings -----------------------------------------------------------

    def _string(self, block: bytes, pos: int):
        if pos >= len(block):
            raise HpackError("truncated string")
        huff = bool(block[pos] & 0x80)
        length, pos = decode_int(block, pos, 7)
        if pos + length > len(block):
            raise HpackError("truncated string body")
        raw = block[pos:pos + length]
        pos += length
        return (huffman_decode(raw) if huff else raw), pos

    # -- header block ------------------------------------------------------

    def decode(self, block: bytes) -> List[Tuple[bytes, bytes]]:
        out: List[Tuple[bytes, bytes]] = []
        pos = 0
        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # §6.1 indexed
                index, pos = decode_int(block, pos, 7)
                out.append(self._lookup(index))
            elif b & 0xC0 == 0x40:  # §6.2.1 literal + incremental index
                index, pos = decode_int(block, pos, 6)
                name = (
                    self._lookup(index)[0] if index
                    else None
                )
                if name is None:
                    name, pos = self._string(block, pos)
                value, pos = self._string(block, pos)
                self._insert(name, value)
                out.append((name, value))
            elif b & 0xE0 == 0x20:  # §6.3 table size update
                size, pos = decode_int(block, pos, 5)
                if size > self._settings_cap:
                    raise HpackError("table size above cap")
                self.max_table = size
                self._evict()
            else:  # §6.2.2 / §6.2.3 literal, not indexed
                index, pos = decode_int(block, pos, 4)
                name = self._lookup(index)[0] if index else None
                if name is None:
                    name, pos = self._string(block, pos)
                value, pos = self._string(block, pos)
                out.append((name, value))
        return out


class PyHpackEncoder:
    """Stateless deflater: a field that is in the static table is sent
    as its index (§6.1), any other field as a literal WITHOUT indexing
    (§6.2.2), under its static name index when there is one; each
    string literal is Huffman-coded when that is shorter (§5.2). It
    never touches the dynamic table, so it can never desynchronize a
    peer's, and any conforming decoder accepts it. A 7-field GET takes
    57 bytes (142 as raw literals) where libnghttp2 sends 54 on a
    session's first request; libnghttp2 also indexes, so it sends 19
    on a reused session."""

    def encode(self, headers: List[Tuple[bytes, bytes]]) -> bytes:
        out = bytearray()
        for name, value in headers:
            index = _STATIC_FIELD.get((name, value))
            if index:
                out += encode_int(index, 7, 0x80)
                continue
            index = _STATIC_NAME.get(name, 0)
            out += encode_int(index, 4)  # literal w/o indexing
            if not index:
                out += _encode_string(name)
            out += _encode_string(value)
        return bytes(out)


def _encode_string(data: bytes) -> bytes:
    huff = huffman_encode(data)
    if len(huff) < len(data):
        return encode_int(len(huff), 7, 0x80) + huff
    return encode_int(len(data), 7) + data
