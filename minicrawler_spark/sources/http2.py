"""Minimal HTTP/2 client — the reference's nghttp2 path
(/root/reference/src/crawler.c:892-1290) rebuilt for the fetcher:
pure-Python RFC 9113 framing + flow control over asyncio streams, with
HPACK from the pure-Python RFC 7541 codec (hpack_py.py). There is one
codec and one socket driver: h2 is offered on every deployment, with
no shared-library gate like the reference's `#ifdef HAVE_LIBNGHTTP2`.
libnghttp2, the codec the reference links, is the test suite's
differential oracle for hpack_py and the h2 loopback server's encoder
(tests/nghttp2_hpack.py).

Scope mirrors the reference exactly: one request stream at a time per
connection (crawler.c keeps a single stream_id per job), stream ids
1, 3, 5... on reuse, SETTINGS {MAX_CONCURRENT_STREAMS: 100} at
session start (http2_create_session, crawler.c:1152-1156), request
pseudo-headers :method/:scheme/:authority/:path followed by the same
header set as genrequest (genrequest_http2, crawler.c:1181-1248).

The response is synthesized into HTTP/1.1-style raw bytes —
`HTTP/1.1 {status}\\r\\n` + `name: value\\r\\n` lines + body — exactly
the shape the reference writes into its buffer from the h2 callbacks
(http2_on_header_callback writes `name: value` text lines,
crawler.c:957-965; :status feeds u->status, crawler.c:1329-1331), so
the engine's own protocol layer (functions/httpproto.py) stays the
single semantic authority for cookies/redirects/auth/gzip.

Not implemented, by scope: server push (disabled via
SETTINGS_ENABLE_PUSH=0), priorities, more than one concurrent stream
per connection (the engine's concurrency comes from the fetch-stage
multiplexer).
"""

from __future__ import annotations

import asyncio
import struct
import time
from typing import List, Optional, Tuple

from .hpack_py import HpackError, PyHpackDecoder, PyHpackEncoder

__all__ = ["H2Connection", "H2Error"]


class H2Error(Exception):
    pass


# ---------------------------------------------------------------------------
# RFC 9113 framing
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

F_DATA = 0x0
F_HEADERS = 0x1
F_PRIORITY = 0x2
F_RST_STREAM = 0x3
F_SETTINGS = 0x4
F_PUSH_PROMISE = 0x5
F_PING = 0x6
F_GOAWAY = 0x7
F_WINDOW_UPDATE = 0x8
F_CONTINUATION = 0x9

FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

SETTINGS_ENABLE_PUSH = 0x2
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5

DEFAULT_WINDOW = 65535
DEFAULT_MAX_FRAME = 16384


def pack_frame(ftype: int, flags: int, stream_id: int,
               payload: bytes = b"") -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes((ftype, flags))
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


class H2Connection:
    """One HTTP/2 connection over an asyncio (reader, writer) pair
    whose TLS session negotiated ALPN h2. Single in-flight stream, ids
    1,3,5,... (the reference's per-job session shape). Every socket
    operation is nonblocking on the caller's event loop, so one loop
    thread carries every h2 session of a partition (the reference's
    one-thread/many-sockets shape, crawler.c:1809-1860)."""

    def __init__(self, reader, writer):
        self.reader = reader
        self.writer = writer
        self.decoder = PyHpackDecoder()
        self.encoder = PyHpackEncoder()
        self.next_stream = 1
        self.peer_max_frame = DEFAULT_MAX_FRAME
        # send-side flow control (RFC 9113 §5.2): the connection
        # window starts at 65535 and moves only via WINDOW_UPDATE on
        # stream 0; each stream starts at the peer's
        # SETTINGS_INITIAL_WINDOW_SIZE (changes retro-adjust the
        # active stream, §6.9.2)
        self.send_window = DEFAULT_WINDOW          # connection-level
        self.initial_stream_window = DEFAULT_WINDOW
        self.stream_send_window = DEFAULT_WINDOW   # active stream
        self.closed = False
        self._buf = b""
        self._pending: list = []  # frames read while awaiting window
        self._recv_debt = 0  # conn-window credit deferred to next use
        self._did_handshake = False
        self._deadline = 0.0
        self._write_err: Optional[Exception] = None

    # -- raw io --------------------------------------------------------

    def _budget(self) -> float:
        """Remaining time for the next socket operation of the
        current request."""
        left = self._deadline - time.monotonic()
        if left <= 0:
            raise TimeoutError("h2 i/o timed out")
        return max(0.1, left)

    async def _send(self, data: bytes) -> None:
        budget = self._budget()
        if self._write_err is not None:
            return
        try:
            self.writer.write(data)
            async with asyncio.timeout(budget):
                await self.writer.drain()
        except ConnectionError as e:
            # a peer that sends GOAWAY (or its final frame) and closes
            # fails our next write, e.g. the SETTINGS ack, before we
            # have read what it sent: keep parsing the frames already
            # buffered so their verdict wins; this error is reported
            # only if the stream reaches EOF without one (_fill)
            self._write_err = e
            self.closed = True

    async def _fill(self, n: int) -> None:
        """Read until at least n bytes are buffered."""
        while len(self._buf) < n:
            async with asyncio.timeout(self._budget()):
                data = await self.reader.read(65536)
            if not data:
                if self._write_err is not None:
                    raise self._write_err
                raise H2Error("connection closed mid-frame")
            self._buf += data

    async def _recv_frame(self):
        """One whole frame: (type, flags, stream id, payload)."""
        await self._fill(9)
        ln = struct.unpack(">I", b"\x00" + self._buf[:3])[0]
        ftype, flags = self._buf[3], self._buf[4]
        stream_id = struct.unpack(">I", self._buf[5:9])[0] & 0x7FFFFFFF
        await self._fill(9 + ln)
        payload = self._buf[9:9 + ln]
        self._buf = self._buf[9 + ln:]
        return ftype, flags, stream_id, payload

    def _decode(self, block: bytes) -> List[Tuple[bytes, bytes]]:
        try:
            return self.decoder.decode(block)
        except HpackError as e:
            raise H2Error("HPACK: %s" % e)

    # -- session -------------------------------------------------------

    def _handshake_bytes(self) -> bytes:
        """Preface + SETTINGS (crawler.c:1152-1160); the server's
        SETTINGS is consumed lazily in the frame loop."""
        settings = struct.pack(
            ">HIHI",
            SETTINGS_MAX_CONCURRENT_STREAMS, 100,
            SETTINGS_ENABLE_PUSH, 0,
        )
        self._did_handshake = True
        return PREFACE + pack_frame(F_SETTINGS, 0, 0, settings)

    def _handle_control(self, ftype, flags, stream_id, payload) -> bytes:
        """Connection-level frame bookkeeping; returns the bytes to
        send in reply (SETTINGS/PING acks), if any."""
        if ftype == F_SETTINGS and not (flags & FLAG_ACK):
            for off in range(0, len(payload) - 5, 6):
                ident, value = struct.unpack(
                    ">HI", payload[off:off + 6]
                )
                if ident == SETTINGS_MAX_FRAME_SIZE:
                    self.peer_max_frame = value
                if ident == SETTINGS_INITIAL_WINDOW_SIZE:
                    # retro-adjust the active stream's window by the
                    # delta (RFC 9113 §6.9.2)
                    delta = value - self.initial_stream_window
                    self.initial_stream_window = value
                    self.stream_send_window += delta
            return pack_frame(F_SETTINGS, FLAG_ACK, 0)
        elif ftype == F_WINDOW_UPDATE and stream_id == 0:
            if len(payload) >= 4:
                inc = struct.unpack(">I", payload[:4])[0] & 0x7FFFFFFF
                self.send_window += inc
        elif ftype == F_PING and not (flags & FLAG_ACK):
            return pack_frame(F_PING, FLAG_ACK, 0, payload)
        elif ftype == F_GOAWAY:
            self.closed = True
            err = struct.unpack(">I", payload[4:8])[0] if len(payload) >= 8 else 0
            if err != 0:
                raise H2Error("GOAWAY error %d" % err)
        elif ftype == F_PUSH_PROMISE:
            # push is disabled in our SETTINGS; a server that pushes
            # anyway violates RFC 9113 §8.4
            raise H2Error("unexpected PUSH_PROMISE")
        return b""

    async def _wait_window(self, stream_id: int) -> None:
        """Until a WINDOW_UPDATE opens send capacity. Response/stray
        frames that arrive first queue for the response loop."""
        while (min(self.send_window, self.stream_send_window) <= 0):
            ftype, fflags, sid, payload = await self._recv_frame()
            if ftype == F_WINDOW_UPDATE and sid == stream_id:
                if len(payload) >= 4:
                    inc = struct.unpack(">I", payload[:4])[0] & 0x7FFFFFFF
                    self.stream_send_window += inc
            elif sid == 0:
                out = self._handle_control(ftype, fflags, sid, payload)
                if out:
                    await self._send(out)
            elif ftype == F_RST_STREAM and sid == stream_id:
                err = struct.unpack(">I", payload[:4])[0]
                raise H2Error("stream reset by server (error %d)" % err)
            else:
                self._pending.append((ftype, fflags, sid, payload))

    # -- request/response ----------------------------------------------

    async def request(self, method: str, scheme: str, authority: str,
                      path: str, headers: List[Tuple[str, str]],
                      body: Optional[bytes], deadline: float) -> bytes:
        """Run one stream to completion within `deadline`; returns the
        response synthesized as HTTP/1.1-style raw bytes."""
        self._deadline = deadline
        if not self._did_handshake:
            await self._send(self._handshake_bytes())
        if self._recv_debt:
            # pay back the connection window consumed by previous
            # responses' final DATA frames (see the END_STREAM branch)
            await self._send(
                pack_frame(
                    F_WINDOW_UPDATE, 0, 0,
                    struct.pack(">I", self._recv_debt),
                )
            )
            self._recv_debt = 0
        stream_id = self.next_stream
        self.next_stream += 2

        nva = [
            (b":method", method.encode("latin-1")),
            (b":scheme", scheme.encode("latin-1")),
            (b":authority", authority.encode("latin-1")),
            (b":path", path.encode("latin-1")),
        ] + [
            (n.lower().encode("latin-1"), v.encode("latin-1"))
            for n, v in headers
            # connection-specific headers are illegal in h2 (RFC 9113
            # §8.2.2); Host became :authority
            if n.lower() not in ("host", "connection", "keep-alive",
                                 "transfer-encoding", "upgrade")
        ]
        block = self.encoder.encode(nva)
        flags = FLAG_END_HEADERS | (0 if body else FLAG_END_STREAM)
        self.stream_send_window = self.initial_stream_window
        await self._send(pack_frame(F_HEADERS, flags, stream_id, block))
        if body:
            # DATA respects BOTH send windows (RFC 9113 §5.2): when
            # exhausted, block on the peer's WINDOW_UPDATE (response
            # frames arriving meanwhile queue for the loop below)
            off = 0
            while off < len(body):
                avail = min(self.send_window, self.stream_send_window)
                if avail <= 0:
                    await self._wait_window(stream_id)
                    continue
                n = min(avail, self.peer_max_frame, len(body) - off)
                chunk = body[off:off + n]
                off += n
                await self._send(
                    pack_frame(
                        F_DATA,
                        FLAG_END_STREAM if off == len(body) else 0,
                        stream_id, chunk,
                    )
                )
                self.send_window -= n
                self.stream_send_window -= n

        status: Optional[int] = None
        resp_headers: List[Tuple[bytes, bytes]] = []
        body_parts: List[bytes] = []
        header_frag = b""
        in_headers = False
        # END_STREAM lives on the initiating HEADERS frame (RFC 9113
        # §6.2), so it must be remembered across CONTINUATIONs
        headers_end_stream = False
        while True:
            if self._pending:
                ftype, fflags, sid, payload = self._pending.pop(0)
            else:
                ftype, fflags, sid, payload = await self._recv_frame()
            if in_headers:
                if ftype != F_CONTINUATION or sid != stream_id:
                    raise H2Error("expected CONTINUATION")
                header_frag += payload
            elif sid == 0:
                out = self._handle_control(ftype, fflags, sid, payload)
                if out:
                    await self._send(out)
                continue
            elif sid != stream_id:
                # stray frame for an old/pushed stream: reset it
                if ftype not in (F_PRIORITY, F_WINDOW_UPDATE, F_RST_STREAM):
                    await self._send(
                        pack_frame(
                            F_RST_STREAM, 0, sid,
                            struct.pack(">I", 0x5),  # STREAM_CLOSED
                        )
                    )
                continue
            elif ftype == F_HEADERS:
                frag = payload
                if fflags & FLAG_PADDED:
                    pad = frag[0]
                    frag = frag[1:len(frag) - pad]
                if fflags & FLAG_PRIORITY:
                    frag = frag[5:]
                header_frag = frag
                in_headers = True
                headers_end_stream = bool(fflags & FLAG_END_STREAM)
            elif ftype == F_DATA:
                frag = payload
                if fflags & FLAG_PADDED:
                    pad = frag[0]
                    frag = frag[1:len(frag) - pad]
                body_parts.append(frag)
                if fflags & FLAG_END_STREAM:
                    # do NOT replenish now: the stream is closed (a
                    # stream WINDOW_UPDATE would be meaningless) and a
                    # peer that closes right after its final frame
                    # would turn our write into a reset; the
                    # connection-level credit is deferred to the next
                    # request on this session (_recv_debt)
                    self._recv_debt += len(payload)
                    break
                if len(payload):
                    # replenish both flow-control windows (RFC 9113
                    # §5.2.2); the reference delegates this to nghttp2
                    inc = struct.pack(">I", len(payload))
                    await self._send(
                        pack_frame(F_WINDOW_UPDATE, 0, 0, inc)
                        + pack_frame(F_WINDOW_UPDATE, 0, stream_id, inc)
                    )
                continue
            elif ftype == F_RST_STREAM:
                err = struct.unpack(">I", payload[:4])[0]
                raise H2Error("stream reset by server (error %d)" % err)
            elif ftype == F_WINDOW_UPDATE:
                if len(payload) >= 4:
                    inc = struct.unpack(">I", payload[:4])[0] & 0x7FFFFFFF
                    self.stream_send_window += inc
                continue
            else:
                continue  # PRIORITY on our stream: ignored
            if not (fflags & FLAG_END_HEADERS):
                continue
            # a complete header block (HEADERS [+ CONTINUATION...])
            in_headers = False
            decoded = self._decode(header_frag)
            if status is None:
                status, resp_headers = self._split_status(decoded)
                # 1xx interim responses precede the real one
                if status is not None and 100 <= status < 200:
                    status = None
                    resp_headers = []
            # else trailers: decoded (keeps the HPACK table in step),
            # dropped
            if headers_end_stream:
                break

        if status is None:
            raise H2Error("stream ended without response headers")
        head = b"HTTP/1.1 %d\r\n" % status
        for n, v in resp_headers:
            head += n + b": " + v + b"\r\n"
        return head + b"\r\n" + b"".join(body_parts)

    @staticmethod
    def _split_status(decoded):
        status = None
        headers = []
        for n, v in decoded:
            if n == b":status":
                status = int(v or b"0")
            elif n.startswith(b":"):
                continue
            else:
                headers.append((n, v))
        return status, headers

    def close(self) -> None:
        try:
            self.writer.close()
        except Exception:
            pass
        self.closed = True
