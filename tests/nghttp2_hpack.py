"""libnghttp2's HPACK codec through ctypes (the public nghttp2_hd_*
API) — the codec the reference links. The production client speaks
HPACK through the pure-Python sources/hpack_py.py only; this binding
is the tests' differential oracle for it, and the h2 loopback server's
codec, so the end-to-end tests decode libnghttp2's indexed, Huffman
and dynamic-table blocks through the production decoder.

`_load_nghttp2()` returns False when the shared library is not
loadable; tests that need the oracle skip then.
"""

import ctypes
import ctypes.util
from typing import List, Tuple

from minicrawler_spark.sources.http2 import H2Error


class _NV(ctypes.Structure):
    _fields_ = [
        ("name", ctypes.POINTER(ctypes.c_uint8)),
        ("value", ctypes.POINTER(ctypes.c_uint8)),
        ("namelen", ctypes.c_size_t),
        ("valuelen", ctypes.c_size_t),
        ("flags", ctypes.c_uint8),
    ]


_NGHTTP2 = None
_HD_INFLATE_FINAL = 0x01  # nghttp2.h: NGHTTP2_HD_INFLATE_FINAL
_HD_INFLATE_EMIT = 0x02   # nghttp2.h: NGHTTP2_HD_INFLATE_EMIT


def _load_nghttp2():
    global _NGHTTP2
    if _NGHTTP2 is not None:
        return _NGHTTP2
    name = ctypes.util.find_library("nghttp2")
    candidates = [name] if name else []
    candidates += ["libnghttp2.so.14", "libnghttp2.so"]
    for cand in candidates:
        if not cand:
            continue
        try:
            lib = ctypes.CDLL(cand)
        except OSError:
            continue
        try:
            lib.nghttp2_hd_inflate_new.argtypes = [
                ctypes.POINTER(ctypes.c_void_p)
            ]
            lib.nghttp2_hd_inflate_new.restype = ctypes.c_int
            lib.nghttp2_hd_inflate_hd2.argtypes = [
                ctypes.c_void_p, ctypes.POINTER(_NV),
                ctypes.POINTER(ctypes.c_int),
                ctypes.POINTER(ctypes.c_uint8), ctypes.c_size_t,
                ctypes.c_int,
            ]
            lib.nghttp2_hd_inflate_hd2.restype = ctypes.c_ssize_t
            lib.nghttp2_hd_inflate_end_headers.argtypes = [ctypes.c_void_p]
            lib.nghttp2_hd_inflate_del.argtypes = [ctypes.c_void_p]
            lib.nghttp2_hd_deflate_new.argtypes = [
                ctypes.POINTER(ctypes.c_void_p), ctypes.c_size_t
            ]
            lib.nghttp2_hd_deflate_new.restype = ctypes.c_int
            lib.nghttp2_hd_deflate_bound.argtypes = [
                ctypes.c_void_p, ctypes.POINTER(_NV), ctypes.c_size_t
            ]
            lib.nghttp2_hd_deflate_bound.restype = ctypes.c_size_t
            lib.nghttp2_hd_deflate_hd.argtypes = [
                ctypes.c_void_p, ctypes.POINTER(ctypes.c_uint8),
                ctypes.c_size_t, ctypes.POINTER(_NV), ctypes.c_size_t,
            ]
            lib.nghttp2_hd_deflate_hd.restype = ctypes.c_ssize_t
            lib.nghttp2_hd_deflate_del.argtypes = [ctypes.c_void_p]
        except AttributeError:
            continue
        _NGHTTP2 = lib
        return lib
    _NGHTTP2 = False
    return False


class _NgHpackDecoder:
    """Streaming inflater over one connection's header blocks."""

    def __init__(self):
        lib = _load_nghttp2()
        if not lib:
            raise H2Error("libnghttp2 not available")
        self._lib = lib
        self._p = ctypes.c_void_p()
        rv = lib.nghttp2_hd_inflate_new(ctypes.byref(self._p))
        if rv != 0:
            raise H2Error("nghttp2_hd_inflate_new: %d" % rv)

    def decode(self, block: bytes) -> List[Tuple[bytes, bytes]]:
        lib = self._lib
        buf = (ctypes.c_uint8 * len(block)).from_buffer_copy(block)
        pos, total = 0, len(block)
        out: List[Tuple[bytes, bytes]] = []
        nv = _NV()
        flags = ctypes.c_int(0)
        while True:
            rv = lib.nghttp2_hd_inflate_hd2(
                self._p, ctypes.byref(nv), ctypes.byref(flags),
                ctypes.cast(
                    ctypes.byref(buf, pos), ctypes.POINTER(ctypes.c_uint8)
                ),
                total - pos, 1,
            )
            if rv < 0:
                raise H2Error("HPACK inflate error %d" % rv)
            pos += rv
            if flags.value & _HD_INFLATE_EMIT:
                out.append(
                    (
                        ctypes.string_at(nv.name, nv.namelen),
                        ctypes.string_at(nv.value, nv.valuelen),
                    )
                )
            if flags.value & _HD_INFLATE_FINAL:
                lib.nghttp2_hd_inflate_end_headers(self._p)
                break
            if rv == 0 and not (flags.value & _HD_INFLATE_EMIT):
                raise H2Error("HPACK inflate stalled")
        return out

    def __del__(self):
        try:
            if getattr(self, "_p", None):
                self._lib.nghttp2_hd_inflate_del(self._p)
        except Exception:
            pass


class _NgHpackEncoder:
    """Header-block deflater (same C codec; used for requests and by
    the test server)."""

    def __init__(self, max_table: int = 4096):
        lib = _load_nghttp2()
        if not lib:
            raise H2Error("libnghttp2 not available")
        self._lib = lib
        self._p = ctypes.c_void_p()
        rv = lib.nghttp2_hd_deflate_new(ctypes.byref(self._p), max_table)
        if rv != 0:
            raise H2Error("nghttp2_hd_deflate_new: %d" % rv)

    def encode(self, headers: List[Tuple[bytes, bytes]]) -> bytes:
        lib = self._lib
        nva = (_NV * len(headers))()
        keep = []  # hold buffers alive through the call
        for i, (n, v) in enumerate(headers):
            nb = ctypes.create_string_buffer(n, len(n))
            vb = ctypes.create_string_buffer(v, len(v))
            keep.append((nb, vb))
            nva[i].name = ctypes.cast(nb, ctypes.POINTER(ctypes.c_uint8))
            nva[i].value = ctypes.cast(vb, ctypes.POINTER(ctypes.c_uint8))
            nva[i].namelen = len(n)
            nva[i].valuelen = len(v)
            nva[i].flags = 0
        bound = lib.nghttp2_hd_deflate_bound(self._p, nva, len(headers))
        out = (ctypes.c_uint8 * bound)()
        rv = lib.nghttp2_hd_deflate_hd(self._p, out, bound, nva, len(headers))
        if rv < 0:
            raise H2Error("HPACK deflate error %d" % rv)
        return bytes(bytearray(out[:rv]))

    def __del__(self):
        try:
            if getattr(self, "_p", None):
                self._lib.nghttp2_hd_deflate_del(self._p)
        except Exception:
            pass
