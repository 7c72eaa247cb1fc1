"""ctypes bindings to the system brotli / zstd shared libraries.

No Python codec packages exist in this environment, but Debian ships
libbrotlidec/libbrotlienc/libzstd as system libraries; binding them via
ctypes gives full-speed interop with reference-produced containers
(versatiles_core compresses directories with brotli q10/lgwin19 and tiles
with gzip/brotli/zstd). These are FAST PATHS only — the engine remains
fully functional without them:

- read: functions/brotli_dec.py is a complete pure-python RFC 7932
  decoder (validated bit-exact against libbrotli across a q0-11 corpus);
- write: functions/stored_codecs.py emits spec-valid stored-mode streams.

Executors load the library independently per worker process (module-level
CDLL, no Spark/JVM involvement), so these bindings work identically on
driver and executors at any cluster size.
"""

from __future__ import annotations

import ctypes


def _load(*names: str):
    for n in names:
        try:
            return ctypes.CDLL(n)
        except OSError:
            continue
    return None


_brotli_dec = _load("libbrotlidec.so.1", "libbrotlidec.so")
_brotli_enc = _load("libbrotlienc.so.1", "libbrotlienc.so")
_zstd = _load("libzstd.so.1", "libzstd.so")

HAS_BROTLI_DEC = _brotli_dec is not None
HAS_BROTLI_ENC = _brotli_enc is not None
HAS_ZSTD = _zstd is not None

if HAS_BROTLI_DEC:
    _brotli_dec.BrotliDecoderDecompress.restype = ctypes.c_int
    _brotli_dec.BrotliDecoderDecompress.argtypes = [
        ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
    ]
if HAS_BROTLI_ENC:
    _brotli_enc.BrotliEncoderCompress.restype = ctypes.c_int
    _brotli_enc.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
    ]
if HAS_ZSTD:
    _zstd.ZSTD_compressBound.restype = ctypes.c_size_t
    _zstd.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
    _zstd.ZSTD_compress.restype = ctypes.c_size_t
    _zstd.ZSTD_compress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int
    ]
    _zstd.ZSTD_decompress.restype = ctypes.c_size_t
    _zstd.ZSTD_decompress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t
    ]
    _zstd.ZSTD_isError.restype = ctypes.c_uint
    _zstd.ZSTD_isError.argtypes = [ctypes.c_size_t]
    _zstd.ZSTD_getFrameContentSize.restype = ctypes.c_ulonglong
    _zstd.ZSTD_getFrameContentSize.argtypes = [ctypes.c_char_p, ctypes.c_size_t]
    _zstd.ZSTD_getErrorCode.restype = ctypes.c_int
    _zstd.ZSTD_getErrorCode.argtypes = [ctypes.c_size_t]

_ZSTD_CONTENTSIZE_UNKNOWN = 0xFFFFFFFFFFFFFFFF
_ZSTD_CONTENTSIZE_ERROR = 0xFFFFFFFFFFFFFFFE
_ZSTD_ERROR_DST_SIZE_TOO_SMALL = 70  # zstd_errors.h ZSTD_error_dstSize_tooSmall


def brotli_decompress_native(data: bytes, max_out: int = 1 << 31) -> bytes:
    """One-shot decode with geometric buffer growth (output size is not in
    the brotli header). The one-shot call reports a corrupt stream and a
    full buffer alike; only a full buffer is worth a larger retry."""
    cap = max(4 * len(data) + (1 << 16), 1 << 16)
    while cap <= max_out:
        buf = ctypes.create_string_buffer(cap)
        n = ctypes.c_size_t(cap)
        if _brotli_dec.BrotliDecoderDecompress(len(data), data, ctypes.byref(n), buf) == 1:
            return buf.raw[: n.value]
        if n.value < cap:  # stopped before the buffer was full: a corrupt stream
            break
        cap *= 4
    raise ValueError("brotli stream failed to decode (or exceeds max_out)")


def brotli_compress_native(data: bytes, quality: int = 10, lgwin: int = 19) -> bytes:
    """Defaults mirror the reference's settings (compression/methods/
    brotli.rs:24-26: quality 10, lgwin 19)."""
    bound = len(data) + len(data) // 2 + 1024
    buf = ctypes.create_string_buffer(bound)
    n = ctypes.c_size_t(bound)
    if _brotli_enc.BrotliEncoderCompress(quality, lgwin, 0, len(data), data, ctypes.byref(n), buf) != 1:
        raise ValueError("brotli encode failed")
    return buf.raw[: n.value]


def zstd_decompress_native(data: bytes, max_out: int = 1 << 31) -> bytes:
    """One-shot decode. The buffer starts at the frame's declared content
    size (rejected above ``max_out`` before anything is allocated) or, when
    the header declares none, at a few times the input, and grows only
    while zstd reports a too-small destination; any other error is a
    corrupt frame and fails at once."""
    size = _zstd.ZSTD_getFrameContentSize(data, len(data))
    if size == _ZSTD_CONTENTSIZE_ERROR:
        raise ValueError("zstd frame header is corrupt")
    if size == _ZSTD_CONTENTSIZE_UNKNOWN:
        cap = 4 * len(data) + (1 << 16)
    elif size > max_out:
        raise ValueError(f"zstd frame declares {size} bytes, more than max_out")
    else:
        cap = max(int(size), 1)
    while cap <= max_out:
        buf = ctypes.create_string_buffer(cap)
        r = _zstd.ZSTD_decompress(buf, cap, data, len(data))
        if not _zstd.ZSTD_isError(r):
            return buf.raw[:r]
        if _zstd.ZSTD_getErrorCode(r) != _ZSTD_ERROR_DST_SIZE_TOO_SMALL:
            raise ValueError("zstd stream is corrupt")
        cap *= 4
    raise ValueError("zstd stream exceeds max_out")


def zstd_compress_native(data: bytes, level: int = 19) -> bytes:
    bound = _zstd.ZSTD_compressBound(len(data))
    buf = ctypes.create_string_buffer(bound)
    r = _zstd.ZSTD_compress(buf, bound, data, len(data), level)
    if _zstd.ZSTD_isError(r):
        raise ValueError("zstd encode failed")
    return buf.raw[:r]
