"""From-scratch RFC 8878 zstd decoder (kernel/zstd.py).

Same evidence pattern as the brotli codec:

* **conformance vs the reference implementation** (system libzstd
  via ctypes, tests only — skipped loudly if absent): streams
  produced at compression levels 1..22, with/without content size,
  checksums, explicit window logs, plus multi-frame concatenation
  and skippable frames, must decode here byte-identically;
* **store-mode encoder** output must decode under the real library
  AND here;
* **robustness**: random garbage and every truncation of a valid
  frame raise ZstdError only; the max_output zip-bomb guard trips;
  dictionary frames raise with the feature named.
"""

import ctypes
import random

import pytest

from credit_ocr_system_spark.kernel.zstd import (
    ZstdError,
    zstd_compress_store,
    zstd_decompress,
)


def _lib():
    try:
        lib = ctypes.CDLL("libzstd.so.1")
    except OSError:
        return None
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_CCtx_setParameter.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_compress2.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t]
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    return lib


_Z = _lib()
needs_lib = pytest.mark.skipif(
    _Z is None, reason="system libzstd absent — conformance oracle "
                       "unavailable")

# zstd.h parameter enums
_P_LEVEL, _P_WLOG, _P_CSIZE, _P_CKSUM = 100, 101, 200, 201


def c_compress(data, level=3, wlog=0, csize=1, cksum=0):
    cctx = _Z.ZSTD_createCCtx()
    _Z.ZSTD_CCtx_setParameter(cctx, _P_LEVEL, level)
    if wlog:
        _Z.ZSTD_CCtx_setParameter(cctx, _P_WLOG, wlog)
    _Z.ZSTD_CCtx_setParameter(cctx, _P_CSIZE, csize)
    _Z.ZSTD_CCtx_setParameter(cctx, _P_CKSUM, cksum)
    bound = _Z.ZSTD_compressBound(len(data))
    out = ctypes.create_string_buffer(bound)
    n = _Z.ZSTD_compress2(cctx, out, bound, data, len(data))
    assert not _Z.ZSTD_isError(n)
    _Z.ZSTD_freeCCtx(cctx)
    return out.raw[:n]


def c_decompress(data, cap=1 << 26):
    out = ctypes.create_string_buffer(cap)
    n = _Z.ZSTD_decompress(out, cap, data, len(data))
    assert not _Z.ZSTD_isError(n)
    return out.raw[:n]


def _payloads():
    rng = random.Random(7)
    return [
        b"",
        b"a",
        b"hello zstd world " * 300,
        bytes(rng.getrandbits(8) for _ in range(4096)),
        (b"abcdef" * 50000),
        " ".join(rng.choice(["the", "of", "download", "info",
                             "page", "straße"])
                 for _ in range(20000)).encode(),
        bytes([170]) * 70000,
    ]


@needs_lib
@pytest.mark.parametrize("level", [1, 2, 3, 5, 9, 12, 19, 22])
def test_decodes_reference_encoder_levels(level):
    for p in _payloads():
        assert zstd_decompress(c_compress(p, level),
                               max_output=1 << 27) == p


@needs_lib
@pytest.mark.parametrize("wlog,csize,cksum",
                         [(0, 0, 0), (10, 1, 0), (18, 0, 1),
                          (0, 1, 1)])
def test_frame_header_variants(wlog, csize, cksum):
    for p in _payloads():
        c = c_compress(p, 9, wlog, csize, cksum)
        assert zstd_decompress(c, max_output=1 << 27) == p


@needs_lib
def test_multi_frame_and_skippable():
    c = (c_compress(b"first frame ", 3)
         + bytes.fromhex("502a4d18") + (4).to_bytes(4, "little")
         + b"SKIP" + c_compress(b"second", 19))
    assert zstd_decompress(c) == b"first frame second"


@needs_lib
def test_store_mode_accepted_by_reference_decoder():
    for p in _payloads():
        assert c_decompress(zstd_compress_store(p),
                            cap=1 << 27) == p


def test_store_mode_self_roundtrip():
    for p in _payloads():
        assert zstd_decompress(zstd_compress_store(p),
                               max_output=1 << 27) == p


def test_garbage_raises_zstd_error_only():
    rng = random.Random(99)
    for _ in range(300):
        blob = bytes(rng.getrandbits(8)
                     for _ in range(rng.randrange(1, 120)))
        try:
            zstd_decompress(blob, max_output=1 << 20)
        except ZstdError:
            pass


@needs_lib
def test_truncations_raise():
    stream = c_compress(b"hello zstd " * 500, 9)
    for cut in range(len(stream)):
        try:
            zstd_decompress(stream[:cut])
        except ZstdError:
            continue
        pytest.fail(f"truncation at {cut} decoded silently")


def test_max_output_guard():
    stream = zstd_compress_store(b"\x00" * (1 << 20))
    with pytest.raises(ZstdError):
        zstd_decompress(stream, max_output=1 << 10)


def test_dictionary_frames_named():
    # frame header declaring a 1-byte nonzero Dictionary_ID
    frame = (0xFD2FB528).to_bytes(4, "little") + bytes([0x21, 7])
    with pytest.raises(ZstdError, match="[Dd]ictionary"):
        zstd_decompress(frame + b"\x01\x00\x00")


# ---------------------------------------------- hostile-input guards
#
# One crafted stream per guard. Each must fail with ZstdError only, so
# a hostile ``Content-Encoding: zstd`` body becomes an empty payload
# in the WARC envelope instead of killing the task.

_MAGIC = (0xFD2FB528).to_bytes(4, "little")


def _frame(block: bytes, content_size: int, btype: int = 2) -> bytes:
    """Single-segment frame (1-byte FCS) holding one last block."""
    bh = 1 | (btype << 1) | (len(block) << 3)
    return (_MAGIC + bytes([0x20, content_size])
            + bh.to_bytes(3, "little") + block)


_RAW8 = _frame(b"abcdefgh", 8, btype=0)

# Compressed literals (1 stream, 1 byte) whose Huffman weights are
# FSE-coded: accuracy 5, symbols 0 and 200 at 16/32 each; the backward
# stream decodes weight 200, which would size a 2**200-entry table.
_HUGE_WEIGHT = _frame(
    bytes.fromhex("1280051410e3" + "ff" * 16 + "f90380"), 1)
# One sequence, literals-length table in RLE mode, block ends before
# the RLE byte.
_RLE_TRUNCATED = _frame(b"\x00\x01\x40", 0)
# Second frame's only sequence (all-RLE tables, offset code 3 with
# extra bits 0 → offset 5) reaches back into the first frame.
_CROSS_FRAME_MATCH = _RAW8 + _frame(b"\x00\x01\x54\x00\x03\x00\x08", 3)
# Skippable frame declaring 100 bytes but carrying 4.
_SKIPPABLE_OVERRUN = (_RAW8 + bytes.fromhex("502a4d18")
                      + (100).to_bytes(4, "little") + b"SKIP")


@pytest.mark.parametrize("blob,msg", [
    (_HUGE_WEIGHT, "huffman weight"),
    (_RLE_TRUNCATED, "RLE sequence table"),
    (_CROSS_FRAME_MATCH, "frame start"),
    (_SKIPPABLE_OVERRUN, "skippable"),
], ids=["huffman-weight", "rle-table", "cross-frame-offset",
        "skippable-overrun"])
def test_hostile_stream_guards(blob, msg):
    from credit_ocr_system_spark.sources.warc import _content_decode

    with pytest.raises(ZstdError, match=msg):
        zstd_decompress(blob)
    assert _content_decode(blob, b"zstd") == b""
