"""Bit-exact VP8 conformance against the system libwebp (via ctypes).

VP8 decoding is fully specified integer math (RFC 6386), so two
conformant decoders must agree byte-for-byte on the YUV planes — the
RGB conversion step is implementation-defined and excluded. Three
directions are pinned:

1. MY encoder's streams decode identically in MY decoder and libwebp
   (proves the emitted bitstreams are spec-valid, not a dialect).
2. LIBWEBP-encoded streams (segments, skip flags, real mode decisions)
   decode bit-exactly in MY decoder (proves full decode coverage).
3. The third-party python.webp file decodes bit-exactly.

Skips cleanly when libwebp is absent — every decode path still has
self-contained coverage in test_vp8_codec.py.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from dcc_validate_metadata_spark.images import native, vp8

_LIB = native.libwebp()  # the decoders' own loader (decode entry points typed)
pytestmark = pytest.mark.skipif(_LIB is None, reason="libwebp not available")

if _LIB is not None:
    _LIB.WebPEncodeRGB.restype = ctypes.c_size_t
    _LIB.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]


def _lib_yuv(webp: bytes):
    w, h, _ = vp8._frame_header(_vp8_chunk(webp))
    yuv = native.webp_yuv(_LIB, webp, w, h)
    assert yuv is not None, "libwebp refused the stream"
    return yuv


def _lib_encode(img: np.ndarray, quality: float) -> bytes:
    h, w = img.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeRGB(
        np.ascontiguousarray(img).tobytes(), w, h, w * 3,
        float(quality), ctypes.byref(out),
    )
    assert n > 0
    data = bytes(np.ctypeslib.as_array(out, shape=(n,)))
    _LIB.WebPFree(ctypes.cast(out, ctypes.c_void_p))
    return data


def _vp8_chunk(webp: bytes) -> bytes:
    pos = 12
    while pos + 8 <= len(webp):
        tag = webp[pos : pos + 4]
        (sz,) = struct.unpack("<I", webp[pos + 4 : pos + 8])
        if tag == b"VP8 ":
            return webp[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    raise AssertionError("no VP8 chunk")


def _assert_yuv_exact(webp: bytes, label: str):
    mine = vp8.decode_vp8_yuv(_vp8_chunk(webp))
    ref = _lib_yuv(webp)
    for name, a, b in zip("YUV", mine, ref):
        assert np.array_equal(a, b), (
            f"{label}: {name} plane differs "
            f"(maxd {np.abs(a.astype(int) - b.astype(int)).max()})"
        )


def _smooth(shape, seed, amp=6.0):
    rng = np.random.default_rng(seed)
    cells = (shape[0] // 8 + 1, shape[1] // 8 + 1, 3)
    base = np.repeat(np.repeat(rng.uniform(10, 245, cells), 8, 0), 8, 1)
    img = base[: shape[0], : shape[1]] + rng.normal(0, amp, shape + (3,))
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def test_own_streams_decode_identically_in_libwebp():
    img = _smooth((48, 48), seed=1)
    for kw in (
        dict(mode=0), dict(mode=1), dict(mode=2), dict(mode=3),
        dict(mode="bpred"),
        dict(mode="random", uv_mode="random", seed=9),
        dict(mode="auto", filter_level=25),
        dict(mode="auto", filter_level=55, sharpness=4),
        dict(mode="auto", filter_level=35, filter_type=1),
        dict(mode="auto", partitions=8),
        dict(mode="auto", qindex=115, use_skip=True),
        dict(mode="auto", q_deltas=(5, -3, 2, -7, 4), qindex=60),
    ):
        q = kw.pop("qindex", 22)
        data = vp8.encode_webp_vp8(img, qindex=q, **kw)
        _assert_yuv_exact(data, f"own stream {kw}")


def test_every_bmode_bit_exact():
    img = _smooth((32, 32), seed=2)
    for m in range(10):
        data = vp8.encode_webp_vp8(
            img, qindex=14, filter_level=0,
            mode_fn=lambda r, c, m=m: ("bpred", [m] * 16),
        )
        _assert_yuv_exact(data, f"bmode {m}")


def test_libwebp_encoded_streams_decode_bit_exact():
    """The hard direction: libwebp's encoder uses segmentation, per-MB
    skip, and real RD mode decisions — my decoder must reproduce its
    own decoder's planes exactly at every quality."""
    for q in (5, 35, 72, 96):
        for shape in ((48, 48), (37, 61), (96, 80)):
            img = _smooth(shape, seed=q * 100 + shape[0])
            webp = _lib_encode(img, q)
            _assert_yuv_exact(webp, f"libwebp q={q} {shape}")


def test_odd_dims_bit_exact():
    for shape in ((1, 1), (15, 3), (17, 31), (33, 48)):
        img = _smooth(shape, seed=sum(shape))
        data = vp8.encode_webp_vp8(img, qindex=18, filter_level=20)
        _assert_yuv_exact(data, f"own {shape}")
        _assert_yuv_exact(_lib_encode(img, 60), f"libwebp {shape}")


_PY_WEBP = (
    "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/"
    "python.webp"
)


def test_third_party_file_bit_exact():
    import os

    if not os.path.exists(_PY_WEBP):
        pytest.skip("no system python.webp")
    data = open(_PY_WEBP, "rb").read()
    _assert_yuv_exact(data, "python.webp")


def test_rgb_output_matches_libwebp_fancy_upsampler():
    """Full-path RGB check: yuv420_to_rgb uses libwebp's 'fancy'
    (9,3,3,1)/16 bilinear chroma upsampler; only the final fixed-point
    YUV->RGB matrix differs (ours is the classic 298/409/516 BT.601
    rounding, libwebp's a 14-bit variant), worth at most 1 code."""
    L = _LIB
    L.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
    L.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    for q, shape, seed in ((30, (48, 48), 5), (75, (37, 53), 7), (90, (17, 31), 9)):
        img = _smooth(shape, seed=seed)
        data = _lib_encode(img, q)
        mine = vp8.decode_vp8(_vp8_chunk(data))
        w = ctypes.c_int()
        h = ctypes.c_int()
        p = L.WebPDecodeRGB(data, len(data), ctypes.byref(w), ctypes.byref(h))
        assert p, "libwebp refused the stream"
        ref = np.ctypeslib.as_array(p, shape=(h.value, w.value, 3)).copy()
        L.WebPFree(ctypes.cast(p, ctypes.c_void_p))
        maxd = np.abs(mine.astype(int) - ref.astype(int)).max()
        assert maxd <= 1, f"q={q} {shape}: RGB maxdiff {maxd}"
