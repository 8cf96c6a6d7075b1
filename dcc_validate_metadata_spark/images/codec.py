"""Image codecs for the validation invariant.

The north-rule invariant (BASELINE.json ``input_hint``) is: decoded pixels
must be allclose to ground truth (PSNR >= 40 dB for lossy formats) and the
caption must match exactly. The reference's analogous external check is the
``hubCheck`` binary subprocess (``trackhubs/tasks.py``); here the decoder is
in-process and Arrow-batched.

Every codec is implemented in this package from the public specs, with no
image library (no PIL / cv2 / imageio):

* ``png`` — a minimal but spec-correct PNG encoder/decoder (8-bit RGB,
  all five scanline filters on decode, filter 0 on encode) built on
  stdlib ``zlib``/``struct`` + numpy. Lossless round-trip.
* ``jpeg`` — baseline and progressive JFIF (T.81) in ``images/jpeg.py``
  (DCT + Annex-K quantization + Huffman entropy coding, readable by any
  standard decoder). Lossy: at the default quality (98) quantization
  bounds the error well above the 40 dB PSNR invariant threshold for
  in-gamut content.
* ``webp`` — the RIFF/WEBP container with either a lossless VP8L chunk
  (RFC 9649, ``images/vp8l.py``: canonical prefix codes, LZ77 + color
  cache, the full transform set) or a lossy VP8 key frame (RFC 6386,
  ``images/vp8.py``, bit-exact in YUV against libwebp).
* The quantize-then-deflate ``FAKL`` container remains ONLY as the
  carrier for planted unknown-fmt rows (``bmp``) and as the
  lossy-error model in property tests; no real fmt maps to it anymore.

Native fast path (``images/native.py``): ``decode_image`` entropy-decodes
baseline JPEG scans in a small C port of the Python scan loop (compiled
with the system ``gcc`` on first use, cached under
``tempfile.gettempdir()/dcc-validate-native-<uid>/``) and hands WebP
bitstreams to the system libwebp. The pixels are identical to the Python
decoders' by construction: the same coefficients feed the same numpy JPEG
tail, VP8 YUV is bit-exact and VP8L is lossless. All header gates run in
Python first, and whatever the native code refuses is re-decoded in
Python, so decode-failure messages are unchanged. Without ``gcc`` or
libwebp every row stays on the Python path. ``_decode_image_python`` is
the pure-Python decode, kept for the independent golden.

All functions are numpy-vectorized per image; the Spark layer batches them
via Arrow (``images/invariants.py``) — no per-row Python in the plan.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import jpeg as _jpeg
from . import native as _native
from . import vp8 as _vp8
from . import vp8l as _vp8l

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SIG = b"\xff\xd8\xff"
_FAKE_MAGIC = b"FAKL"
_LOSSY_Q = 6  # quantization step; MSE ~ q^2/12 = 3 → PSNR ~ 43 dB
JPEG_QUALITY = 98  # fixture-content PSNR ~44 dB >> 40 dB threshold

LOSSY_FORMATS = frozenset({"jpeg", "webp"})


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a PNG (color type 2, filter 0)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # one filter byte (0 = None) per scanline
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int = 3) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4). raw is (h, 1 + w*bpp) uint8."""
    stride = w * bpp
    ftypes = raw[:, 0]
    if not ftypes.any():  # all filter 0 (None): one slice, no per-line loop
        return raw[:, 1:].reshape(h, w, bpp)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, bpp)


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGB PNG to (h, w, 3) uint8. Raises ValueError on
    malformed input (the validation pipeline maps that to a violation row)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, w = 8, None
    h = bitdepth = colortype = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError("PNG chunk CRC mismatch")
        if tag == b"IHDR":
            w, h, bitdepth, colortype = struct.unpack(">IIBB", payload[:10])
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if bitdepth != 8 or colortype != 2:
        raise ValueError(f"unsupported PNG (bitdepth={bitdepth}, colortype={colortype})")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    expected = h * (1 + w * 3)
    if raw.size != expected:
        raise ValueError("PNG scanline size mismatch")
    return _unfilter(raw.reshape(h, 1 + w * 3), h, w)


def encode_lossy(pixels: np.ndarray, fmt: str) -> bytes:
    """DETERMINISTIC LOSSY STAND-IN (see module docstring): quantize to
    step q then deflate. Not real JPEG/WebP entropy coding."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    q = np.clip(
        (pixels.astype(np.int32) + _LOSSY_Q // 2) // _LOSSY_Q * _LOSSY_Q, 0, 255
    ).astype(np.uint8)
    fmt_b = fmt.encode("ascii")[:4].ljust(4, b"\x00")
    return (
        _FAKE_MAGIC
        + fmt_b
        + struct.pack(">HH", w, h)
        + zlib.compress(q.tobytes(), 6)
    )


def decode_lossy(data: bytes) -> tuple[np.ndarray, str]:
    if data[:4] != _FAKE_MAGIC:
        raise ValueError("not a FAKL lossy container")
    fmt = data[4:8].rstrip(b"\x00").decode("ascii")
    w, h = struct.unpack(">HH", data[8:12])
    raw = np.frombuffer(zlib.decompress(data[12:]), dtype=np.uint8)
    if raw.size != h * w * 3:
        raise ValueError("lossy payload size mismatch")
    return raw.reshape(h, w, 3), fmt


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        return _jpeg.encode_jpeg(pixels, quality=JPEG_QUALITY)
    if fmt == "webp":
        # real lossless VP8L; no predictor transform (the per-pixel
        # Python inverse would dominate fixture decode cost)
        return _vp8l.encode_webp_lossless(pixels)
    if fmt == "webp_lossy":
        # real VP8 intra key frame; qindex 0 keeps smooth photo-like
        # content above the 40 dB invariant, filter 0 keeps fixture
        # decode cheap (the deblocker is conformance-tested separately)
        return _vp8.encode_webp_vp8(
            pixels, qindex=0, mode="auto", filter_level=0
        )
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """Sniff-and-decode. Returns (pixels, container_fmt). JPEG and WebP
    use the native fast path where it loads (module docstring)."""
    return _decode_image(data, native=True)


def _decode_image_python(data: bytes) -> tuple[np.ndarray, str]:
    """``decode_image`` on the pure-Python decoders only: the oracle that
    the native path is checked against (golden violations, tests)."""
    return _decode_image(data, native=False)


def _decode_image(data: bytes, native: bool) -> tuple[np.ndarray, str]:
    if data[:8] == _PNG_SIG:
        return decode_png(data), "png"
    if data[:3] == _JPEG_SIG:
        scan_fn = _native.jpeg_scan() if native else None
        return _jpeg._decode_jpeg(data, scan_fn), "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        webp = _native.libwebp() if native else None
        return _vp8l._decode_webp(data, webp), "webp"
    if data[:4] == _FAKE_MAGIC:
        return decode_lossy(data)
    raise ValueError("unrecognized image container")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    if a.shape != b.shape:
        return 0.0
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def average_phash(pixels: np.ndarray, hash_size: int = 8) -> int:
    """Real average-hash: grayscale → block-average to 8x8 → threshold by
    mean → 64-bit int (signed, to fit Spark LongType)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    bh, bw = h // hash_size, w // hash_size
    if bh == 0 or bw == 0:
        raise ValueError("image smaller than hash grid")
    small = (
        gray[: bh * hash_size, : bw * hash_size]
        .reshape(hash_size, bh, hash_size, bw)
        .mean(axis=(1, 3))
    )
    bits = (small > small.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v
