"""Native decode under the pure-Python codecs.

Two hot loops run in native code when the host allows it:

* JPEG baseline scans: ``jpeg_scan.c`` (shipped inside this package and
  read with ``pkgutil``, so it also works from a ``--py-files`` zip) is a
  C port of ``jpeg._decode_scan``. It is compiled with the system ``gcc``
  on first use into ``<tempfile.gettempdir()>/dcc-validate-native-<uid>/``
  (created mode 0700; refused when it is not a private directory of this
  user), named by a hash of the source, written to a temporary name and
  renamed into place so concurrent workers never load a half-written
  library, and loaded with ctypes.
* WebP: the system libwebp through ctypes — ``WebPDecodeYUV`` for lossy
  ``VP8 `` frames (the YUV planes are bit-exact with ``vp8.decode_vp8_yuv``)
  and ``WebPDecodeRGBA`` for lossless VP8L payloads.

Both loaders are lazy and cached per process, so nothing is compiled or
dlopen'd before the first image is decoded. Where ``gcc`` or libwebp is
missing, or the cache directory is unusable, they return None and decoding
stays on the Python path.

The native code only replaces the entropy/bitstream decode. Every gate
(JPEG marker walk, RIFF walk, header dims, ``limits.check_pixel_budget``)
runs in Python before any native call, the pixels come out of the same
numpy tails (JPEG dequant/IDCT/colour, ``vp8.yuv420_to_rgb``), and any
native failure returns None so the caller re-decodes the row in Python:
every decode-failure message is the Python decoder's own.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import hashlib
import os
import pkgutil
import platform
import shutil
import stat
import subprocess
import tempfile

import numpy as np

_CFLAGS = ("-O2", "-shared", "-fPIC")


class Declined(Exception):
    """Native code refused a stream; the caller re-decodes it in Python.
    Deliberately not a ValueError, so no decode-error handler catches it."""


def _private_cache_dir() -> str | None:
    path = os.path.join(tempfile.gettempdir(), f"dcc-validate-native-{os.getuid()}")
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    st = os.lstat(path)
    if (
        not stat.S_ISDIR(st.st_mode)
        or st.st_uid != os.getuid()
        or stat.S_IMODE(st.st_mode) != 0o700
    ):
        return None
    return path


@functools.cache
def jpeg_scan():
    """The compiled ``jpeg_decode_scan`` function, or None."""
    try:
        src = pkgutil.get_data(__package__, "jpeg_scan.c")
        cache = _private_cache_dir()
        gcc = shutil.which("gcc")
        if src is None or cache is None:
            return None
        key = hashlib.sha256(
            src + " ".join(_CFLAGS + (platform.machine(),)).encode()
        ).hexdigest()[:16]
        so = os.path.join(cache, f"jpeg_scan-{key}.so")
        if not os.path.exists(so):
            if gcc is None:
                return None
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache)
            os.close(fd)
            try:
                subprocess.run(
                    [gcc, *_CFLAGS, "-x", "c", "-", "-o", tmp],
                    input=src, capture_output=True, check=True, timeout=120,
                )
                os.replace(tmp, so)  # atomic: racing workers see all or nothing
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        fn = ctypes.CDLL(so).jpeg_decode_scan
    except (OSError, subprocess.SubprocessError):
        return None
    fn.restype = ctypes.c_int64
    fn.argtypes = [ctypes.c_char_p, ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p]
    return fn


# vp8._idct4x4_16bit reproduces libwebp's x86 transform on coefficients
# no encoder emits; other builds may wrap those differently, so there
# lossy frames stay in Python
_VP8_MATCHES_PYTHON = platform.machine().lower() in ("x86_64", "amd64")

_U8P = ctypes.POINTER(ctypes.c_uint8)
_INTP = ctypes.POINTER(ctypes.c_int)


@functools.cache
def libwebp():
    """The system libwebp (decode entry points typed), or None."""
    for name in ("libwebp.so.7", "libwebp.so", ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
            lib.WebPDecodeYUV.restype = _U8P
            lib.WebPDecodeYUV.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t, _INTP, _INTP,
                ctypes.POINTER(_U8P), ctypes.POINTER(_U8P), _INTP, _INTP,
            ]
            lib.WebPDecodeRGBA.restype = _U8P
            lib.WebPDecodeRGBA.argtypes = [ctypes.c_char_p, ctypes.c_size_t, _INTP, _INTP]
            lib.WebPFree.restype = None
            lib.WebPFree.argtypes = [ctypes.c_void_p]
        except (OSError, AttributeError):
            continue
        return lib
    return None


def _plane(ptr, rows: int, stride: int, cols: int) -> np.ndarray:
    buf = ctypes.string_at(ptr, rows * stride)
    return np.frombuffer(buf, dtype=np.uint8).reshape(rows, stride)[:, :cols]


def webp_yuv(lib, frame: bytes, width: int, height: int):
    """Cropped (Y, U, V) planes of a raw VP8 key frame, or None when
    libwebp refuses it or reports other dimensions than the header."""
    if not _VP8_MATCHES_PYTHON:
        return None
    w, h, stride, uv_stride = ctypes.c_int(), ctypes.c_int(), ctypes.c_int(), ctypes.c_int()
    u, v = _U8P(), _U8P()
    y = lib.WebPDecodeYUV(
        frame, len(frame), ctypes.byref(w), ctypes.byref(h),
        ctypes.byref(u), ctypes.byref(v), ctypes.byref(stride), ctypes.byref(uv_stride),
    )
    if not y:
        return None
    try:
        if (w.value, h.value) != (width, height):
            return None
        ch, cw = (height + 1) >> 1, (width + 1) >> 1
        return (
            _plane(y, height, stride.value, width),
            _plane(u, ch, uv_stride.value, cw),
            _plane(v, ch, uv_stride.value, cw),
        )
    finally:
        lib.WebPFree(y)


def webp_rgb(lib, payload: bytes, width: int, height: int) -> np.ndarray | None:
    """(h, w, 3) uint8 RGB of a VP8L payload with alpha dropped, or None
    when libwebp refuses it or reports other dimensions than the header."""
    w, h = ctypes.c_int(), ctypes.c_int()
    rgba = lib.WebPDecodeRGBA(payload, len(payload), ctypes.byref(w), ctypes.byref(h))
    if not rgba:
        return None
    try:
        if (w.value, h.value) != (width, height):
            return None
        buf = ctypes.string_at(rgba, height * width * 4)
        return np.frombuffer(buf, dtype=np.uint8).reshape(height, width, 4)[..., :3].copy()
    finally:
        lib.WebPFree(rgba)
