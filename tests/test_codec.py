import numpy as np
import pytest

from dcc_validate_metadata_spark.images import codec


def _img(seed=0, h=32, w=32):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_png_roundtrip_lossless():
    pix = _img(1)
    out = codec.decode_png(codec.encode_png(pix))
    assert np.array_equal(out, pix)


def test_png_rect_roundtrip():
    pix = _img(2, h=16, w=48)
    out = codec.decode_png(codec.encode_png(pix))
    assert out.shape == (16, 48, 3)
    assert np.array_equal(out, pix)


def test_png_filters_decode():
    # exercise Sub/Up/Average/Paeth decode paths with a hand-built PNG
    import struct
    import zlib

    pix = _img(3, h=5, w=4)
    h, w = pix.shape[:2]
    lines = []
    prev = np.zeros(w * 3, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = pix[y].reshape(-1).astype(np.int32)
        enc = np.zeros(w * 3, dtype=np.int32)
        for x in range(w * 3):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if ftype == 0:
                enc[x] = cur[x]
            elif ftype == 1:
                enc[x] = cur[x] - a
            elif ftype == 2:
                enc[x] = cur[x] - b
            elif ftype == 3:
                enc[x] = cur[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = cur[x] - pred
        lines.append(bytes([ftype]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(lines)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codec.decode_png(data), pix)


def test_lossy_psnr_above_40():
    pix = _img(4)
    out, fmt = codec.decode_lossy(codec.encode_lossy(pix, "jpeg"))
    assert fmt == "jpeg"
    assert codec.psnr(out, pix) >= 40.0


def test_decode_image_sniffs():
    pix = _img(5)
    assert codec.decode_image(codec.encode_png(pix))[1] == "png"
    assert codec.decode_image(codec.encode_lossy(pix, "webp"))[1] == "webp"
    with pytest.raises(ValueError):
        codec.decode_image(b"garbage-bytes")


def test_corrupt_png_raises():
    pix = _img(6)
    data = bytearray(codec.encode_png(pix))
    data[40] ^= 0xFF
    with pytest.raises(ValueError):
        codec.decode_png(bytes(data))


def test_phash_deterministic_and_locality():
    pix = _img(7)
    h1 = codec.average_phash(pix)
    assert h1 == codec.average_phash(pix.copy())
    assert -(1 << 63) <= h1 < (1 << 63)
    # lossy re-encode keeps the hash close (hamming distance small)
    out, _ = codec.decode_lossy(codec.encode_lossy(pix, "jpeg"))
    h2 = codec.average_phash(out)
    ham = bin((h1 & (2**64 - 1)) ^ (h2 & (2**64 - 1))).count("1")
    assert ham <= 8


def _zero_bomb(n_mb: int) -> bytes:
    """A zlib stream of ``n_mb`` MiB of zeros, built 1 MiB at a time so
    the test itself never holds the inflated size."""
    import zlib

    z = zlib.compressobj(9)
    mib = bytes(1 << 20)
    return b"".join(z.compress(mib) for _ in range(n_mb)) + z.flush()


def test_inflate_is_bounded_by_declared_dims():
    """A small stream declaring 4x4 pixels that inflates to 64 MiB must
    fail as a size mismatch without ever holding the inflated payload:
    PNG and FAKL inflate at most one byte past the declared size."""
    import struct
    import tracemalloc
    import zlib

    bomb = _zero_bomb(64)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    png = (
        codec.encode_png(_img(0, h=4, w=4))[:8]
        + codec._chunk(b"IHDR", ihdr)
        + codec._chunk(b"IDAT", bomb)
        + codec._chunk(b"IEND", b"")
    )
    fakl = b"FAKLbmp\x00" + struct.pack(">HH", 4, 4) + bomb
    for data, msg in (
        (png, "PNG scanline size mismatch"),
        (fakl, "lossy payload size mismatch"),
    ):
        tracemalloc.start()
        try:
            with pytest.raises(ValueError, match=msg):
                codec.decode_image(data)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, (msg, peak)  # vs 64 MiB inflated
    # a stream cut short is still a decode failure, with zlib's own text
    cut = b"FAKLbmp\x00" + struct.pack(">HH", 2, 2) + zlib.compress(bytes(12))[:-4]
    with pytest.raises(ValueError, match="incomplete or truncated stream"):
        codec.decode_image(cut)


def test_declared_dims_over_budget_fail_before_inflate():
    import struct

    from dcc_validate_metadata_spark.images.limits import MAX_DECODE_PIXELS

    side = 1 << 16
    assert side * side > MAX_DECODE_PIXELS
    ihdr = struct.pack(">IIBBBBB", side, side, 8, 2, 0, 0, 0)
    png = (
        codec.encode_png(_img(0, h=4, w=4))[:8]
        + codec._chunk(b"IHDR", ihdr)
        + codec._chunk(b"IDAT", _zero_bomb(1))
        + codec._chunk(b"IEND", b"")
    )
    fakl = b"FAKLbmp\x00" + struct.pack(">HH", side - 1, side - 1) + _zero_bomb(1)
    for data in (png, fakl):
        with pytest.raises(ValueError, match="over the decode budget"):
            codec.decode_image(data)
