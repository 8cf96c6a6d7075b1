"""Differential test: the native decode path against the pure-Python
decoders it sits on (images/native.py).

The contract is one-sided. Native code may decode a stream only if the
Python decoder accepts it too, and then with identical pixels (same
shape, dtype and values); whenever native code refuses a stream,
``decode_image`` must return exactly the Python result, error message
included. Checked over every JPEG/WebP row of one fixture seed plus
seeded mutants per codec (truncations, single-bit flips, marker or chunk
splices), and end to end through ``run_validation``.
"""

from __future__ import annotations

import os
import struct
import subprocess
import sys
import zipfile
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from dcc_validate_metadata_spark.images import codec, jpeg, native, vp8l
from dcc_validate_metadata_spark.sources import image_table as IT

pytestmark = pytest.mark.skipif(
    native.jpeg_scan() is None or native.libwebp() is None,
    reason="gcc or libwebp not available",
)

ROOT = Path(__file__).resolve().parents[1]
SEED, N_ROWS = 42, 1000  # the conftest fixture's rows
MUTANTS = {"jpeg": 1500, "vp8": 600, "vp8l": 900}


def _codec_of(data: bytes) -> str | None:
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return {b"VP8 ": "vp8", b"VP8L": "vp8l"}.get(data[12:16])
    return None


@pytest.fixture(scope="module")
def streams() -> dict[str, list[bytes]]:
    out: dict[str, list[bytes]] = {"jpeg": [], "vp8": [], "vp8l": []}
    for i in range(N_ROWS):
        data = IT._gen_row(i, SEED, 4).data
        name = _codec_of(data)
        if name is not None:
            out[name].append(data)
    return out


class _Recorder:
    """Counts what the native seam did during one decode: ``accepted``
    native calls and ``declined`` ones."""

    def __init__(self, monkeypatch) -> None:
        self.log: list[str] = []
        scan, yuv, rgb = jpeg._native_decode_scan, native.webp_yuv, native.webp_rgb

        def rec_scan(*a):
            try:
                consumed = scan(*a)
            except native.Declined:
                self.log.append("declined")
                raise
            self.log.append("accepted")
            return consumed

        def rec_webp(fn):
            def call(*a):
                out = fn(*a)
                self.log.append("declined" if out is None else "accepted")
                return out
            return call

        monkeypatch.setattr(jpeg, "_native_decode_scan", rec_scan)
        monkeypatch.setattr(native, "webp_yuv", rec_webp(yuv))
        monkeypatch.setattr(native, "webp_rgb", rec_webp(rgb))

    def native_accepted(self) -> bool:
        return bool(self.log) and set(self.log) == {"accepted"}


def _result(fn, data: bytes):
    try:
        pix, fmt = fn(data)
    except ValueError as exc:
        return None, str(exc)
    return pix, fmt


def _check(rec: _Recorder, data: bytes) -> str:
    """Assert the contract for one stream; return how it was decoded."""
    rec.log.clear()
    nat = _result(codec.decode_image, data)
    accepted = rec.native_accepted()
    py = _result(codec._decode_image_python, data)
    if accepted:
        assert nat[0] is not None and py[0] is not None, (
            f"native accepted a stream Python rejects: {py[1]!r}"
        )
    if nat[0] is None or py[0] is None:
        assert nat[0] is None and py[0] is None and nat[1] == py[1], (
            f"results differ: native {nat[1]!r} vs Python {py[1]!r}"
        )
        return "rejected"
    assert nat[1] == py[1]
    assert nat[0].dtype == py[0].dtype and nat[0].shape == py[0].shape
    assert np.array_equal(nat[0], py[0]), "pixels differ"
    return "native" if accepted else "python"


def test_fixture_rows_decode_natively_with_identical_pixels(streams, monkeypatch):
    rec = _Recorder(monkeypatch)
    for name, datas in streams.items():
        assert datas, name
        got = Counter(_check(rec, d) for d in datas)
        # every valid fixture row takes the native path, except the
        # planted 10-byte truncation (slot 85), which Python rejects first
        assert got["python"] == 0, (name, got)
        assert got["native"] >= len(datas) - got["rejected"] > 0, (name, got)


def _riff(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def _chunk(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)


def _splice(rng: np.random.Generator, name: str, data: bytes, other: bytes) -> bytes:
    b = bytearray(data)
    if name == "jpeg":
        # a 0xFF pair (stuffing, RSTn, EOI, SOS, DHT, fill or random)
        # written over or inserted at a random offset
        marker = int(rng.choice([0x00, 0xD0, 0xD3, 0xD7, 0xD9, 0xDA, 0xC4, 0xDD, 0xFF,
                                 int(rng.integers(0, 256))]))
        pos = int(rng.integers(2, len(b)))
        if rng.random() < 0.5:
            b[pos : pos + 2] = bytes([0xFF, marker])
        else:
            b[pos:pos] = bytes([0xFF, marker])
        return bytes(b)
    tag, body = data[12:16], data[20:]
    kind = int(rng.integers(0, 4))
    if kind == 0:  # an unknown chunk (odd or even size) before the image
        junk = rng.integers(0, 256, int(rng.integers(0, 9))).astype(np.uint8).tobytes()
        return _riff(_chunk(b"JUNK", junk) + data[12:])
    if kind == 1:  # the tail of another row's bitstream spliced in
        cut, cut2 = int(rng.integers(1, len(body))), int(rng.integers(1, len(other) - 20))
        return _riff(_chunk(tag, body[:cut] + other[20 + cut2 :]))
    if kind == 2:  # a wrong chunk size
        size = int(rng.integers(0, len(body) + 16))
        return data[:16] + struct.pack("<I", size) + data[20:]
    return _riff(data[12:] + _chunk(tag, body))  # the image chunk twice


def _mutants(name: str, datas: list[bytes], n: int):
    rng = np.random.default_rng(20261017 + len(name))
    valid = [d for d in datas if len(d) > 32]
    for _ in range(n):
        data = valid[int(rng.integers(0, len(valid)))]
        kind = int(rng.integers(0, 3))
        if kind == 0 and name != "jpeg" and rng.random() < 0.5:
            # a truncated bitstream in a container whose sizes agree
            body = data[20:]
            yield _riff(_chunk(data[12:16], body[: int(rng.integers(1, len(body)))]))
        elif kind == 0:
            yield data[: int(rng.integers(1, len(data)))]
        elif kind == 1:
            bit = int(rng.integers(0, len(data) * 8))
            b = bytearray(data)
            b[bit >> 3] ^= 1 << (bit & 7)
            yield bytes(b)
        else:
            yield _splice(rng, name, data, valid[int(rng.integers(0, len(valid)))])


@pytest.mark.parametrize("name", sorted(MUTANTS))
def test_mutants_native_only_where_python_agrees(streams, monkeypatch, name):
    rec = _Recorder(monkeypatch)
    got = Counter(_check(rec, m) for m in _mutants(name, streams[name], MUTANTS[name]))
    # all three outcomes occur, so both sides of the contract are exercised
    assert got["native"] > 0 and got["rejected"] > 0, got


# ---------------------------------------------------------------------------
# Streams on which the Python decoders used to disagree with libwebp (found
# by this differential check over richer encoder settings): the Python
# side now follows libwebp, so native and Python agree on each.
# ---------------------------------------------------------------------------


def _vp8l(w: int, h: int, fields: list[tuple[int, int]]) -> bytes:
    """A hand-written VP8L stream: header, then (value, nbits) fields."""
    wr = vp8l._LsbWriter()
    for value, nbits in [(0x2F, 8), (w - 1, 14), (h - 1, 14), (0, 1), (0, 3), *fields]:
        wr.put(value, nbits)
    return _riff(_chunk(b"VP8L", wr.flush()))


def _simple(*syms: int) -> list[tuple[int, int]]:
    """A simple prefix code with one or two 8-bit symbols."""
    return [(1, 1), (len(syms) - 1, 1), (1, 1), *((s, 8) for s in syms)]


def _const(g: int, r: int, b: int, a: int, level0: bool = True) -> list[tuple[int, int]]:
    """An entropy-coded image of one ARGB value: no color cache, no meta
    codes, five one-symbol codes (zero bits per pixel)."""
    head = [(0, 1), (0, 1)] if level0 else [(0, 1)]
    return head + _simple(g) + _simple(r) + _simple(b) + _simple(a) + _simple(0)


def _flip(data: bytes, bit: int) -> bytes:
    b = bytearray(data)
    b[bit >> 3] ^= 1 << (bit & 7)
    return bytes(b)


def _libwebp_frame(shape: tuple[int, int], seed: int, amp: float, quality: float) -> bytes:
    from test_vp8_conformance import _lib_encode, _smooth

    return _lib_encode(_smooth(shape, seed=seed, amp=amp), quality)


def _palette_stream() -> bytes:
    rng = np.random.default_rng(0)
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    return vp8l.encode_webp_lossless(pal[rng.integers(0, 8, (16, 16))], palette=True)


def _token_partition_starts_ff() -> bytes:
    data = bytearray(_libwebp_frame((24, 40), 0, 8.0, 10.0))
    first_size = (data[20] | data[21] << 8 | data[22] << 16) >> 5
    data[20 + 10 + first_size] = 0xFF
    return bytes(data)


_EDGE_STREAMS = {
    # a two-symbol simple code naming one symbol twice, and one naming a
    # symbol outside the 40-symbol distance alphabet: one-symbol codes
    "simple code repeats a symbol": lambda: _vp8l(4, 4, [
        (0, 1), (0, 1), (0, 1), *_simple(7, 7), *_simple(20), *_simple(30),
        *_simple(255), *_simple(5, 200),
    ]),
    # predictor transform (4x4 blocks) whose modes are 14: opaque black
    "predictor mode 14": lambda: _vp8l(8, 8, [
        (1, 1), (0, 2), (0, 3), *_const(14, 0, 0, 0, level0=False),
        (0, 1), *_const(10, 20, 30, 0),
    ]),
    # 20-entry palette, every pixel indexes entry 25: transparent black
    "palette index past the table": lambda: _vp8l(6, 3, [
        (1, 1), (3, 2), (19, 8), *_const(1, 2, 3, 255, level0=False),
        (0, 1), *_const(25, 0, 0, 0),
    ]),
    # the flipped bit makes a color-cache hit on a slot never filled
    "color-cache hit on an empty slot": lambda: _flip(_palette_stream(), 977),
    # single flipped bits of libwebp-encoded frames, each making a frame
    # no encoder emits:
    # segment 3's absolute quantizer index becomes -26
    "segment quantizer outside 0..127":
        lambda: _flip(_libwebp_frame((32, 48), 0, 10.0, 50.0), 286),
    # a dequantized coefficient past int16 (stored wrapped)
    "16-bit coefficient": lambda: _flip(_libwebp_frame((24, 40), 0, 8.0, 50.0), 165),
    # coefficients whose inverse transform leaves int16 (computed in
    # 16-bit lanes, as libwebp's x86 transform does)
    "16-bit transform": lambda: _flip(_libwebp_frame((24, 40), 5, 8.0, 25.0), 391),
    # a block of zero tokens up to its end (its neighbours' context is 1)
    "zero run to the block end": lambda: _flip(_libwebp_frame((24, 40), 3, 8.0, 80.0), 917),
    # a macroblock whose only residual is a DC the Y2 transform zeroes
    # (no inner-edge filtering)
    "residual flag": lambda: _flip(_libwebp_frame((24, 40), 0, 8.0, 50.0), 244),
    # segment filter levels under a frame filter level of 0 (no filter)
    "frame filter level 0": lambda: _flip(_libwebp_frame((24, 40), 0, 8.0, 50.0), 328),
    # segmentation switched on without segment data
    "segments without data": lambda: _flip(_libwebp_frame((24, 40), 0, 8.0, 80.0), 243),
    # a token partition starting with 0xFF puts the boolean decoder
    # outside its valid states, where libwebp decodes other pixels: it
    # is never asked, Python decodes the frame
    "token partition starting with 0xFF": _token_partition_starts_ff,
}


@pytest.mark.parametrize("case", sorted(_EDGE_STREAMS))
def test_python_follows_libwebp_on_edge_streams(monkeypatch, case):
    rec = _Recorder(monkeypatch)
    want = "python" if "0xFF" in case else "native"
    assert _check(rec, _EDGE_STREAMS[case]()) == want


def test_decode_image_unchanged_without_native(streams, monkeypatch):
    sample = [d for datas in streams.values() for d in datas[:20]]
    sample += [IT._gen_row(i, SEED, 4).data for i in (85, 186)]  # truncated rows
    want = [_result(codec.decode_image, d) for d in sample]
    monkeypatch.setattr(native, "jpeg_scan", lambda: None)
    monkeypatch.setattr(native, "libwebp", lambda: None)
    for d, (pix, fmt) in zip(sample, want):
        got = _result(codec.decode_image, d)
        if pix is None:
            assert got == (pix, fmt)
        else:
            assert got[1] == fmt and np.array_equal(got[0], pix)


_ZIP_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from dcc_validate_metadata_spark.images import codec, native
from dcc_validate_metadata_spark.sources.image_table import _gen_row
assert native.__file__.startswith(sys.argv[1]), native.__file__
assert native.jpeg_scan() is not None and native.libwebp() is not None
rows = [_gen_row(i, 42, 4).data for i in range(40)]
for data in rows:
    nat, py = codec.decode_image(data), codec._decode_image_python(data)
    assert nat[1] == py[1] and (nat[0] == py[0]).all()
import importlib, zipimport
importlib.invalidate_caches()  # the first call after import may re-read
reads, stock = [], zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or stock(archive)
importlib.invalidate_caches()
assert not reads, reads
print("ok")
"""


def test_native_path_from_zipped_package(tmp_path):
    """The ``--py-files`` mode: the package imported from a zip still
    compiles its shim (source read from inside the zip) and decodes
    natively, and import-cache invalidation re-reads no unchanged zip."""
    zpath = tmp_path / "engine.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in (ROOT / "dcc_validate_metadata_spark").rglob("*"):
            if f.is_file() and "__pycache__" not in f.parts:
                zf.write(f, f.relative_to(ROOT).as_posix())
    fresh_tmp = tmp_path / "tmp"  # empty shim cache: forces a compile
    fresh_tmp.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(zpath)],
        cwd=tmp_path, env={"PATH": os.environ.get("PATH", ""), "TMPDIR": str(fresh_tmp)},
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "ok"
    assert list((fresh_tmp).glob("dcc-validate-native-*/jpeg_scan-*.so"))


_NO_NATIVE_SITE = """
import sys
sys.path.insert(0, {root!r})
from dcc_validate_metadata_spark.images import native
native.jpeg_scan = lambda: None
native.libwebp = lambda: None
"""


def _native_in_workers(spark) -> bool:
    def probe(batches):
        from dcc_validate_metadata_spark.images import native as n

        for _ in batches:
            yield pd.DataFrame({"ok": [n.jpeg_scan() is not None and n.libwebp() is not None]})

    return bool(spark.range(1, numPartitions=1).mapInPandas(probe, "ok boolean").first()["ok"])


def _read_sorted(path: Path) -> pd.DataFrame:
    frame = pd.read_parquet(path)
    cols = sorted(frame.columns)
    return frame[cols].astype(str).sort_values(cols).reset_index(drop=True)


def test_run_validation_same_without_native(spark, fixture_dir, tmp_path):
    """Python workers whose native loaders report 'unavailable' (a
    sitecustomize on their PYTHONPATH; a new environment starts new
    workers) write the same violations and verdicts as native ones."""
    from dcc_validate_metadata_spark.plans.pipeline import run_validation

    site = tmp_path / "site"
    site.mkdir()
    (site / "sitecustomize.py").write_text(_NO_NATIVE_SITE.format(root=str(ROOT)))
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    gt = spark.read.parquet(str(fixture_dir / "image_caption_gt.parquet"))

    def run(out: Path) -> list[pd.DataFrame]:
        run_validation(spark, str(fixture_dir / "image_caption"), str(out),
                       ontology=ontology, gt=gt, resume=False)
        return [_read_sorted(out / part) for part in ("violations", "verdicts")]

    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    env["PYTHONPATH"] = str(site)
    try:
        assert not _native_in_workers(spark)
        without = run(tmp_path / "python")
    finally:
        if saved is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = saved
    assert _native_in_workers(spark)
    with_native = run(tmp_path / "native")
    for a, b in zip(without, with_native):
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)
