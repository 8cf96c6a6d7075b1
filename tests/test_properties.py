"""Property-based tests (hypothesis) — a rigor dimension the reference
lacks entirely (SURVEY.md §5: no property-based testing anywhere).
Pure-Python targets only (codec, resize, hashes), so these run without a
JVM and explore the input space instead of fixed goldens."""

from __future__ import annotations

import struct
import zlib

import numpy as np
from hypothesis import example, given, settings, strategies as st

from dcc_validate_metadata_spark.images import codec
from dcc_validate_metadata_spark.images.transforms import block_resize

dims = st.integers(min_value=8, max_value=48)


@st.composite
def images(draw):
    h, w = draw(dims), draw(dims)
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@given(images())
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_is_lossless(pix):
    out, fmt = codec.decode_image(codec.encode_png(pix))
    assert fmt == "png"
    assert np.array_equal(out, pix)


@given(images(), st.sampled_from(["jpeg", "webp"]))
@settings(max_examples=40, deadline=None)
def test_lossy_roundtrip_bounded_error_and_psnr(pix, fmt):
    out, got_fmt = codec.decode_image(codec.encode_lossy(pix, fmt))
    assert got_fmt == fmt
    # quantization error is bounded by the step
    assert int(np.abs(out.astype(int) - pix.astype(int)).max()) <= codec._LOSSY_Q
    assert codec.psnr(out, pix) >= 40.0


@given(images())
@settings(max_examples=30, deadline=None)
def test_phash_within_quantization_noise_is_close(pix):
    """The perceptual hash must be robust to the lossy codec's error:
    hamming distance between phash(original) and phash(quantized) stays
    far below the 64-bit midpoint."""
    out, _ = codec.decode_image(codec.encode_lossy(pix, "jpeg"))
    a, b = codec.average_phash(pix), codec.average_phash(out)
    hamming = bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert hamming <= 16


@given(images(), st.integers(min_value=1, max_value=8), st.integers(min_value=1, max_value=8))
@settings(max_examples=40, deadline=None)
def test_block_resize_shape_and_range(pix, ow, oh):
    out = block_resize(pix, ow, oh)
    assert out.shape == (oh, ow, 3)
    assert out.dtype == np.uint8
    # area-mean/nearest output stays within the input's value envelope
    assert out.min() >= pix.min() and out.max() <= pix.max()


# a FAKL stream cut inside its dims header (fixture slot 85's bmp rows)
_FAKL_CUT = codec.encode_lossy(np.zeros((8, 8, 3), np.uint8), "bmp")[:10]
# a FAKL stream whose deflate payload ends early
_FAKL_SHORT_DEFLATE = b"FAKLbmp\x00" + struct.pack(">HH", 2, 2) + zlib.compress(bytes(12))[:-4]
# a PNG whose last chunk CRC is cut short
_PNG_CRC_CUT = codec.encode_png(np.zeros((4, 4, 3), np.uint8))[:-2]


@given(st.binary(min_size=0, max_size=200))
@example(_FAKL_CUT)
@example(_FAKL_SHORT_DEFLATE)
@example(_PNG_CRC_CUT)
@settings(max_examples=60, deadline=None)
def test_decode_never_crashes_on_garbage(data):
    """Arbitrary bytes must decode or raise ValueError (mapped to a
    violation row, its text the message); any other exception type fails
    the test."""
    try:
        codec.decode_image(data)
    except ValueError:
        pass


@given(st.text(min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_minhash_double_hash_fits_int64(s):
    """h1 + 31*h2 with 48-bit halves must stay exact in signed int64 —
    the arithmetic the Spark and DuckDB minhash twins both rely on."""
    import hashlib

    md5 = hashlib.md5(s.encode()).hexdigest()
    h1, h2 = int(md5[:12], 16), int(md5[12:24], 16)
    top = h1 + 31 * h2
    assert top < 2**63


# ---------------------------------------------------------------- xlsx codec

@given(
    st.lists(
        st.lists(
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Cs", "Cc"),  # no surrogates/control
                    ),
                    max_size=40,
                ),
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None)
def test_xlsx_roundtrip_property(tmp_path_factory, grid):
    """write_workbook → read_workbook preserves every cell, including
    unicode, quotes, angle brackets, ampersands and None cells."""
    from dcc_validate_metadata_spark.sources.xlsx import (
        read_workbook,
        write_workbook,
    )

    path = tmp_path_factory.mktemp("xlsxprop") / "wb.xlsx"
    write_workbook(path, {"s1": grid})
    got = read_workbook(path)["s1"]
    assert len(got) == len(grid)
    for want_row, got_row in zip(grid, got):
        # rows may be stored ragged: absent trailing cells read as missing
        padded = list(got_row) + [None] * (len(want_row) - len(got_row))
        for want, have in zip(want_row, padded):
            assert have == want


# ----------------------------------------------------------------- wav codec

@given(
    st.integers(min_value=1, max_value=4000),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_property(n, seed, sr):
    import numpy as np

    from dcc_validate_metadata_spark.multimodal.av import (
        decode_pcm_wav,
        encode_pcm_wav,
    )

    rng = np.random.default_rng(seed)
    sig = rng.uniform(-1.0, 1.0, size=n)
    back, got_sr, nch = decode_pcm_wav(encode_pcm_wav(sig, sr))
    assert got_sr == sr and nch == 1 and len(back) == n
    assert np.abs(back - sig).max() <= 1.0 / 32767 + 1e-6  # quantization bound


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=0,
        max_size=120,
    )
)
@settings(max_examples=100, deadline=None)
def test_union_find_matches_bfs_reference(edges):
    """The gated local path's union-find agrees with a plain BFS
    reachability reference on arbitrary graphs (self-loops, duplicate
    edges, disconnected nodes) — component id = min reachable node."""
    from collections import defaultdict, deque

    from dcc_validate_metadata_spark.operators.components import (
        _local_components,
    )

    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    got = dict(_local_components(sorted(sym)))

    adj = defaultdict(set)
    nodes = set()
    for a, b in sym:
        adj[a].add(b)
        nodes.update((a, b))
    expect = {}
    seen: set = set()
    for start in nodes:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            u = q.popleft()
            comp.append(u)
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    q.append(v)
        m = min(comp)
        for u in comp:
            expect[u] = m
    assert got == expect
