"""Real WebP-lossless (VP8L) encoder/decoder — pure stdlib + numpy.

Implements the public WebP Lossless Bitstream Specification (RFC 9649)
from scratch: the RIFF/WEBP container, LSB-first bit packing, canonical
prefix codes with DEFLATE code-bit ordering (simple and normal code
transmission, code-length codes with 16/17/18 repeats), LZ77 backward
references with the 120-entry 2-D distance neighbor map, color cache,
meta prefix codes (entropy image), and all four transforms — predictor
(14 modes), color (per-tile signed multipliers), subtract-green, and
color indexing (with pixel bundling for palettes of at most 16 colors).

The encoder exists to exercise the decoder honestly: every feature can
be toggled and randomized (per-tile predictor modes, per-tile color
multipliers, cache sizes, palette sizes spanning the bundling widths,
split prefix-code groups), so property tests cover decode paths that a
single fixed encoder configuration would never reach. Compression
competitiveness is a non-goal; conformance of the emitted bitstream is.

Spec-convention anchors chosen where RFC 9649 defers to implementations:

* Prefix codes are canonical with DEFLATE bit order (RFC 1951 §3.1.1:
  codes of the same length are consecutive in symbol order; code bits
  are read most-significant-first while the byte stream is LSB-first).
* The top-right predictor sample on the rightmost column wraps to the
  FIRST pixel of the current row (the contiguous-row-buffer semantics
  of the reference implementation).
* The inverse color transform adds the red delta to red first, then
  computes the red-to-blue delta from the UPDATED red.
* The color cache is updated for every emitted pixel (literals and
  backward-reference copies alike).

Lossy WebP (``VP8 `` chunks, RFC 6386 intra key frames) is handled by
the sibling from-scratch codec in images/vp8.py; ``decode_webp``
routes the chunk there, so both WebP flavors decode for real.

Reference analogue: the external ``hubCheck`` validation binary
(``trackhubs/tasks.py``), stripped from the snapshot.
"""

from __future__ import annotations

import struct

import numpy as np

from . import native as _native
from .limits import check_pixel_budget

# ---------------------------------------------------------------------------
# Bit I/O — VP8L packs LSB-first within bytes
# ---------------------------------------------------------------------------


class _LsbWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        """Append ``length`` bits of ``value``, LSB first."""
        if length == 0:
            return
        self.acc |= (value & ((1 << length) - 1)) << self.nbits
        self.nbits += length
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def put_code(self, code: int, length: int) -> None:
        """Append a prefix CODE: its bits enter the stream starting from
        the code's most significant bit (DEFLATE convention), which in
        an LSB-first stream means emitting the bit-reversed code."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.put(rev, length)

    def flush(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


class _LsbReader:
    __slots__ = ("data", "pos", "nbits", "words")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8
        # Precomputed little-endian 32-bit windows per byte offset: one
        # list index replaces an int.from_bytes slice per symbol in the
        # hot loop (this mirrors the JPEG decoder's word-peek trick).
        # Window width 32 >= 7 offset bits + 15 max code bits; 4 pad
        # bytes keep end-of-stream peeks in range.
        arr = np.frombuffer(data + b"\x00\x00\x00\x00", dtype=np.uint8).astype(
            np.uint64
        )
        self.words = (
            arr[:-3]
            | (arr[1:-2] << np.uint64(8))
            | (arr[2:-1] << np.uint64(16))
            | (arr[3:] << np.uint64(24))
        ).tolist()

    def get(self, length: int) -> int:
        """Read ``length`` bits LSB-first (length <= 25)."""
        if length == 0:
            return 0
        p = self.pos
        if p + length > self.nbits:
            raise ValueError("bitstream truncated")
        self.pos = p + length
        return (self.words[p >> 3] >> (p & 7)) & ((1 << length) - 1)


# ---------------------------------------------------------------------------
# Canonical prefix codes (DEFLATE conventions, RFC 1951 §3.2.2)
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length); canonical assignment per RFC 1951:
    shorter codes first, same-length codes in ascending symbol order.
    RFC 1951's worked example (lengths [2,1,3,3] for A..D -> codes
    10, 0, 110, 111) pins the convention in the tests."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out: dict[int, tuple[int, int]] = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _PrefixDecoder:
    """LUT decoder over the next ``max_len`` stream bits. The stream is
    LSB-first and code bits are MSB-of-code-first, so the LUT index is
    the bit-reversed code padded with every possible suffix."""

    __slots__ = ("lut", "max_len", "single")

    def __init__(self, lengths: list[int]) -> None:
        codes = _canonical_codes(lengths)
        if not codes:
            raise ValueError("empty prefix code")
        # complete-code check (single-symbol codes are the allowed
        # exception, transmitted as simple codes with zero-bit reads)
        kraft = sum(1 / (1 << ln) for _, ln in codes.values())
        if len(codes) > 1 and abs(kraft - 1.0) > 1e-12:
            raise ValueError("invalid (incomplete or oversubscribed) prefix code")
        if len(codes) == 1:
            self.single = next(iter(codes))
            self.max_len = 0
            self.lut: list[int] = []
            return
        self.single = -1
        max_len = max(ln for _, ln in codes.values())
        self.max_len = max_len
        lut = [0] * (1 << max_len)
        for sym, (code, ln) in codes.items():
            rev = 0
            c = code
            for _ in range(ln):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            entry = (ln << 16) | sym
            step = 1 << ln
            for idx in range(rev, 1 << max_len, step):
                lut[idx] = entry
        self.lut = lut

    def read(self, r: _LsbReader) -> int:
        if self.single >= 0:
            return self.single
        p = r.pos
        idx = (r.words[p >> 3] >> (p & 7)) & ((1 << self.max_len) - 1)
        e = self.lut[idx]
        if e == 0:
            raise ValueError("bad prefix code in stream")
        ln = e >> 16
        if p + ln > r.nbits:
            raise ValueError("bitstream truncated")
        r.pos = p + ln
        return e & 0xFFFF


# ---------------------------------------------------------------------------
# VP8L constants
# ---------------------------------------------------------------------------

_SIGNATURE = 0x2F
_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40

# 2-D neighbor map for distance codes 1..120 (RFC 9649 §4.2.2): (dx, dy)
# offsets, dist = dy * width + dx (clamped to >= 1). Only needed to READ
# short codes from other encoders — this module's encoder always emits
# the plain form (code = dist + 120), so roundtrip tests do not depend
# on this table; ordering transcribed from the spec.
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (7, 5), (-7, 5), (5, 7), (-5, 7), (8, 3),
    (-3, 8), (5, 8), (-5, 8), (8, 4), (6, 7), (-6, 7), (7, 6), (-7, 6),
]
assert len(_DIST_MAP) == 120 and len(set(_DIST_MAP)) == 120


def _lz77_value(code: int, extra_reader) -> int:
    """Length/distance value scheme shared by both alphabets: codes 0-3
    are the values 1-4; higher codes add ``(code - 2) >> 1`` extra
    bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + extra_reader(extra) + 1


def _lz77_code(value: int) -> tuple[int, int, int]:
    """Inverse of ``_lz77_value``: value -> (code, extra_bits, extra)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra = hi - 1
    code = 2 * hi + ((v >> extra) & 1)
    return code, extra, v & ((1 << extra) - 1)


def _cache_key(argb: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _balanced_lengths(freqs: dict[int, int], alphabet_size: int) -> list[int]:
    """COMPLETE canonical code lengths for the used symbols: with n used
    symbols and L = ceil(log2(n)), (2^L - n) of the most frequent get
    length L-1 and the rest length L (Kraft sum exactly 1). Optimality
    is a non-goal — validity and determinism are."""
    used = sorted(freqs, key=lambda s: (-freqs[s], s))
    n = len(used)
    lengths = [0] * alphabet_size
    if n == 0:
        raise ValueError("no symbols to code")
    if n == 1:
        lengths[used[0]] = 1  # transmitted as a simple code anyway
        return lengths
    L = max(1, (n - 1).bit_length())
    n_short = (1 << L) - n
    for i, sym in enumerate(used):
        lengths[sym] = (L - 1) if i < n_short and L > 1 else L
    return lengths


# ---------------------------------------------------------------------------
# Prefix-code transmission (RFC 9649 §4.1): simple + normal forms
# ---------------------------------------------------------------------------


def _read_prefix_code(r: _LsbReader, alphabet_size: int) -> _PrefixDecoder:
    if r.get(1):  # simple code: 1 or 2 symbols
        num_symbols = r.get(1) + 1
        first_8bits = r.get(1)
        syms = [r.get(8 if first_8bits else 1)]
        if num_symbols == 2:
            syms.append(r.get(8))
        # as in libwebp: a repeated or out-of-alphabet symbol leaves a
        # one-symbol code; only a code with no symbol left is an error
        lengths = [0] * alphabet_size
        for sym in syms:
            if sym < alphabet_size:
                lengths[sym] = 1
        if not any(lengths):
            raise ValueError("simple-code symbol out of range")
        return _PrefixDecoder(lengths)
    # normal: code-length code first
    num_clc = 4 + r.get(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CODE_LENGTH_ORDER[i]] = r.get(3)
    if not any(clc_lengths):
        raise ValueError("empty code-length code")
    clc = _PrefixDecoder(clc_lengths)
    # optional cap on the number of transmitted code-length symbols
    if r.get(1):
        length_nbits = 2 + 2 * r.get(3)
        max_symbols = 2 + r.get(length_nbits)
    else:
        max_symbols = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbols == 0:
            break
        max_symbols -= 1
        code_len = clc.read(r)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        elif code_len == 16:
            rep = 3 + r.get(2)
            if symbol + rep > alphabet_size:
                raise ValueError("code-length repeat overflows alphabet")
            for _ in range(rep):
                lengths[symbol] = prev_len
                symbol += 1
        elif code_len == 17:
            symbol += 3 + r.get(3)
        else:  # 18
            symbol += 11 + r.get(7)
        if symbol > alphabet_size:
            raise ValueError("code-length repeat overflows alphabet")
    return _PrefixDecoder(lengths)


def _write_prefix_code(w: _LsbWriter, lengths: list[int]) -> None:
    """Transmit canonical code lengths. 1-2 symbol codes go as simple
    codes; otherwise the normal form, using 17/18 zero-repeats and
    16-repeats so the decoder's repeat paths are exercised by every
    roundtrip."""
    used = [s for s, ln in enumerate(lengths) if ln]
    if (
        1 <= len(used) <= 2
        and all(lengths[s] == 1 for s in used)
        and used[-1] <= 255  # simple-form symbols are 8-bit at most
    ):
        w.put(1, 1)  # simple
        w.put(len(used) - 1, 1)
        first_8bits = 1 if used[0] > 1 else 0
        w.put(first_8bits, 1)
        w.put(used[0], 8 if first_8bits else 1)
        if len(used) == 2:
            w.put(used[1], 8)
        return
    w.put(0, 1)  # normal
    # run-length the code lengths into clc symbols
    tokens: list[tuple[int, int, int]] = []  # (clc_symbol, extra, extra_bits)
    i = 0
    n = len(lengths)
    prev_len = 8
    while i < n:
        ln = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == ln:
            run += 1
        if ln == 0:
            left = run
            while left >= 11:
                rep = min(left, 11 + 127)
                tokens.append((18, rep - 11, 7))
                left -= rep
            while left >= 3:
                rep = min(left, 3 + 7)
                tokens.append((17, rep - 3, 3))
                left -= rep
            for _ in range(left):
                tokens.append((0, 0, 0))
        else:
            left = run
            tokens.append((ln, 0, 0))
            prev_len = ln
            left -= 1
            while left >= 3:
                rep = min(left, 3 + 3)
                tokens.append((16, rep - 3, 2))
                left -= rep
            for _ in range(left):
                tokens.append((ln, 0, 0))
        i += run
    # NOTE: trailing zero-runs must still be transmitted — the decoder
    # reads code-length symbols until the alphabet fills unless the
    # max-symbol cap was sent, and this writer never sends the cap
    clc_freqs: dict[int, int] = {}
    for sym, _, _ in tokens:
        clc_freqs[sym] = clc_freqs.get(sym, 0) + 1
    clc_lengths = _balanced_lengths(clc_freqs, 19)
    if len(clc_freqs) == 1:
        # a single clc symbol would need a zero-bit code; the 3-bit
        # length fields cannot express "simple" — force a second symbol
        other = 0 if next(iter(clc_freqs)) != 0 else 1
        clc_lengths = [0] * 19
        clc_lengths[next(iter(clc_freqs))] = 1
        clc_lengths[other] = 1
    num_clc = 19
    while num_clc > 4 and clc_lengths[_CODE_LENGTH_ORDER[num_clc - 1]] == 0:
        num_clc -= 1
    w.put(num_clc - 4, 4)
    for i2 in range(num_clc):
        w.put(clc_lengths[_CODE_LENGTH_ORDER[i2]], 3)
    w.put(0, 1)  # no max-symbol cap
    clc_codes = _canonical_codes(clc_lengths)
    for sym, extra, extra_bits in tokens:
        code, ln = clc_codes[sym]
        w.put_code(code, ln)
        if extra_bits:
            w.put(extra, extra_bits)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _read_spatial(
    r: _LsbReader, width: int, height: int, is_level0: bool
) -> list[int]:
    """Decode one entropy-coded image to a flat row-major list of packed
    ARGB ints. Sub-resolution images (entropy image, transform data,
    palette) use the same format minus the meta-prefix bit."""
    cache_bits = 0
    if r.get(1):
        cache_bits = r.get(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad color-cache size {cache_bits}")
    entropy: list[int] | None = None
    prefix_bits = 0
    ew = 0
    groups = 1
    if is_level0 and r.get(1):
        prefix_bits = r.get(3) + 2
        ew = _subsample(width, prefix_bits)
        eh = _subsample(height, prefix_bits)
        epix = _read_spatial(r, ew, eh, False)
        entropy = [(p >> 8) & 0xFFFF for p in epix]  # (red << 8) | green
        groups = max(entropy) + 1
    green_size = 256 + _NUM_LENGTH_CODES + ((1 << cache_bits) if cache_bits else 0)
    tables = []
    for _g in range(groups):
        tables.append(
            (
                _read_prefix_code(r, green_size),
                _read_prefix_code(r, 256),
                _read_prefix_code(r, 256),
                _read_prefix_code(r, 256),
                _read_prefix_code(r, _NUM_DISTANCE_CODES),
            )
        )
    cache = [0] * (1 << cache_bits) if cache_bits else None
    npix = width * height
    out = [0] * npix
    gtab, rtab, btab, atab, dtab = tables[0]
    i = 0
    get = r.get
    while i < npix:
        if entropy is not None:
            x = i % width
            y = i // width
            gi = entropy[(y >> prefix_bits) * ew + (x >> prefix_bits)]
            if gi >= groups:
                raise ValueError("entropy image references missing group")
            gtab, rtab, btab, atab, dtab = tables[gi]
        s = gtab.read(r)
        if s < 256:  # literal: green, then red, blue, alpha
            red = rtab.read(r)
            blue = btab.read(r)
            alpha = atab.read(r)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[i] = px
            if cache is not None:
                cache[_cache_key(px, cache_bits)] = px
            i += 1
        elif s < 256 + _NUM_LENGTH_CODES:  # LZ77 backward reference
            length = _lz77_value(s - 256, get)
            dcode = _lz77_value(dtab.read(r), get)
            if dcode <= 120:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * width + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dcode - 120
            if dist > i:
                raise ValueError("backward reference before image start")
            if i + length > npix:
                raise ValueError("backward reference overruns image")
            for _ in range(length):
                px = out[i - dist]
                out[i] = px
                if cache is not None:
                    cache[_cache_key(px, cache_bits)] = px
                i += 1
        else:  # color-cache hit
            if cache is None:
                raise ValueError("cache symbol without color cache")
            px = cache[s - 256 - _NUM_LENGTH_CODES]
            out[i] = px
            # every decoded pixel enters the cache, hits included (as in
            # libwebp); only matters when the hit slot was never filled
            cache[_cache_key(px, cache_bits)] = px
            i += 1
    return out


def _pixels_to_channels(pixels: list[int], width: int, height: int) -> np.ndarray:
    arr = np.array(pixels, dtype=np.uint32).reshape(height, width)
    return np.stack(
        [
            (arr >> 24) & 0xFF,  # A
            (arr >> 16) & 0xFF,  # R
            (arr >> 8) & 0xFF,  # G
            arr & 0xFF,  # B
        ],
        axis=-1,
    ).astype(np.int32)


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _predict(
    mode: int, ch: np.ndarray, x: int, y: int, w: int
) -> tuple[int, int, int, int]:
    """Predictor modes 0-13 on the 4-channel int array; neighbors are
    already reconstructed. Top-right on the rightmost column wraps to
    the first pixel of the CURRENT row (contiguous-buffer semantics)."""
    left = ch[y, x - 1]
    top = ch[y - 1, x]
    tl = ch[y - 1, x - 1]
    tr = ch[y - 1, x + 1] if x + 1 < w else ch[y, 0]
    if mode == 0 or mode > 13:  # 14 and 15 are unassigned; libwebp: black
        return (255, 0, 0, 0)
    if mode == 1:
        return tuple(left)
    if mode == 2:
        return tuple(top)
    if mode == 3:
        return tuple(tr)
    if mode == 4:
        return tuple(tl)
    if mode == 5:
        return tuple(_avg2(_avg2(left[c], tr[c]), top[c]) for c in range(4))
    if mode == 6:
        return tuple(_avg2(left[c], tl[c]) for c in range(4))
    if mode == 7:
        return tuple(_avg2(left[c], top[c]) for c in range(4))
    if mode == 8:
        return tuple(_avg2(tl[c], top[c]) for c in range(4))
    if mode == 9:
        return tuple(_avg2(top[c], tr[c]) for c in range(4))
    if mode == 10:
        return tuple(
            _avg2(_avg2(left[c], tl[c]), _avg2(top[c], tr[c])) for c in range(4)
        )
    if mode == 11:  # Select
        p = [int(left[c]) + int(top[c]) - int(tl[c]) for c in range(4)]
        p_t = sum(abs(p[c] - int(top[c])) for c in range(4))
        p_l = sum(abs(p[c] - int(left[c])) for c in range(4))
        return tuple(top) if p_t <= p_l else tuple(left)
    if mode == 12:  # ClampAddSubtractFull
        return tuple(
            min(255, max(0, int(left[c]) + int(top[c]) - int(tl[c])))
            for c in range(4)
        )
    if mode == 13:  # ClampAddSubtractHalf
        # RFC 9649 / libwebp compute a + (a - tl) / 2 with C division,
        # which truncates TOWARD ZERO — a floor shift is off by one for
        # negative odd deltas and the error propagates through every
        # later prediction that reads this pixel
        out = []
        for c in range(4):
            a = _avg2(int(left[c]), int(top[c]))
            d = a - int(tl[c])
            half = (d >> 1) if d >= 0 else -((-d) >> 1)
            out.append(min(255, max(0, a + half)))
        return tuple(out)


def _inverse_predictor(
    ch: np.ndarray, modes: list[int], bits: int, width: int, height: int
) -> None:
    """In-place: residuals -> pixels, row-major (neighbors already
    restored when used). Edge rules: (0,0) predicts opaque black, the
    first row predicts LEFT, the first column predicts TOP."""
    tw = _subsample(width, bits)
    for y in range(height):
        trow = (y >> bits) * tw
        for x in range(width):
            if y == 0 and x == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = tuple(ch[0, x - 1])
            elif x == 0:
                pred = tuple(ch[y - 1, 0])
            else:
                pred = _predict(modes[trow + (x >> bits)], ch, x, y, width)
            for c in range(4):
                ch[y, x, c] = (ch[y, x, c] + pred[c]) & 0xFF


def _ct_delta(m: int, c: int) -> int:
    """Color-transform delta: signed-int8 multiplier times signed-int8
    channel, arithmetic-shifted right by 5."""
    if m >= 128:
        m -= 256
    if c >= 128:
        c -= 256
    return (m * c) >> 5


def _inverse_color_transform(
    ch: np.ndarray, elements: list[int], bits: int, width: int, height: int
) -> None:
    """In-place inverse: red gets its green delta first; the
    red-to-blue delta then uses the UPDATED red. Element packing (per
    reference implementation): green_to_red in blue, green_to_blue in
    green, red_to_blue in red."""
    tw = _subsample(width, bits)
    for y in range(height):
        trow = (y >> bits) * tw
        for x in range(width):
            e = elements[trow + (x >> bits)]
            g2r = e & 0xFF
            g2b = (e >> 8) & 0xFF
            r2b = (e >> 16) & 0xFF
            g = int(ch[y, x, 2])
            red = (int(ch[y, x, 1]) + _ct_delta(g2r, g)) & 0xFF
            ch[y, x, 1] = red
            ch[y, x, 3] = (
                int(ch[y, x, 3]) + _ct_delta(g2b, g) + _ct_delta(r2b, red)
            ) & 0xFF


def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP (RIFF container with a lossless ``VP8L`` or a lossy
    ``VP8 `` chunk) to (h, w, 3) uint8 RGB; the alpha channel is dropped.
    Lossy frames go to ``vp8.decode_vp8``. The RIFF walk and the VP8L
    header checks run here in Python; the bitstream itself is decoded by
    libwebp when ``native.libwebp()`` loads, and by this module's decoder
    otherwise or when libwebp refuses it. Raises ``ValueError`` on
    malformed input."""
    return _decode_webp(data, _native.libwebp())


def _decode_webp(data: bytes, webp) -> np.ndarray:
    """``decode_webp`` with an explicit libwebp handle (None: the
    pure-Python decoders only)."""
    try:
        return _decode_webp_inner(data, webp)
    except (ValueError, IndexError, struct.error, OverflowError) as exc:
        raise ValueError(f"bad WebP: {exc}") from exc


def _decode_webp_inner(data: bytes, webp) -> np.ndarray:
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size + 8 > len(data):
        raise ValueError("truncated RIFF container")
    pos = 12
    payload = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + sz]
        if len(body) != sz:
            raise ValueError("truncated chunk")
        if tag == b"VP8L":
            payload = body
            break
        if tag == b"VP8 ":
            # lossy WebP: a single VP8 key frame (RFC 6386), decoded by
            # images/vp8.py; alpha (ALPH) dropped
            from .vp8 import _decode_vp8

            return _decode_vp8(body, webp)
        pos += 8 + sz + (sz & 1)  # chunks are 2-byte aligned
    if payload is None:
        raise ValueError("no VP8L chunk")
    if not payload or payload[0] != _SIGNATURE:
        raise ValueError("bad VP8L signature")
    r = _LsbReader(payload[1:])
    width = r.get(14) + 1
    height = r.get(14) + 1
    # allocation guard BEFORE the npix-sized output list and transform
    # stages: the 14-bit fields allow 16384x16384 = 268 Mpix from a
    # crafted header a handful of bytes long
    check_pixel_budget(width, height, "VP8L header")
    r.get(1)  # alpha-used hint
    if r.get(3) != 0:
        raise ValueError("unknown VP8L version")
    if webp is not None:
        rgb = _native.webp_rgb(webp, bytes(payload), width, height)
        if rgb is not None:
            return rgb

    # transforms, tracking the coded width (color-indexing shrinks it)
    transforms: list[tuple] = []
    cur_w = width
    seen: set[int] = set()
    while r.get(1):
        ttype = r.get(2)
        if ttype in seen:
            raise ValueError("duplicate transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = r.get(3) + 2
            sub = _read_spatial(
                r, _subsample(cur_w, bits), _subsample(height, bits), False
            )
            # the mode is the green byte's low nibble (libwebp)
            transforms.append(("pred", bits, [(p >> 8) & 0xF for p in sub], cur_w))
        elif ttype == 1:  # color
            bits = r.get(3) + 2
            sub = _read_spatial(
                r, _subsample(cur_w, bits), _subsample(height, bits), False
            )
            transforms.append(("color", bits, [p & 0xFFFFFF for p in sub], cur_w))
        elif ttype == 2:  # subtract green
            transforms.append(("sub_green",))
        else:  # color indexing
            pal_size = r.get(8) + 1
            raw = _read_spatial(r, pal_size, 1, False)
            # palette entries are component-wise deltas from the previous
            pal: list[int] = []
            prev = 0
            for p in raw:
                a = ((prev >> 24) + (p >> 24)) & 0xFF
                rd = (((prev >> 16) & 0xFF) + ((p >> 16) & 0xFF)) & 0xFF
                g = (((prev >> 8) & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF
                b = ((prev & 0xFF) + (p & 0xFF)) & 0xFF
                prev = (a << 24) | (rd << 16) | (g << 8) | b
                pal.append(prev)
            # RFC 9649: an index past the table is transparent black
            pal += [0] * (256 - pal_size)
            if pal_size <= 2:
                wb = 3
            elif pal_size <= 4:
                wb = 2
            elif pal_size <= 16:
                wb = 1
            else:
                wb = 0
            transforms.append(("palette", pal, wb, cur_w))
            cur_w = _subsample(cur_w, wb)

    pixels = _read_spatial(r, cur_w, height, True)

    # inverse transforms, last-read first
    for t in reversed(transforms):
        if t[0] == "palette":
            _, pal, wb, full_w = t
            if wb == 0:
                pixels = [pal[(p >> 8) & 0xFF] for p in pixels]
            else:
                per = 1 << wb  # indices packed per green byte
                ibits = 8 >> wb
                mask = (1 << ibits) - 1
                packed_w = _subsample(full_w, wb)
                new = [0] * (full_w * height)
                for y in range(height):
                    row = y * packed_w
                    for x in range(full_w):
                        g = (pixels[row + (x >> wb)] >> 8) & 0xFF
                        new[y * full_w + x] = pal[(g >> (ibits * (x % per))) & mask]
                pixels = new
            cur_w = full_w
        elif t[0] == "sub_green":
            arr = np.array(pixels, dtype=np.uint32)
            g = (arr >> 8) & 0xFF
            red = (((arr >> 16) & 0xFF) + g) & 0xFF
            b = ((arr & 0xFF) + g) & 0xFF
            arr = (arr & 0xFF00FF00) | (red << 16) | b
            pixels = arr.tolist()
        elif t[0] == "pred":
            _, bits, modes, full_w = t
            ch = _pixels_to_channels(pixels, full_w, height)
            _inverse_predictor(ch, modes, bits, full_w, height)
            arr = (
                (ch[..., 0].astype(np.uint32) << 24)
                | (ch[..., 1].astype(np.uint32) << 16)
                | (ch[..., 2].astype(np.uint32) << 8)
                | ch[..., 3].astype(np.uint32)
            )
            pixels = arr.reshape(-1).tolist()
        else:  # color
            _, bits, elements, full_w = t
            ch = _pixels_to_channels(pixels, full_w, height)
            _inverse_color_transform(ch, elements, bits, full_w, height)
            arr = (
                (ch[..., 0].astype(np.uint32) << 24)
                | (ch[..., 1].astype(np.uint32) << 16)
                | (ch[..., 2].astype(np.uint32) << 8)
                | ch[..., 3].astype(np.uint32)
            )
            pixels = arr.reshape(-1).tolist()

    arr = np.array(pixels, dtype=np.uint32).reshape(height, width)
    rgb = np.stack(
        [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=-1
    ).astype(np.uint8)
    return rgb


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _tokenize(
    pixels: list[int],
    width: int,
    cache_bits: int,
    use_lz77: bool,
    group_of,
) -> list[tuple]:
    """Turn a pixel list into entropy tokens, simulating the decoder's
    color-cache state exactly. Backward references are RLE-style
    (distance 1 for horizontal runs, ``width`` for vertical repeats) —
    emitted as PLAIN distance codes (dist + 120), never the 2-D map.
    Tokens: ('lit', g, a, r, g2, b), ('cache', idx), ('copy', len, dist),
    each prefixed with the group index of its starting pixel."""
    n = len(pixels)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    toks: list[tuple] = []
    i = 0
    while i < n:
        grp = group_of(i)
        best_len = 0
        best_dist = 0
        if use_lz77 and i > 0:
            for dist in (1, width):
                if dist > i:
                    continue
                ln = 0
                while i + ln < n and pixels[i + ln] == pixels[i + ln - dist]:
                    ln += 1
                    if ln >= 4096:
                        break
                if ln > best_len:
                    best_len = ln
                    best_dist = dist
        if best_len >= 3:
            toks.append((grp, "copy", best_len, best_dist))
            if cache is not None:
                for j in range(best_len):
                    px = pixels[i + j]
                    cache[_cache_key(px, cache_bits)] = px
            i += best_len
            continue
        px = pixels[i]
        if cache is not None and cache[_cache_key(px, cache_bits)] == px:
            toks.append((grp, "cache", _cache_key(px, cache_bits)))
        else:
            toks.append(
                (
                    grp,
                    "lit",
                    (px >> 8) & 0xFF,
                    (px >> 24) & 0xFF,
                    (px >> 16) & 0xFF,
                    px & 0xFF,
                )
            )
            if cache is not None:
                cache[_cache_key(px, cache_bits)] = px
        i += 1
    return toks


def _encode_spatial(
    w: _LsbWriter,
    pixels: list[int],
    width: int,
    height: int,
    *,
    is_level0: bool,
    cache_bits: int = 0,
    use_lz77: bool = False,
    split_groups: bool = False,
    use_dist_map: bool = False,
) -> None:
    """Emit one entropy-coded image. ``split_groups`` (level 0 only)
    writes a 2-group entropy image (left/right halves) to exercise the
    decoder's meta-prefix path; ``use_dist_map`` emits distances 1 and
    ``width`` as the 2-D map codes 2 and 1 instead of the plain form."""

    def dist_code_value(dist: int) -> int:
        if use_dist_map and dist == width:
            return 1  # map entry (0, 1): the pixel directly above
        if use_dist_map and dist == 1:
            return 2  # map entry (1, 0): the previous pixel
        return dist + 120
    if cache_bits:
        w.put(1, 1)
        w.put(cache_bits, 4)
    else:
        w.put(0, 1)
    prefix_bits = 0
    ew = 0
    n_groups = 1
    if is_level0:
        if split_groups and width >= 2:
            w.put(1, 1)
            prefix_bits = 2
            w.put(prefix_bits - 2, 3)
            ew = _subsample(width, prefix_bits)
            eh = _subsample(height, prefix_bits)
            half = ew // 2
            epix = [
                0xFF000000 | ((0 if tx < half else 1) << 8)
                for _ty in range(eh)
                for tx in range(ew)
            ]
            n_groups = 2
            _encode_spatial(w, epix, ew, eh, is_level0=False)
        else:
            w.put(0, 1)
            split_groups = False

    def group_of(i: int) -> int:
        if n_groups == 1:
            return 0
        x = i % width
        y = i // width
        half = ew // 2
        return 0 if (x >> prefix_bits) < half else 1

    toks = _tokenize(pixels, width, cache_bits, use_lz77, group_of)

    green_size = 256 + _NUM_LENGTH_CODES + ((1 << cache_bits) if cache_bits else 0)
    per_group: list[list[dict[int, int]]] = [
        [dict() for _ in range(5)] for _ in range(n_groups)
    ]

    def bump(g: int, which: int, sym: int) -> None:
        d = per_group[g][which]
        d[sym] = d.get(sym, 0) + 1

    for t in toks:
        g = t[0]
        if t[1] == "lit":
            bump(g, 0, t[2])
            bump(g, 1, t[4])
            bump(g, 2, t[5])
            bump(g, 3, t[3])
        elif t[1] == "cache":
            bump(g, 0, 256 + _NUM_LENGTH_CODES + t[2])
        else:
            lcode, _, _ = _lz77_code(t[2])
            bump(g, 0, 256 + lcode)
            dcode, _, _ = _lz77_code(dist_code_value(t[3]))
            bump(g, 4, dcode)

    alphabets = [green_size, 256, 256, 256, _NUM_DISTANCE_CODES]
    group_codes = []
    for g in range(n_groups):
        codes5 = []
        for which in range(5):
            freqs = per_group[g][which]
            if not freqs:
                freqs = {0: 1}  # unused channel: 1-symbol simple code
            lengths = _balanced_lengths(freqs, alphabets[which])
            _write_prefix_code(w, lengths)
            codes5.append(_canonical_codes(lengths))
        group_codes.append(codes5)

    for t in toks:
        gtab, rtab, btab, atab, dtab = group_codes[t[0]]
        if t[1] == "lit":
            _, _, gch, a, rch, bch = t
            if len(gtab) > 1:
                w.put_code(*gtab[gch])
            if len(rtab) > 1:
                w.put_code(*rtab[rch])
            if len(btab) > 1:
                w.put_code(*btab[bch])
            if len(atab) > 1:
                w.put_code(*atab[a])
        elif t[1] == "cache":
            if len(gtab) > 1:
                w.put_code(*gtab[256 + _NUM_LENGTH_CODES + t[2]])
        else:
            _, _, ln, dist = t
            lcode, lx, lxv = _lz77_code(ln)
            if len(gtab) > 1:
                w.put_code(*gtab[256 + lcode])
            if lx:
                w.put(lxv, lx)
            dcode, dx, dxv = _lz77_code(dist_code_value(dist))
            if len(dtab) > 1:
                w.put_code(*dtab[dcode])
            if dx:
                w.put(dxv, dx)


def _forward_predictor(
    ch: np.ndarray, bits: int, width: int, height: int, mode_picker
) -> tuple[np.ndarray, list[int]]:
    """Residual image + per-tile modes. Residuals subtract the
    prediction computed from the ORIGINAL pixels (identical to the
    decoder's reconstructed neighbors, since the codec is lossless)."""
    tw = _subsample(width, bits)
    th = _subsample(height, bits)
    modes = [mode_picker(ti) for ti in range(tw * th)]
    res = np.zeros_like(ch)
    for y in range(height):
        trow = (y >> bits) * tw
        for x in range(width):
            if y == 0 and x == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = tuple(ch[0, x - 1])
            elif x == 0:
                pred = tuple(ch[y - 1, 0])
            else:
                pred = _predict(modes[trow + (x >> bits)], ch, x, y, width)
            for c in range(4):
                res[y, x, c] = (int(ch[y, x, c]) - pred[c]) & 0xFF
    return res, modes


def _channels_to_pixels(ch: np.ndarray) -> list[int]:
    arr = (
        (ch[..., 0].astype(np.uint32) << 24)
        | (ch[..., 1].astype(np.uint32) << 16)
        | (ch[..., 2].astype(np.uint32) << 8)
        | ch[..., 3].astype(np.uint32)
    )
    return arr.reshape(-1).tolist()


def encode_webp_lossless(
    pixels: np.ndarray,
    *,
    subtract_green: bool = True,
    predictor_bits: int | None = None,
    predictor_mode: str | int = "best",
    color_bits: int | None = None,
    cache_bits: int = 6,
    use_lz77: bool = True,
    palette: bool = False,
    split_groups: bool = False,
    use_dist_map: bool = False,
    seed: int = 0,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB as lossless WebP (RIFF/VP8L).

    Feature toggles exist to exercise every decoder path: transform
    stream order is subtract-green -> predictor -> color; ``palette``
    replaces them all (with pixel bundling when the image has <= 16
    distinct colors). ``predictor_mode`` is a fixed mode number,
    ``'best'`` (per-tile min sum-of-|residual|), or ``'random'``
    (seeded — covers all 14 modes across trials). ``use_dist_map``
    emits the 2-D short distance codes (map entries (0,1) and (1,0))
    instead of the plain ``dist + 120`` form, exercising the decoder's
    neighbor-map branch."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8")
    height, width = pixels.shape[:2]
    if not (1 <= width <= 1 << 14 and 1 <= height <= 1 << 14):
        raise ValueError("bad dimensions")
    rng = np.random.default_rng(seed)

    w = _LsbWriter()
    w.put(width - 1, 14)
    w.put(height - 1, 14)
    w.put(0, 1)  # no alpha
    w.put(0, 3)  # version

    ch = np.zeros((height, width, 4), dtype=np.int32)
    ch[..., 0] = 255
    ch[..., 1] = pixels[..., 0]
    ch[..., 2] = pixels[..., 1]
    ch[..., 3] = pixels[..., 2]
    cur_w = width

    if palette:
        flat = _channels_to_pixels(ch)
        uniq = sorted(set(flat))
        if len(uniq) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        index_of = {px: i for i, px in enumerate(uniq)}
        pal_size = len(uniq)
        if pal_size <= 2:
            wb = 3
        elif pal_size <= 4:
            wb = 2
        elif pal_size <= 16:
            wb = 1
        else:
            wb = 0
        w.put(1, 1)  # transform present
        w.put(3, 2)  # color indexing
        w.put(pal_size - 1, 8)
        # palette rows are component-wise deltas from the previous entry
        deltas = []
        prev = 0
        for px in uniq:
            a = ((px >> 24) - (prev >> 24)) & 0xFF
            rd = (((px >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF
            g = (((px >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF
            b = ((px & 0xFF) - (prev & 0xFF)) & 0xFF
            deltas.append((a << 24) | (rd << 16) | (g << 8) | b)
            prev = px
        _encode_spatial(w, deltas, pal_size, 1, is_level0=False)
        if wb:
            per = 1 << wb
            ibits = 8 >> wb
            packed_w = _subsample(width, wb)
            packed = [0] * (packed_w * height)
            for y in range(height):
                for x in range(width):
                    idx = index_of[flat[y * width + x]]
                    packed[y * packed_w + (x >> wb)] |= idx << (
                        ibits * (x % per)
                    ) << 8
            coded = [0xFF000000 | p for p in packed]
            cur_w = packed_w
        else:
            coded = [0xFF000000 | (index_of[px] << 8) for px in flat]
        w.put(0, 1)  # end of transforms
        _encode_spatial(
            w, coded, cur_w, height,
            is_level0=True, cache_bits=cache_bits, use_lz77=use_lz77,
            split_groups=split_groups, use_dist_map=use_dist_map,
        )
    else:
        if subtract_green:
            w.put(1, 1)
            w.put(2, 2)
            ch[..., 1] = (ch[..., 1] - ch[..., 2]) & 0xFF
            ch[..., 3] = (ch[..., 3] - ch[..., 2]) & 0xFF
        if predictor_bits is not None:
            bits = predictor_bits
            tw = _subsample(cur_w, bits)
            th = _subsample(height, bits)
            if predictor_mode == "random":
                chosen = rng.integers(0, 14, size=tw * th)

                def picker(ti: int) -> int:
                    return int(chosen[ti])

            elif predictor_mode == "best":

                def picker(ti: int) -> int:  # placeholder; chosen below
                    return 0

            else:
                fixed = int(predictor_mode)

                def picker(ti: int) -> int:
                    return fixed

            if predictor_mode == "best":
                res, modes = _best_predictor(ch, bits, cur_w, height)
            else:
                res, modes = _forward_predictor(ch, bits, cur_w, height, picker)
            w.put(1, 1)
            w.put(0, 2)  # predictor transform
            w.put(bits - 2, 3)
            sub = [0xFF000000 | (m << 8) for m in modes]
            _encode_spatial(w, sub, tw, th, is_level0=False)
            ch = res
        if color_bits is not None:
            bits = color_bits
            tw = _subsample(cur_w, bits)
            th = _subsample(height, bits)
            elems = [
                (int(rng.integers(0, 256)) << 16)
                | (int(rng.integers(0, 256)) << 8)
                | int(rng.integers(0, 256))
                for _ in range(tw * th)
            ]
            res = ch.copy()
            for y in range(height):
                trow = (y >> bits) * tw
                for x in range(cur_w):
                    e = elems[trow + (x >> bits)]
                    g2r = e & 0xFF
                    g2b = (e >> 8) & 0xFF
                    r2b = (e >> 16) & 0xFF
                    g = int(ch[y, x, 2])
                    red0 = int(ch[y, x, 1])
                    res[y, x, 1] = (red0 - _ct_delta(g2r, g)) & 0xFF
                    res[y, x, 3] = (
                        int(ch[y, x, 3]) - _ct_delta(g2b, g) - _ct_delta(r2b, red0)
                    ) & 0xFF
            w.put(1, 1)
            w.put(1, 2)  # color transform
            w.put(bits - 2, 3)
            sub = [0xFF000000 | e for e in elems]
            _encode_spatial(w, sub, tw, th, is_level0=False)
            ch = res
        w.put(0, 1)  # end of transforms
        _encode_spatial(
            w, _channels_to_pixels(ch), cur_w, height,
            is_level0=True, cache_bits=cache_bits, use_lz77=use_lz77,
            split_groups=split_groups, use_dist_map=use_dist_map,
        )

    payload = bytes([_SIGNATURE]) + w.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _best_predictor(
    ch: np.ndarray, bits: int, width: int, height: int
) -> tuple[np.ndarray, list[int]]:
    """Per-tile mode minimizing sum of min(residual, 256-residual)."""
    tw = _subsample(width, bits)
    th = _subsample(height, bits)
    modes = [0] * (tw * th)
    for ty in range(th):
        for tx in range(tw):
            y0, y1 = ty << bits, min((ty + 1) << bits, height)
            x0, x1 = tx << bits, min((tx + 1) << bits, width)
            best_cost = None
            best_mode = 0
            for mode in range(14):
                cost = 0
                for y in range(y0, y1):
                    for x in range(x0, x1):
                        if y == 0 and x == 0:
                            pred = (255, 0, 0, 0)
                        elif y == 0:
                            pred = tuple(ch[0, x - 1])
                        elif x == 0:
                            pred = tuple(ch[y - 1, 0])
                        else:
                            pred = _predict(mode, ch, x, y, width)
                        for c in range(4):
                            d = (int(ch[y, x, c]) - pred[c]) & 0xFF
                            cost += min(d, 256 - d)
                if best_cost is None or cost < best_cost:
                    best_cost = cost
                    best_mode = mode
            modes[ty * tw + tx] = best_mode

    def picker(ti: int) -> int:
        return modes[ti]

    return _forward_predictor(ch, bits, width, height, picker)
