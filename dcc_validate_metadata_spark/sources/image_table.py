"""Deterministic image+caption fixture (FIXTURES.md §1-§4).

Generates the north-rule input table
``(image_id, bytes, w, h, fmt, caption, phash)`` with planted violations,
plus ground-truth pixels/captions, expected violation rows, and expected
per-partition verdicts. Seeded per row index, so output is identical
regardless of chunking or parallelism.

Two generation paths share ``_gen_row``:

* ``generate_image_fixture`` — driver-side, also derives the golden
  expected outputs with an independent pure-Python reimplementation of the
  rule semantics (so engine tests are against a second implementation, not
  against themselves).
* ``generate_image_table_distributed`` — ``spark.range(n).mapInPandas``
  so 100k+-row bench tables are encoded on executors, the same way a real
  backfill would synthesize at cluster scale.

Partitioning: ``(fmt, bucket)`` with ``bucket = crc32(image_id) % n``,
standing in for Iceberg's hidden ``bucket(image_id)`` transform (Iceberg
jars absent in this sandbox — see sources/iceberg.py). ``fmt`` is
deliberately skewed (~80% jpeg) to exercise skew handling.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field as dc_field
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..images import codec
from ..rules import messages as M
from ..rules.constants import MISSING_TOKENS, SAFE_NAME_PATTERN

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)

PARTITION_COLS = ["fmt", "bucket"]

# Bump whenever _gen_row's OUTPUT changes (pixel content, codecs, plants):
# every cached fixture/scale-table path embeds it, so stale /tmp tables
# from an older content regime can never be silently reused.
CONTENT_VERSION = 9  # v9: webp rows split VP8L/lossy-VP8 (v8: real VP8L)

_VOCAB = (
    "holstein cattle graze upland pasture sunrise over fjord trawler nets "
    "gleam market stalls carry ripe figs drummers rehearse beneath neon "
    "awnings glaciers calve into turquoise bays orchards blossom along the "
    "terraced ridge lanterns drift across harvest festival children sketch "
    "murals on warehouse brick"
).split()

_CYCLE = 101  # plant slots repeat every 101 rows


@dataclass
class _Row:
    idx: int
    image_id: str
    data: bytes
    w: int
    h: int
    fmt: str
    caption: str | None
    phash: int
    bucket: int
    # ground truth
    gt_pixels: np.ndarray = None
    gt_caption: str | None = None


def _bucket_of(image_id: str, n_buckets: int) -> int:
    return zlib.crc32(image_id.encode()) % n_buckets


def _smooth_pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Photograph-shaped content: a bilinear-upsampled low-frequency random
    field plus mild sensor noise (sigma=2). Chosen over raw uniform noise
    once ``jpeg`` became a real codec — noise is JPEG's worst case (every
    AC coefficient survives), while smooth-plus-texture is both what real
    corpora look like and what the entropy decoder's throughput is sized
    for. Variation lives at the 4px scale, so the 8x8 phash grid still
    sees near-independent bits (near-dup banding stays non-degenerate)."""
    base = rng.uniform(0.0, 255.0, size=(5, 5, 3))
    ys = np.linspace(0.0, 4.0, h)
    xs = np.linspace(0.0, 4.0, w)
    y0 = np.minimum(ys.astype(np.int64), 3)
    x0 = np.minimum(xs.astype(np.int64), 3)
    fy = (ys - y0)[:, None, None]
    fx = (xs - x0)[None, :, None]
    img = (
        base[y0][:, x0] * (1 - fy) * (1 - fx)
        + base[y0][:, x0 + 1] * (1 - fy) * fx
        + base[y0 + 1][:, x0] * fy * (1 - fx)
        + base[y0 + 1][:, x0 + 1] * fy * fx
    )
    img = img + rng.normal(0.0, 2.0, size=img.shape)
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def _chroma_smooth_pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Content for LOSSY-WEBP rows: textured luma (low-freq field +
    sigma-2 noise, as _smooth_pixels) but chroma varying only at low
    frequency with no per-pixel noise. VP8 is 4:2:0 — per-pixel chroma
    noise is unrecoverable after subsampling, capping PSNR near 36 dB
    for ANY encoder, so the >=40 dB invariant needs photo-like chroma.
    Real corpora look like this (camera chroma is denoised/smooth);
    the synthetic uniform-random chroma of _smooth_pixels is the 4:2:0
    worst case, not the representative one."""
    gy = rng.uniform(30.0, 225.0, size=(5, 5))
    ys = np.linspace(0.0, 4.0, h)
    xs = np.linspace(0.0, 4.0, w)
    y0 = np.minimum(ys.astype(np.int64), 3)
    x0 = np.minimum(xs.astype(np.int64), 3)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    Y = (
        gy[y0][:, x0] * (1 - fy) * (1 - fx)
        + gy[y0][:, x0 + 1] * (1 - fy) * fx
        + gy[y0 + 1][:, x0] * fy * (1 - fx)
        + gy[y0 + 1][:, x0 + 1] * fy * fx
    )
    Y = Y + rng.normal(0.0, 2.0, size=Y.shape)

    def lowfreq():
        g = rng.uniform(100.0, 156.0, size=(3, 3))
        yy = np.linspace(0.0, 2.0, h)
        xx = np.linspace(0.0, 2.0, w)
        a0 = np.minimum(yy.astype(np.int64), 1)
        b0 = np.minimum(xx.astype(np.int64), 1)
        fa = (yy - a0)[:, None]
        fb = (xx - b0)[None, :]
        return (
            g[a0][:, b0] * (1 - fa) * (1 - fb)
            + g[a0][:, b0 + 1] * (1 - fa) * fb
            + g[a0 + 1][:, b0] * fa * (1 - fb)
            + g[a0 + 1][:, b0 + 1] * fa * fb
        )

    c = np.clip(np.rint(Y), 16, 235) - 16
    d = np.rint(lowfreq()) - 128
    e = np.rint(lowfreq()) - 128
    r = (298 * c + 409 * e + 128) // 256
    g = (298 * c - 100 * d - 208 * e + 128) // 256
    b = (298 * c + 516 * d + 128) // 256
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def _gen_row(idx: int, seed: int, n_buckets: int, hw: int = 32) -> _Row:
    rng = np.random.default_rng(seed * 1_000_003 + idx)
    slot = idx % _CYCLE

    w = h = hw
    if slot == 95:
        w, h = hw, hw // 2  # rectangular so swapped declares actually mismatch
    pixels = _smooth_pixels(rng, h, w)

    r = rng.random()
    fmt = "jpeg" if r < 0.80 else ("png" if r < 0.95 else "webp")
    webp_lossy = False
    if fmt == "webp":
        # half the webp slice is lossy VP8 — what a real corpus's webp
        # mostly is; lossy rows get photo-like chroma (see
        # _chroma_smooth_pixels) from a derived stream so the main rng
        # sequence stays undisturbed for the other columns
        webp_lossy = bool(rng.random() < 0.5)
        if webp_lossy:
            pixels = _chroma_smooth_pixels(
                np.random.default_rng(seed * 1_000_003 + idx + 0x5EED), h, w
            )

    n_words = int(rng.integers(3, 13))
    caption = " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n_words))
    image_id = f"img{idx:012d}"

    declared_w, declared_h = w, h
    enc_fmt = fmt
    gt_pixels = pixels
    gt_caption = caption
    data_pixels = pixels

    if slot == 5:
        image_id = f"img {idx:012d}"  # safe_name violation (space)
    elif slot == 15 and idx > 0:
        image_id = f"img{idx - 1:012d}"  # duplicate image_id
    elif slot == 25:
        declared_w = -1  # range violation (+ dims mismatch vs decode)
    elif slot == 35:
        fmt = enc_fmt = "bmp"  # enum + dangling-ontology violation
    elif slot == 45:
        caption = MISSING_TOKENS[(idx // _CYCLE) % len(MISSING_TOKENS)]
        gt_caption = caption
    elif slot == 55:
        caption = None
        gt_caption = None
    elif slot == 60:
        fmt = enc_fmt = "jpeg"
        noise = rng.integers(-40, 41, size=pixels.shape)
        data_pixels = np.clip(pixels.astype(np.int32) + noise, 0, 255).astype(np.uint8)
        # encoded bytes hold noisy pixels; gt stays clean → PSNR < 40 dB
    elif slot == 65:
        caption = "x" * 600  # maxlen violation
        gt_caption = caption
    elif slot == 70:
        gt_caption = caption + " DRIFTED"  # caption-mismatch invariant
    elif slot == 75:
        pass  # phash duplicate planted below, after hashing
    elif slot == 95:
        declared_w, declared_h = h, w  # swapped dims

    if enc_fmt == "png":
        data = codec.encode_png(data_pixels)
    elif enc_fmt == "jpeg":
        data = codec.encode_image(data_pixels, "jpeg")  # real baseline JFIF
    elif enc_fmt == "webp":
        data = codec.encode_image(
            data_pixels, "webp_lossy" if webp_lossy else "webp"
        )  # real VP8 key frame / real lossless VP8L
    else:
        # lossy stand-in container carries ONLY unknown planted fmts (bmp)
        data = codec.encode_lossy(data_pixels, enc_fmt)
    if slot == 85:
        data = data[:10]  # corrupt: decode failure

    phash = codec.average_phash(pixels)
    if slot == 75:
        phash = 0x5EED5EED5EED5EED  # shared value → planted duplicates

    return _Row(
        idx=idx,
        image_id=image_id,
        data=data,
        w=declared_w,
        h=declared_h,
        fmt=fmt,
        caption=caption,
        phash=phash,
        bucket=_bucket_of(image_id, n_buckets),
        gt_pixels=gt_pixels,
        gt_caption=gt_caption,
    )


def _rows_to_pdf(rows: list[_Row]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "image_id": [r.image_id for r in rows],
            "bytes": [r.data for r in rows],
            "w": pd.array([r.w for r in rows], dtype="int32"),
            "h": pd.array([r.h for r in rows], dtype="int32"),
            "fmt": [r.fmt for r in rows],
            "caption": [r.caption for r in rows],
            "phash": pd.array([r.phash for r in rows], dtype="int64"),
            "bucket": pd.array([r.bucket for r in rows], dtype="int32"),
        }
    )


# --------------------------------------------------------------------------
# golden expectations — independent pure-Python reimplementation
# --------------------------------------------------------------------------

_ENUM_FMTS = ["png", "jpeg", "webp"]
_RECOMMENDED_WARN_TOKENS = set(MISSING_TOKENS)


def _expected_for_rows(
    rows: list[_Row], ontology_labels: set[str], psnr_min: float = 40.0
) -> pd.DataFrame:
    """Golden violation rows, recomputed from first principles (NOT via the
    Spark compiler)."""
    import re

    out: list[tuple] = []

    def add(r: _Row, fld: str, sev: str, msg: str) -> None:
        out.append((r.fmt, r.bucket, r.image_id, fld, sev, msg))

    id_counts: dict[str, int] = {}
    ph_counts: dict[int, int] = {}
    for r in rows:
        id_counts[r.image_id] = id_counts.get(r.image_id, 0) + 1
        ph_counts[r.phash] = ph_counts.get(r.phash, 0) + 1

    safe = re.compile(SAFE_NAME_PATTERN)
    for r in rows:
        # image_id: safe_name + unique
        if not safe.match(r.image_id):
            add(r, "image_id", "error", M.msg_regex(r.image_id, "image_id", SAFE_NAME_PATTERN))
        if id_counts[r.image_id] > 1:
            add(r, "image_id", "error", M.msg_unique("image_id", r.image_id, id_counts[r.image_id]))
        # w/h range
        for fld, v in (("w", r.w), ("h", r.h)):
            if v < 1 or v > 65536:
                add(r, fld, "error", M.msg_range(v, fld, 1, 65536))
        # fmt enum + ontology
        if r.fmt not in _ENUM_FMTS:
            add(r, "fmt", "error", M.msg_enum(r.fmt, "fmt", _ENUM_FMTS))
        if r.fmt.lower() not in ontology_labels:
            add(r, "fmt", "error", M.msg_dangling_term(r.fmt, "fmt"))
        # caption: recommended tier
        if r.caption is None or r.caption.strip() == "":
            add(r, "caption", "warning", M.msg_recommended_missing())
        else:
            if r.caption.strip().lower() in _RECOMMENDED_WARN_TOKENS:
                add(r, "caption", "warning", M.msg_missing_token("caption", "image_caption"))
            if len(r.caption) > 512:
                add(r, "caption", "error", M.msg_maxlen("caption", len(r.caption), 512))
        # phash unique
        if ph_counts[r.phash] > 1:
            add(r, "phash", "error", M.msg_unique("phash", str(r.phash), ph_counts[r.phash]))
        # decode checks
        try:
            # pure-Python decoders, below the native seam: the golden
            # stays independent of the native path it checks
            pix, container = codec._decode_image_python(r.data)
        except Exception as e:  # noqa: BLE001
            add(r, "bytes", "error", M.msg_decode_failed(str(e)))
            continue
        dh, dw = pix.shape[:2]
        if dw != r.w or dh != r.h:
            add(r, "bytes", "error", M.msg_dims_mismatch(dw, dh, r.w, r.h))
        if container != r.fmt:
            add(r, "bytes", "error", M.msg_fmt_mismatch(container, r.fmt))
        # ground-truth invariant is only defined for unique image_ids (the
        # gt table is keyed by image_id; duplicated ids are excluded there)
        if id_counts[r.image_id] == 1:
            if r.gt_pixels is not None and pix.shape == r.gt_pixels.shape:
                p = codec.psnr(pix, r.gt_pixels)
                if p < psnr_min:
                    add(r, "bytes", "error", M.msg_psnr(p, psnr_min))
            if (r.caption or "") != (r.gt_caption or ""):
                add(r, "caption", "error", M.msg_caption_mismatch(r.image_id))

    return pd.DataFrame(
        out, columns=["fmt", "bucket", "image_id", "field", "severity", "message"]
    )


def _verdicts_from_violations(rows: list[_Row], viol: pd.DataFrame) -> pd.DataFrame:
    parts = sorted({(r.fmt, r.bucket) for r in rows})
    counts = viol.groupby(["fmt", "bucket", "severity"]).size() if len(viol) else None
    recs = []
    for fmt, bucket in parts:
        n_err = int(counts.get((fmt, bucket, "error"), 0)) if counts is not None else 0
        n_warn = int(counts.get((fmt, bucket, "warning"), 0)) if counts is not None else 0
        recs.append((fmt, bucket, n_err == 0, n_err, n_warn))
    return pd.DataFrame(recs, columns=["fmt", "bucket", "pass", "n_errors", "n_warnings"])


# --------------------------------------------------------------------------
# companion fixtures (FIXTURES.md §3, §4)
# --------------------------------------------------------------------------

def ontology_terms_rows() -> list[tuple]:
    """(term, label, ontology_name, parent_term) — includes every valid fmt
    label plus extras; 'bmp' deliberately absent (dangling-ref plant)."""
    base = [
        ("FMT:0001", "png", "fmt", "FMT:0000"),
        ("FMT:0002", "jpeg", "fmt", "FMT:0000"),
        ("FMT:0003", "webp", "fmt", "FMT:0000"),
        ("FMT:0000", "raster image", "fmt", None),
    ]
    extras = [
        (f"OBI:{1000 + i:07d}", f"assay type {i}", "obi", "OBI:0000070") for i in range(46)
    ]
    return base + extras


def sample_edges_rows() -> list[tuple]:
    """(name, material, organism, parent) with planted violations
    (FIXTURES.md §4; semantics per validation/RelationshipsIssues.py)."""
    rows = []
    for i in range(120):
        rows.append((f"org_{i:03d}", "organism", "Bos taurus" if i % 2 else "Sus scrofa", None))
    for i in range(60):
        parent = f"org_{i % 120:03d}"
        rows.append((f"spec_{i:03d}", "specimen from organism", "Bos taurus" if (i % 120) % 2 else "Sus scrofa", parent))
    # planted: dangling parent
    rows.append(("spec_900", "specimen from organism", "Bos taurus", "org_999"))
    # planted: disallowed material pair (organism derived from specimen)
    rows.append(("org_901", "organism", "Bos taurus", "spec_000"))
    # planted: child/parent species mismatch (org_000 is Sus scrofa)
    rows.append(("child_902", "organism", "Bos taurus", "org_000"))
    # planted: mutual-parent cycle
    rows.append(("cyc_a", "organism", "Bos taurus", "cyc_b"))
    rows.append(("cyc_b", "organism", "Bos taurus", "cyc_a"))
    return rows


# --------------------------------------------------------------------------
# public entry points
# --------------------------------------------------------------------------

def generate_image_fixture(
    out_dir: str | Path,
    n_rows: int = 10_000,
    seed: int = 42,
    n_buckets: int = 8,
    spark: SparkSession | None = None,
) -> dict[str, Path]:
    """Driver-side generation + goldens. Writes under ``out_dir``:
    ``image_caption/`` (parquet, partitioned by fmt,bucket),
    ``image_caption_gt/``, ``expected_violations.parquet``,
    ``expected_verdicts.parquet``, ``ontology_terms.parquet``,
    ``sample_edges.parquet``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = [_gen_row(i, seed, n_buckets) for i in range(n_rows)]
    pdf = _rows_to_pdf(rows)

    id_counts: dict[str, int] = {}
    for r in rows:
        id_counts[r.image_id] = id_counts.get(r.image_id, 0) + 1
    gt_rows = [r for r in rows if id_counts[r.image_id] == 1]
    gt = pd.DataFrame(
        {
            "image_id": [r.image_id for r in gt_rows],
            "row_idx": pd.array([r.idx for r in gt_rows], dtype="int64"),
            "gt_pixels": [r.gt_pixels.tobytes() for r in gt_rows],
            "gt_w": pd.array([r.gt_pixels.shape[1] for r in gt_rows], dtype="int32"),
            "gt_h": pd.array([r.gt_pixels.shape[0] for r in gt_rows], dtype="int32"),
            "gt_caption": [r.gt_caption for r in gt_rows],
        }
    )
    onto_labels = {label.lower() for _, label, _, _ in ontology_terms_rows()}
    viol = _expected_for_rows(rows, onto_labels)
    verd = _verdicts_from_violations(rows, viol)
    onto = pd.DataFrame(
        ontology_terms_rows(), columns=["term", "label", "ontology_name", "parent_term"]
    )
    edges = pd.DataFrame(sample_edges_rows(), columns=["name", "material", "organism", "parent"])

    paths = {}
    if spark is not None:
        sdf = spark.createDataFrame(pdf, schema=IMAGE_SCHEMA)
        (
            sdf.repartition(max(4, n_buckets), "fmt", "bucket")
            .write.mode("overwrite")
            .partitionBy(*PARTITION_COLS)
            .parquet(str(out / "image_caption"))
        )
    else:
        pdf.to_parquet(out / "image_caption", index=False)
    paths["image_caption"] = out / "image_caption"
    for name, frame in [
        ("image_caption_gt", gt),
        ("expected_violations", viol),
        ("expected_verdicts", verd),
        ("ontology_terms", onto),
        ("sample_edges", edges),
    ]:
        p = out / f"{name}.parquet"
        frame.to_parquet(p, index=False)
        paths[name] = p
    return paths


def generate_image_table_distributed(
    spark: SparkSession,
    out_path: str,
    n_rows: int,
    seed: int = 42,
    n_buckets: int = 8,
    n_tasks: int | None = None,
    hw: int = 32,
    hw_fn=None,
) -> None:
    """Executor-side generation for bench-scale tables: deterministic per
    index, encoded in parallel via ``mapInPandas`` — the shape a real 10^12
    backfill would take (no driver bottleneck, no collect). ``hw`` sets the
    square image edge; bench/scaling tables use larger images than the unit
    fixture so per-row decode compute is realistic. ``hw_fn(idx) -> int``
    overrides ``hw`` per row (long-tail size distributions for the
    size-skew stress; must be deterministic in idx)."""
    n_tasks = n_tasks or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                _gen_row(
                    int(i), seed, n_buckets,
                    hw=hw_fn(int(i)) if hw_fn is not None else hw,
                )
                for i in b["id"]
            ]
            yield _rows_to_pdf(rows)

    (
        spark.range(n_rows)
        .repartition(n_tasks)
        .mapInPandas(gen, schema=IMAGE_SCHEMA)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(out_path)
    )


def load_image_table(spark: SparkSession, path: str | Path) -> DataFrame:
    df = spark.read.parquet(str(Path(path)))
    missing = [f.name for f in IMAGE_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(
            f"input table at {path} is missing required columns {missing}; "
            f"expected the north-rule schema {[f.name for f in IMAGE_SCHEMA.fields]}"
        )
    # partition-dir columns come back as strings/ints; normalize types + order
    return df.select(
        "image_id",
        "bytes",
        F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        F.col("fmt").cast("string").alias("fmt"),
        "caption",
        F.col("phash").cast("long").alias("phash"),
        F.col("bucket").cast("int").alias("bucket"),
    )
