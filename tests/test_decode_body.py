"""The decode stage's batch body, ``invariants.check_batches``, called on
a plain pandas frame: no Spark session, so it is the fast probe for edits
to the decode checks. The Spark entry points around it are covered by
``tests/test_validation_golden.py``."""

from __future__ import annotations

import numpy as np
import pandas as pd

from dcc_validate_metadata_spark.images import codec
from dcc_validate_metadata_spark.images.invariants import check_batches
from dcc_validate_metadata_spark.rules import messages as M

KEEP = ["image_id"]
MISSING = M.msg_mandatory_missing("bytes")


def _pix(v: int) -> np.ndarray:
    return np.full((4, 4, 3), v, dtype=np.uint8)


def _batch() -> pd.DataFrame:
    png = codec.encode_png(_pix(0))
    # (image_id, bytes, w, h, fmt, caption, gt_pixels, gt_w, gt_h, gt_caption)
    rows = [
        ("null", None, 4, 4, "png", "c", None, None, None, None),
        ("garbage", b"garbage", 4, 4, "png", "c", None, None, None, None),
        # dims and fmt both wrong; its gt record matches the pixels
        ("mismatch", png, 5, 4, "jpeg", "c", _pix(0).tobytes(), 4, 4, "c"),
        # no gt record: the caption differs from the NULL gt caption, but
        # caption and PSNR are only checked against a gt record
        ("no_gt", png, 4, 4, "png", "c", None, None, None, None),
        ("gt_fail", png, 4, 4, "png", "a", _pix(255).tobytes(), 4, 4, "b"),
        ("clean", png, 4, 4, "png", "c", _pix(0).tobytes(), 4, 4, "c"),
    ]
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption",
            "gt_pixels", "gt_w", "gt_h", "gt_caption"]
    b = pd.DataFrame(rows, columns=cols)
    # Arrow hands a nullable int column to pandas as float64 with NaN
    b["gt_w"] = b["gt_w"].astype("float64")
    b["gt_h"] = b["gt_h"].astype("float64")
    return b


def _run(missing_msg, psnr_min) -> list[tuple]:
    out = pd.concat(list(check_batches(iter([_batch()]), KEEP, missing_msg, psnr_min)))
    assert list(out.columns) == KEEP + ["field", "severity", "message"]
    assert set(out["severity"]) == {"error"}
    return sorted(zip(out["image_id"], out["field"], out["message"]))


STRUCTURAL = [
    ("garbage", "bytes", M.msg_decode_failed("unrecognized image container")),
    ("mismatch", "bytes", M.msg_dims_mismatch(4, 4, 5, 4)),
    ("mismatch", "bytes", M.msg_fmt_mismatch("png", "jpeg")),
]


def test_check_batches_with_ground_truth():
    assert np.isnan(_batch()["gt_w"][3])
    p = codec.psnr(_pix(0), _pix(255))
    assert _run(MISSING, 40.0) == sorted(
        STRUCTURAL
        + [
            ("null", "bytes", MISSING),
            ("gt_fail", "caption", M.msg_caption_mismatch("gt_fail")),
            ("gt_fail", "bytes", M.msg_psnr(p, 40.0)),
        ]
    )


def test_check_batches_without_ground_truth():
    # psnr_min=None: the gt columns are ignored even when present
    assert _run(None, None) == sorted(STRUCTURAL)
    assert _run(MISSING, None) == sorted(STRUCTURAL + [("null", "bytes", MISSING)])
