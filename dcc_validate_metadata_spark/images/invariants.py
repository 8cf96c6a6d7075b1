"""Arrow-batched image decode checks (SURVEY.md X5 — graft-added).

The ONLY per-row Python in the engine, confined to ``mapInPandas`` over
Arrow batches (capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
because binary cells inflate batches — SURVEY.md §7.3). Each row is
decoded by ``codec.decode_image``, which runs the JPEG/WebP bitstream
decode natively where it can (``images/native.py``) with the same pixels
and messages as the pure-Python decoders.

One batch body, :func:`check_batches`, decodes each row ONCE and runs
every check on it: the structural ones (bytes decode, decoded dims ==
declared (w, h), container format == declared ``fmt``) always, and the
north-rule invariants vs ground truth (decoded pixels PSNR >= 40 dB,
caption equality) where a gt record exists. It is a plain function over
pandas frames, so it is testable without Spark. Two entry points build
the one Arrow stage around it:

* ``decode_check_violations`` — structural checks only (no ground truth).
* ``fused_decode_violations`` — structural checks + ground-truth
  invariants. Ground truth LEFT-joins in by image_id before the Arrow
  stage (presence flagged by ``gt_w``), so rows without a gt record
  still get the structural checks.

Both project ONLY the columns the body reads, so the decode branch
holds the plan's one scan of ``bytes``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import messages as M
from .codec import decode_image, psnr


def _viol_schema(keep: list[str], df: DataFrame) -> str:
    parts = []
    for c in keep:
        dt = df.schema[c].dataType.simpleString()
        parts.append(f"{c} {dt}")
    parts += ["field string", "severity string", "message string"]
    return ", ".join(parts)


def _rebalance(src: DataFrame, n: int | None) -> DataFrame:
    """Opt-in size-skew lever for the decode stage: hash-repartition the
    decode branch on ``image_id`` so megapixel rows that cluster in the
    storage layout (size-sorted ingests) spread uniformly across tasks.
    Costs one shuffle of this branch's payload — OFF by default because
    randomly-laid-out tables already mix sizes within every input split
    (measured in BENCH.md's size-skew section) and the shuffle would move
    every ``bytes`` cell. The plan keeps a single bytes-reading scan: the
    exchange sits between the scan and the Arrow stage. Batch memory is
    independently bounded by spark.sql.execution.arrow.maxBytesPerBatch
    (64m default), so one giant row never inflates an Arrow batch."""
    if not n:
        return src
    return src.repartition(n, F.col("image_id"))


def check_batches(
    batches: Iterator[pd.DataFrame],
    keep: list[str],
    missing_msg: str | None,
    psnr_min: float | None,
) -> Iterator[pd.DataFrame]:
    """The decode stage's batch body: one decode per row, one violation
    row ``(keep…, field, severity, message)`` per failed check. With
    ``psnr_min`` set, the batches also carry ``image_id``, ``caption`` and
    LEFT-joined ground truth, where a NULL/NaN ``gt_w`` marks a row with
    no gt record; ``psnr_min=None`` means no ground truth at all.

    ``missing_msg``: when set, a NULL ``bytes`` cell emits this
    mandatory-presence error here — the fused column pass must NOT carry
    the presence check, or its scan would read the binary column just for
    ``isNotNull`` (this branch is the only one allowed to scan ``bytes``)."""
    for b in batches:
        # plain-list extraction once per batch: pandas .iloc per row
        # costs more than the decode itself at Arrow batch sizes
        keep_l = {c: b[c].tolist() for c in keep}
        data_l = b["bytes"].tolist()
        w_l, h_l, fmt_l = b["w"].tolist(), b["h"].tolist(), b["fmt"].tolist()
        if psnr_min is None:
            gw_l = [None] * len(b)
        else:
            id_l = b["image_id"].tolist()
            cap_l, gcap_l = b["caption"].tolist(), b["gt_caption"].tolist()
            gw_l, gh_l = b["gt_w"].tolist(), b["gt_h"].tolist()
            gpix_l = b["gt_pixels"].tolist()
        rows = {c: [] for c in keep}
        fields, sevs, msgs = [], [], []

        def emit(i: int, fld: str, msg: str) -> None:
            for c in keep:
                rows[c].append(keep_l[c][i])
            fields.append(fld)
            sevs.append("error")
            msgs.append(msg)

        for i, data in enumerate(data_l):
            has_gt = gw_l[i] is not None and not (
                isinstance(gw_l[i], float) and np.isnan(gw_l[i])
            )
            if has_gt:
                cap, gcap = cap_l[i], gcap_l[i]
                if (cap if cap is not None else "") != (
                    gcap if gcap is not None else ""
                ):
                    emit(i, "caption", M.msg_caption_mismatch(id_l[i]))
            if data is None:
                if missing_msg is not None:
                    emit(i, "bytes", missing_msg)
                continue
            try:
                pix, container = decode_image(bytes(data))
            except Exception as e:  # noqa: BLE001
                emit(i, "bytes", M.msg_decode_failed(str(e)))
                continue
            dh, dw = pix.shape[:2]
            w, h = w_l[i], h_l[i]
            if dw != w or dh != h:
                emit(i, "bytes", M.msg_dims_mismatch(dw, dh, w, h))
            if container != fmt_l[i]:
                emit(i, "bytes", M.msg_fmt_mismatch(container, fmt_l[i]))
            if not has_gt:
                continue
            gw, gh = int(gw_l[i]), int(gh_l[i])
            gpix = np.frombuffer(bytes(gpix_l[i]), dtype=np.uint8)
            if gpix.size != gh * gw * 3 or pix.shape != (gh, gw, 3):
                continue  # dims mismatch already reported above
            p = psnr(pix, gpix.reshape(gh, gw, 3))
            if p < psnr_min:
                emit(i, "bytes", M.msg_psnr(p, psnr_min))
        out = pd.DataFrame(rows)
        out["field"], out["severity"], out["message"] = fields, sevs, msgs
        yield out


def _decode_stage(
    df: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None,
    rebalance: int | None,
    gt: DataFrame | None = None,
    psnr_min: float | None = None,
) -> DataFrame:
    """The one Arrow decode stage: project only the columns
    :func:`check_batches` reads, optionally rebalance, LEFT-join ground
    truth when given, then ``mapInPandas``."""
    keep = list(keep_cols)
    # _rebalance and the gt join both key on image_id
    key = ["image_id"] if rebalance or gt is not None else []
    cap = ["caption"] if gt is not None else []
    needed = list(dict.fromkeys(keep + key + ["bytes", "w", "h", "fmt"] + cap))
    src = _rebalance(df.select(*needed), rebalance)
    if gt is not None:
        src = src.join(
            gt.select("image_id", "gt_pixels", "gt_w", "gt_h", "gt_caption"),
            on="image_id",
            how="left",
        )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return check_batches(batches, keep, missing_msg, psnr_min)

    return src.mapInPandas(check, schema=_viol_schema(keep, df))


def decode_check_violations(
    df: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None = None,
    rebalance: int | None = None,
) -> DataFrame:
    """Structural decode checks (no ground truth); ``missing_msg`` as in
    :func:`check_batches`."""
    return _decode_stage(df, keep_cols, missing_msg, rebalance)


def fused_decode_violations(
    df: DataFrame,
    gt: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None = None,
    psnr_min: float = 40.0,
    rebalance: int | None = None,
) -> DataFrame:
    """Structural decode checks + ground-truth invariants, one decode per
    row. The gt join is LEFT, so structural checks cover every row while
    caption/PSNR checks fire only on rows with a gt record."""
    return _decode_stage(df, keep_cols, missing_msg, rebalance, gt, psnr_min)
