"""Arrow-batched image decode checks (SURVEY.md X5 — graft-added).

The ONLY per-row Python in the engine, confined to ``mapInPandas`` over
Arrow batches (capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
because binary cells inflate batches — SURVEY.md §7.3). Each row is
decoded by ``codec.decode_image``, which runs the JPEG/WebP bitstream
decode natively where it can (``images/native.py``) with the same pixels
and messages as the pure-Python decoders. Three entry points:

* ``decode_check_violations`` — self-contained structural checks: bytes
  decode, decoded dims == declared (w, h), container format == declared
  ``fmt``. Projects ONLY the needed columns into the UDF stage so the scan
  stays pruned.
* ``invariant_violations`` — north-rule invariant vs ground truth: decoded
  pixels PSNR >= 40 dB (lossy) / exact (lossless), caption equality.
  Ground truth joins in by image_id before the UDF stage.
* ``fused_decode_violations`` — BOTH of the above in ONE Arrow stage with
  ONE decode per row and ONE scan of ``bytes``. Entropy decode is the
  pipeline's dominant cost now that ``jpeg`` is a real T.81 codec, so the
  validation pipeline uses this whenever ground truth is available; the
  split entry points remain for gt-less callers and for the per-family
  unit tests. Ground truth LEFT-joins in (presence flagged by ``gt_w``),
  so rows without a gt record still get the structural checks — the same
  row set the split pair produces.
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
    from pyspark.sql import functions as F

    return src.repartition(n, F.col("image_id"))


def decode_check_violations(
    df: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None = None,
    rebalance: int | None = None,
) -> DataFrame:
    """``missing_msg``: when set, a NULL ``bytes`` cell emits this
    mandatory-presence error here — the fused column pass must NOT carry
    the presence check, or its scan would read the binary column just for
    ``isNotNull`` (this branch is the only one allowed to scan ``bytes``)."""
    keep = list(keep_cols)
    # _rebalance partitions on image_id, so it must survive the projection
    key = ["image_id"] if rebalance else []
    needed = list(dict.fromkeys(keep + key + ["bytes", "w", "h", "fmt"]))
    src = _rebalance(df.select(*needed), rebalance)
    schema = _viol_schema(keep, df)

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # plain-list extraction once per batch: pandas .iloc per row
            # costs more than the decode itself at Arrow batch sizes
            keep_l = {c: b[c].tolist() for c in keep}
            data_l = b["bytes"].tolist()
            w_l, h_l, fmt_l = b["w"].tolist(), b["h"].tolist(), b["fmt"].tolist()
            rows = {c: [] for c in keep}
            fields, sevs, msgs = [], [], []

            def emit(i: int, fld: str, msg: str) -> None:
                for c in keep:
                    rows[c].append(keep_l[c][i])
                fields.append(fld)
                sevs.append("error")
                msgs.append(msg)

            for i, data in enumerate(data_l):
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
            out = pd.DataFrame(rows)
            out["field"], out["severity"], out["message"] = fields, sevs, msgs
            yield out

    return src.mapInPandas(check, schema=schema)


def fused_decode_violations(
    df: DataFrame,
    gt: DataFrame,
    keep_cols: list[str],
    missing_msg: str | None = None,
    psnr_min: float = 40.0,
    rebalance: int | None = None,
) -> DataFrame:
    """Structural decode checks + ground-truth invariants, one decode per
    row. Emits exactly the union of ``decode_check_violations(df, ...)``
    and ``invariant_violations(df, gt, ...)`` (row order aside): the gt
    join is LEFT, with ``gt_w``'s non-nullness as the presence flag, so
    structural checks cover every row while caption/PSNR checks fire only
    where the split pair's inner join would have produced a row."""
    keep = list(keep_cols)
    needed = list(
        dict.fromkeys(keep + ["image_id", "bytes", "w", "h", "fmt", "caption"])
    )
    src = _rebalance(df.select(*needed), rebalance).join(
        gt.select("image_id", "gt_pixels", "gt_w", "gt_h", "gt_caption"),
        on="image_id",
        how="left",
    )
    schema = _viol_schema(keep, df)

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keep_l = {c: b[c].tolist() for c in keep}
            id_l = b["image_id"].tolist()
            data_l = b["bytes"].tolist()
            w_l, h_l, fmt_l = b["w"].tolist(), b["h"].tolist(), b["fmt"].tolist()
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

    return src.mapInPandas(check, schema=schema)


def invariant_violations(
    df: DataFrame,
    gt: DataFrame,
    keep_cols: list[str],
    psnr_min: float = 40.0,
) -> DataFrame:
    """PSNR + caption-equality violations vs the ground-truth table
    ``(image_id, gt_pixels, gt_w, gt_h, gt_caption)``. The join runs before
    the UDF so Spark plans it (sort-merge or broadcast per stats); only the
    decode + PSNR math is Python."""
    keep = list(keep_cols)
    src = df.select(
        *dict.fromkeys(keep + ["image_id", "bytes", "caption"])
    ).join(
        gt.select("image_id", "gt_pixels", "gt_w", "gt_h", "gt_caption"),
        on="image_id",
        how="inner",
    )
    schema = _viol_schema(keep, df)

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keep_l = {c: b[c].tolist() for c in keep}
            id_l = b["image_id"].tolist()
            cap_l, gcap_l = b["caption"].tolist(), b["gt_caption"].tolist()
            data_l = b["bytes"].tolist()
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
                cap, gcap = cap_l[i], gcap_l[i]
                if (cap if cap is not None else "") != (gcap if gcap is not None else ""):
                    emit(i, "caption", M.msg_caption_mismatch(id_l[i]))
                if data is None:
                    continue
                try:
                    pix, _ = decode_image(bytes(data))
                except Exception:  # decode failures are decode_check's job
                    continue
                gw, gh = int(gw_l[i]), int(gh_l[i])
                gpix = np.frombuffer(bytes(gpix_l[i]), dtype=np.uint8)
                if gpix.size != gh * gw * 3 or pix.shape != (gh, gw, 3):
                    continue  # dims mismatch is decode_check's job
                p = psnr(pix, gpix.reshape(gh, gw, 3))
                if p < psnr_min:
                    emit(i, "bytes", M.msg_psnr(p, psnr_min))
            out = pd.DataFrame(rows)
            out["field"], out["severity"], out["message"] = fields, sevs, msgs
            yield out

    return src.mapInPandas(check, schema=schema)
