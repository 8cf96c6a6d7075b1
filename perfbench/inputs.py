"""Seeded inputs for the three workloads, with the oracle data each run
checks against.

Every input is generated from ``--seed`` alone and cached under
``.bench_cache/`` in the checkout, keyed by workload, seed, size and the
image fixture's ``CONTENT_VERSION``. Generation never runs inside a timed
region: ``run.py`` builds the inputs before it starts Spark.

* ``images`` — the v9 image+caption table from ``sources.image_table``'s
  row generator. The golden violations and verdicts come from the same
  independent pure-Python reimplementation ``generate_image_fixture``
  uses. Rows are encoded, and the golden derived, in parallel processes:
  together they cost ~4 ms per row in one process.
* ``records`` — a narrow metadata-only table in the image schema with
  ``bytes`` NULL, a hot ``phash`` on 20% of rows and planted row-rule
  violations. Its expected violations are derived in closed form from the
  plant schedule with numpy/pandas, sharing only ``rules/messages.py``
  with the engine.
* ``workbook`` — a FAANG organism ``.xlsx`` tiled from the query pack's
  organism fixture rows, with unique sample names. The oracle is the
  pack's schema-walking golden ``_faang_expected``.
"""

from __future__ import annotations

import ast
import multiprocessing
import os
import random
import shutil
import zlib
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dcc_validate_metadata_spark.rules import messages as M
from dcc_validate_metadata_spark.rules.constants import MISSING_TOKENS, SAFE_NAME_PATTERN
from dcc_validate_metadata_spark.rules.model import Ruleset, default_image_ruleset
from dcc_validate_metadata_spark.sources import image_table as IT

# Rows per operation. Each input fits in the page cache many times over
# (`images` is ~14 MB and `records` ~7 MB on disk, oracle files
# included), so scans are warm-cache numbers.
SIZES = {"images": 3000, "records": 200_000, "workbook": 2016}
# A small input of the same shape: a traced run probes the layers off
# its workload's path on another workload's small input.
SMALL_SIZES = {"images": 512, "workbook": 96}
N_BUCKETS = 8
ENUM_FMTS = ["png", "jpeg", "webp"]
HOT_PHASH = 0x0BAD_5EED_0BAD_5EED
VIOLATION_COLS = ["fmt", "bucket", "image_id", "field", "severity", "message"]


def cache_dir(cache_root: Path, workload: str, seed: int, size: int) -> Path:
    return cache_root / f"{workload}-n{size}-s{seed}-v{IT.CONTENT_VERSION}"


def ensure_inputs(cache_root: Path, workload: str, seed: int, size: int, procs: int) -> Path:
    """Build the workload's inputs once per key; return their directory.
    The build goes to a temporary sibling that is renamed into place, so
    an interrupted build is never mistaken for a finished one."""
    final = cache_dir(cache_root, workload, seed, size)
    if final.exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    {"images": _build_images, "records": _build_records, "workbook": _build_workbook}[
        workload
    ](tmp, seed, size, procs)
    os.rename(tmp, final)
    return final


def _write_partitioned(pdf: pd.DataFrame, path: Path) -> None:
    """One parquet file per (fmt, bucket) directory — the layout
    ``generate_image_fixture`` writes through Spark."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_to_dataset(table, str(path), partition_cols=IT.PARTITION_COLS)


def _ontology_frame() -> pd.DataFrame:
    return pd.DataFrame(
        IT.ontology_terms_rows(), columns=["term", "label", "ontology_name", "parent_term"]
    )


def _ontology_labels() -> set[str]:
    return {label.lower() for _, label, _, _ in IT.ontology_terms_rows()}


# --------------------------------------------------------------------------
# images
# --------------------------------------------------------------------------


def _image_rows(start: int, stop: int, seed: int) -> list:
    return [IT._gen_row(i, seed, N_BUCKETS) for i in range(start, stop)]


def golden_groups(rows: list, k: int) -> list[list]:
    """Split rows into ``k`` groups whose golden violations, derived per
    group, add up to the whole table's. The golden's messages depend on
    how often each image_id and phash occurs, so every row sharing either
    goes to the first group and each group's counts equal the table's."""
    ids = Counter(r.image_id for r in rows)
    hashes = Counter(r.phash for r in rows)
    shared = [r for r in rows if ids[r.image_id] > 1 or hashes[r.phash] > 1]
    single = [r for r in rows if ids[r.image_id] == 1 and hashes[r.phash] == 1]
    return [shared + single[0::k]] + [single[j::k] for j in range(1, k)]


def _build_images(out: Path, seed: int, n: int, procs: int) -> None:
    chunks = [(n * k // procs, n * (k + 1) // procs) for k in range(procs)]
    with ProcessPoolExecutor(
        max_workers=procs, mp_context=multiprocessing.get_context("spawn")
    ) as pool:
        parts = list(pool.map(_image_rows, *zip(*chunks), [seed] * procs))
        rows = [r for part in parts for r in part]
        groups = golden_groups(rows, procs)
        viol = pd.concat(
            pool.map(IT._expected_for_rows, groups, [_ontology_labels()] * len(groups)),
            ignore_index=True,
        )

    _write_partitioned(IT._rows_to_pdf(rows), out / "image_caption")
    # ground truth for unique image_ids only, as generate_image_fixture
    ids = Counter(r.image_id for r in rows)
    gt_rows = [r for r in rows if ids[r.image_id] == 1]
    pd.DataFrame(
        {
            "image_id": [r.image_id for r in gt_rows],
            "row_idx": pd.array([r.idx for r in gt_rows], dtype="int64"),
            "gt_pixels": [r.gt_pixels.tobytes() for r in gt_rows],
            "gt_w": pd.array([r.gt_pixels.shape[1] for r in gt_rows], dtype="int32"),
            "gt_h": pd.array([r.gt_pixels.shape[0] for r in gt_rows], dtype="int32"),
            "gt_caption": [r.gt_caption for r in gt_rows],
        }
    ).to_parquet(out / "image_caption_gt.parquet", index=False)
    _ontology_frame().to_parquet(out / "ontology_terms.parquet", index=False)
    viol.to_parquet(out / "expected_violations.parquet", index=False)
    IT._verdicts_from_violations(rows, viol).to_parquet(
        out / "expected_verdicts.parquet", index=False
    )


# --------------------------------------------------------------------------
# records
# --------------------------------------------------------------------------

# plant slots, one per 100-row cycle
_DUP_ID, _RANGE, _BAD_FMT, _NULL_CAPTION, _TOKEN_CAPTION = 11, 23, 37, 51, 67


def records_ruleset() -> Ruleset:
    """The image ruleset without any rule on ``bytes``: no decode rule, so
    the decode branch is not planned at all, and no presence rule on a
    column that is NULL by design."""
    base = default_image_ruleset()
    return Ruleset(
        table=base.table, rules=tuple(r for r in base.rules if r.field != "bytes")
    )


def _build_records(out: Path, seed: int, n: int, procs: int) -> None:
    rng = np.random.default_rng([seed, 0x5EC])
    idx = np.arange(n)
    slot = idx % 100

    ids = np.array([f"rec{i:010d}" for i in idx], dtype=object)
    dup = (slot == _DUP_ID) & (idx > 0)
    ids[dup] = ids[idx[dup] - 1]

    u = rng.random(n)
    fmt = np.where(u < 0.80, "jpeg", np.where(u < 0.95, "png", "webp")).astype(object)
    fmt[slot == _BAD_FMT] = "bmp"

    w = rng.integers(16, 4097, n).astype(np.int32)
    h = rng.integers(16, 4097, n).astype(np.int32)
    w[slot == _RANGE] = 0

    vocab = IT._VOCAB
    pool = np.array(
        [
            " ".join(vocab[j] for j in rng.integers(0, len(vocab), rng.integers(3, 13)))
            for _ in range(1024)
        ],
        dtype=object,
    )
    caption = pool[rng.integers(0, len(pool), n)]
    caption[slot == _NULL_CAPTION] = None
    tok = slot == _TOKEN_CAPTION
    caption[tok] = [MISSING_TOKENS[k % len(MISSING_TOKENS)] for k in idx[tok]]

    phash = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, dtype=np.int64)
    phash[rng.random(n) < 0.20] = HOT_PHASH

    bucket = np.array([zlib.crc32(s.encode()) % N_BUCKETS for s in ids], dtype=np.int32)
    table = pd.DataFrame(
        {
            "image_id": ids,
            "bytes": pd.Series([None] * n, dtype=object),
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": phash,
            "bucket": bucket,
        }
    )
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
            ("bucket", pa.int32()),
        ]
    )
    pq.write_to_dataset(
        pa.Table.from_pandas(table, schema=schema, preserve_index=False),
        str(out / "records"),
        partition_cols=IT.PARTITION_COLS,
    )
    _ontology_frame().to_parquet(out / "ontology_terms.parquet", index=False)
    viol = expected_record_violations(table)
    viol.to_parquet(out / "expected_violations.parquet", index=False)
    parts = table[["fmt", "bucket"]].drop_duplicates().itertuples()
    IT._verdicts_from_violations(parts, viol).to_parquet(
        out / "expected_verdicts.parquet", index=False
    )


def expected_record_violations(t: pd.DataFrame) -> pd.DataFrame:
    """Closed-form violations of ``records_ruleset`` over the generated
    table: each rule is a vectorised predicate, each message the
    ``rules/messages.py`` format. No Spark and no rule compiler."""
    parts = []

    def add(mask, field: str, severity: str, messages) -> None:
        sel = t.loc[mask, ["fmt", "bucket", "image_id"]].copy()
        sel["field"], sel["severity"], sel["message"] = field, severity, list(messages)
        parts.append(sel)

    ids = t["image_id"]
    bad_name = ~ids.str.match(SAFE_NAME_PATTERN)
    add(bad_name, "image_id", "error",
        (M.msg_regex(v, "image_id", SAFE_NAME_PATTERN) for v in ids[bad_name]))
    for fld in ("image_id", "phash"):
        n = t[fld].map(t[fld].value_counts())
        m = n > 1
        add(m, fld, "error",
            (M.msg_unique(fld, str(v), int(k)) for v, k in zip(t.loc[m, fld], n[m])))
    for fld in ("w", "h"):
        m = (t[fld] < 1) | (t[fld] > 65536)
        add(m, fld, "error", (M.msg_range(int(v), fld, 1, 65536) for v in t.loc[m, fld]))
    m = ~t["fmt"].isin(ENUM_FMTS)
    add(m, "fmt", "error", (M.msg_enum(v, "fmt", ENUM_FMTS) for v in t.loc[m, "fmt"]))
    labels = _ontology_labels()
    m = ~t["fmt"].str.lower().isin(labels)
    add(m, "fmt", "error", (M.msg_dangling_term(v, "fmt") for v in t.loc[m, "fmt"]))
    cap = t["caption"]
    missing = cap.isna() | (cap.fillna("").str.strip() == "")
    add(missing, "caption", "warning", (M.msg_recommended_missing() for _ in range(missing.sum())))
    present = ~missing
    m = present & cap.fillna("").str.strip().str.lower().isin(MISSING_TOKENS)
    add(m, "caption", "warning",
        (M.msg_missing_token("caption", "image_caption") for _ in range(m.sum())))
    m = present & (cap.fillna("").str.len() > 512)
    add(m, "caption", "error",
        (M.msg_maxlen("caption", len(v), 512) for v in cap[m]))
    out = pd.concat(parts, ignore_index=True)
    return out[VIOLATION_COLS]


# --------------------------------------------------------------------------
# workbook
# --------------------------------------------------------------------------

SHEET = "organism"


def validationpack_helpers(*names: str) -> dict:
    """Load pure helper functions from ``queries/validationpack.py``
    without importing the module: its import materialises the whole
    query-pack fixture under ``/tmp``, outside the checkout the benchmark
    may write to. The functions run with the module's package context,
    so their relative imports resolve as usual."""
    import dcc_validate_metadata_spark.queries as Q

    src_path = Path(Q.__file__).with_name("validationpack.py")
    tree = ast.parse(src_path.read_text())
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in names]
    missing = set(names) - {d.name for d in defs}
    if missing:
        raise LookupError(f"validationpack has no {sorted(missing)}")
    ns = {
        "__name__": "dcc_validate_metadata_spark.queries.validationpack",
        "__package__": "dcc_validate_metadata_spark.queries",
        "__builtins__": __builtins__,
    }
    exec(compile(ast.Module(body=defs, type_ignores=[]), str(src_path), "exec"), ns)
    return {name: ns[name] for name in names}


def workbook_rows(seed: int, n: int) -> list[dict]:
    """``n`` organism rows: the fixture's 96-row plant cycle tiled, with
    unique sample names, in a seed-chosen order."""
    base = validationpack_helpers("_faang_fixture_rows")["_faang_fixture_rows"]()
    rows = []
    for k in range(n):
        r = dict(base[k % len(base)])
        r["sample_name"] = f"ORG_{k:06d}"
        rows.append(r)
    random.Random(seed).shuffle(rows)
    return rows


def _build_workbook(out: Path, seed: int, n: int, procs: int) -> None:
    from dcc_validate_metadata_spark.sources.xlsx import write_workbook

    rows = workbook_rows(seed, n)
    headers = list(rows[0])
    write_workbook(
        out / "submission.xlsx",
        {SHEET: [headers] + [[r[h] for h in headers] for r in rows]},
    )
    expected = validationpack_helpers("_faang_expected")["_faang_expected"](rows)
    pd.DataFrame(expected, columns=["name", "field", "severity", "message"]).to_parquet(
        out / "expected_violations.parquet", index=False
    )
