"""The benchmark's own inputs: the parallel images golden equals the
single-pass one, and the records oracle matches the plant schedule."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from dcc_validate_metadata_spark.sources import image_table as IT
from perfbench import inputs


def _multiset(df: pd.DataFrame) -> Counter:
    return Counter(map(tuple, df[inputs.VIOLATION_COLS].astype(str).values.tolist()))


def test_grouped_image_golden_equals_single_pass():
    rows = inputs._image_rows(0, 404, seed=3)
    labels = inputs._ontology_labels()
    whole = IT._expected_for_rows(rows, labels)
    groups = inputs.golden_groups(rows, 4)
    assert sorted(r.idx for g in groups for r in g) == list(range(404))
    parts = pd.concat([IT._expected_for_rows(g, labels) for g in groups])
    assert _multiset(parts) == _multiset(whole)


def test_records_oracle_follows_plant_schedule(tmp_path):
    inputs._build_records(tmp_path, seed=7, n=20_000, procs=1)
    viol = pd.read_parquet(tmp_path / "expected_violations.parquet")
    by = viol.groupby(["field", "severity"]).size().to_dict()
    # one planted row per 100-row cycle, each id duplicate hits two rows
    assert by[("image_id", "error")] == 2 * 200
    assert by[("w", "error")] == 200
    assert by[("fmt", "error")] == 2 * 200  # enum + dangling ontology term
    assert by[("caption", "warning")] == 2 * 200  # NULL + missing-value token
    hot = by[("phash", "error")] / 20_000
    assert 0.18 < hot < 0.22
    rows_hit = viol["image_id"].nunique() / 20_000
    assert 0.22 < rows_hit < 0.28
