"""Golden end-to-end test: the engine's violation rows and per-partition
verdicts must EXACTLY match the fixture generator's independently computed
expectations (violation-row exactness target, BASELINE.json `metric`)."""

from __future__ import annotations

import pandas as pd
import pytest

from dcc_validate_metadata_spark.plans.pipeline import (
    build_verdicts,
    build_violations,
    run_validation,
)
from dcc_validate_metadata_spark.sources.image_table import load_image_table

VIOL_COLS = ["fmt", "bucket", "image_id", "field", "severity", "message"]


def _norm(pdf: pd.DataFrame, cols) -> pd.DataFrame:
    return (
        pdf[list(cols)]
        .astype({"bucket": "int64"})
        .sort_values(list(cols))
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def run(spark, fixture_dir):
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    gt = spark.read.parquet(str(fixture_dir / "image_caption_gt.parquet"))
    df = load_image_table(spark, fixture_dir / "image_caption")
    violations = build_violations(df, ontology=ontology, gt=gt).toPandas()
    verdicts = build_verdicts(df, build_violations(df, ontology=ontology, gt=gt)).toPandas()
    expected_v = pd.read_parquet(fixture_dir / "expected_violations.parquet")
    expected_d = pd.read_parquet(fixture_dir / "expected_verdicts.parquet")
    return violations, verdicts, expected_v, expected_d


def test_violation_rows_exact(run):
    got, _, exp, _ = run
    g = _norm(got, VIOL_COLS)
    e = _norm(exp, VIOL_COLS)
    if not g.equals(e):
        merged = g.merge(e, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"]
        raise AssertionError(f"violation mismatch ({len(diff)} rows):\n{diff.head(30)}")


def test_verdicts_exact(run):
    _, got, _, exp = run
    cols = ["fmt", "bucket", "pass", "n_errors", "n_warnings"]
    g = _norm(got, cols)
    e = _norm(exp, cols)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)


def test_run_validation_writes_and_resumes(spark, fixture_dir, tmp_path):
    out = tmp_path / "valout"
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    r1 = run_validation(
        spark, str(fixture_dir / "image_caption"), str(out), ontology=ontology
    )
    assert r1.n_rows == 1000
    assert r1.skipped_partitions == 0
    written = spark.read.parquet(str(out / "violations"))
    assert written.count() > 0
    # resume: everything done → zero rows scanned, all partitions skipped
    r2 = run_validation(
        spark, str(fixture_dir / "image_caption"), str(out), ontology=ontology
    )
    assert r2.n_rows == 0
    assert r2.skipped_partitions == r1.verdicts.count()


def test_violation_rows_exact_without_gt(spark, fixture_dir):
    """Without ground truth the decode branch is the same batch body with
    its gt checks off: the golden rows minus the caption-mismatch and
    PSNR rows, exactly."""
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    df = load_image_table(spark, fixture_dir / "image_caption")
    got = build_violations(df, ontology=ontology).toPandas()
    exp = pd.read_parquet(fixture_dir / "expected_violations.parquet")
    gt_only = exp["message"].str.startswith(
        ("Caption doesn't match ground truth for ", "Decoded image PSNR ")
    )
    assert gt_only.sum() > 0
    pd.testing.assert_frame_equal(
        _norm(got, VIOL_COLS), _norm(exp[~gt_only], VIOL_COLS)
    )


def test_decode_check_rebalance_without_image_id_kept(spark, fixture_dir):
    """``rebalance`` hash-partitions the decode branch on ``image_id``,
    which must be projected even when ``keep_cols`` leaves it out; the
    violations are the unbalanced ones."""
    from dcc_validate_metadata_spark.images.invariants import decode_check_violations

    df = load_image_table(spark, fixture_dir / "image_caption")
    keep = ["fmt", "bucket"]
    cols = keep + ["field", "severity", "message"]
    plain = decode_check_violations(df, keep).toPandas()
    balanced = decode_check_violations(df, keep, rebalance=4)
    assert balanced.rdd.getNumPartitions() == 4
    got = balanced.toPandas()
    assert list(got.columns) == cols and len(plain) > 0
    pd.testing.assert_frame_equal(_norm(got, cols), _norm(plain, cols))



# Spark jobs of one run_validation on the fixture with ontology + ground
# truth. Each scan, aggregate and write the run needs happens once; a job
# that re-runs finished work (a second count scan, verdicts computed twice,
# a two-pass uniqueness count) pushes the count past this bound.
MAX_VALIDATION_JOBS = 25


def test_run_validation_job_count(spark, fixture_dir, tmp_path):
    sc = spark.sparkContext._jsc.sc()

    def jobs():  # the status store's job list, newest job first
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().jobsList(None)

    # reading a parquet file's schema can run a job: read before the mark
    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    gt = spark.read.parquet(str(fixture_dir / "image_caption_gt.parquet"))
    before = jobs()
    mark = before.apply(0).jobId() if before.size() else -1
    r = run_validation(
        spark, str(fixture_dir / "image_caption"), str(tmp_path / "out"),
        ontology=ontology, gt=gt,
    )
    assert r.n_rows == 1000
    after = jobs()
    n_jobs = 0
    while n_jobs < after.size() and after.apply(n_jobs).jobId() > mark:
        n_jobs += 1
    assert n_jobs <= MAX_VALIDATION_JOBS, f"run_validation ran {n_jobs} Spark jobs"
