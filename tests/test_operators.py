"""Operator unit tests: uniqueness vs pandas, column stats vs
pandas, drift detection (planted drifted partition), and partial manifest
resume (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from dcc_validate_metadata_spark.operators.drift import (
    chi_square_drift,
    histogram_by_partition,
    ks_drift_from_quantiles,
)
from dcc_validate_metadata_spark.operators.stats import column_stats
from dcc_validate_metadata_spark.operators.uniqueness import duplicate_keys


# ---------------------------------------------------------------- uniqueness
def test_duplicate_keys_matches_pandas(spark, fixture_dir):
    from dcc_validate_metadata_spark.sources.image_table import load_image_table

    df = load_image_table(spark, fixture_dir / "image_caption")
    pdf = df.select("image_id").toPandas()
    expected = (
        pdf.groupby("image_id").size().reset_index(name="n").query("n > 1")
    )
    got = (
        duplicate_keys(df, "image_id")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert got["image_id"].tolist() == sorted(expected["image_id"])
    assert got.set_index("image_id")["n"].to_dict() == (
        expected.set_index("image_id")["n"].to_dict()
    )


# --------------------------------------------------------------------- stats
def test_column_stats_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 50 + ["b"] * 30,
            "x": list(range(50)) + [None] * 5 + list(range(25)),
            "s": ["v"] * 79 + [None],
        }
    )
    df = spark.createDataFrame(pdf.astype({"x": "object"}))
    out = column_stats(df, group_cols=["g"]).toPandas()
    xa = out[(out.g == "a") & (out["column"] == "x")].iloc[0]
    assert xa["count"] == 50 and xa["n_null"] == 0
    assert xa["min"] == 0.0 and xa["max"] == 49.0
    assert abs(xa["mean"] - 24.5) < 1e-9
    xb = out[(out.g == "b") & (out["column"] == "x")].iloc[0]
    assert xb["count"] == 30 and xb["n_null"] == 5
    assert xb["null_rate"] == pytest.approx(5 / 30)
    sb = out[(out.g == "b") & (out["column"] == "s")].iloc[0]
    assert sb["n_null"] == 1 and pd.isna(sb["mean"])


# --------------------------------------------------------------------- drift
@pytest.fixture(scope="module")
def drift_df(spark):
    rng = np.random.default_rng(7)
    parts = []
    for p in ["p0", "p1", "p2"]:
        parts.append(
            pd.DataFrame({"part": p, "v": rng.normal(100.0, 10.0, 4000)})
        )
    # planted drift: shifted mean
    parts.append(pd.DataFrame({"part": "p_drift", "v": rng.normal(140.0, 10.0, 4000)}))
    return spark.createDataFrame(pd.concat(parts))


def test_chi_square_flags_only_drifted(spark, drift_df):
    hist = histogram_by_partition(drift_df, "v", ["part"], n_bins=16, lo=50.0, hi=200.0)
    res = chi_square_drift(hist, ["part"], {"part": "p0"}, n_bins=16)
    flags = {r["partition"]["part"]: r["drifted"] for r in res}
    assert flags["p_drift"] is True
    assert flags["p1"] is False and flags["p2"] is False


def test_ks_flags_only_drifted(spark, drift_df):
    res = ks_drift_from_quantiles(drift_df, "v", ["part"], {"part": "p0"})
    flags = {r["partition"]["part"]: r["drifted"] for r in res}
    ks = {r["partition"]["part"]: r["ks"] for r in res}
    assert flags["p_drift"] is True and ks["p_drift"] > 0.5
    assert flags["p1"] is False and flags["p2"] is False


# ------------------------------------------------------------ partial resume
def test_partial_manifest_resume(spark, fixture_dir, tmp_path):
    """Kill-after-K-partitions simulation: pre-commit a manifest covering a
    subset of partitions; the next run must scan only the remainder and the
    union of outputs must equal a clean full run."""
    from dcc_validate_metadata_spark.plans.manifest import Manifest
    from dcc_validate_metadata_spark.plans.pipeline import run_validation
    from dcc_validate_metadata_spark.sources.image_table import load_image_table

    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    df = load_image_table(spark, fixture_dir / "image_caption")
    part_counts = {
        (r["fmt"], r["bucket"]): r["n"]
        for r in df.groupBy("fmt", "bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    done_subset = sorted(part_counts)[: len(part_counts) // 2]

    out = tmp_path / "partial"
    Manifest(out).commit(
        [{"fmt": f, "bucket": b, "status": "done"} for f, b in done_subset]
    )
    r = run_validation(
        spark, str(fixture_dir / "image_caption"), str(out), ontology=ontology
    )
    assert r.skipped_partitions == len(done_subset)
    expected_rows = sum(
        n for k, n in part_counts.items() if k not in set(done_subset)
    )
    assert r.n_rows == expected_rows
    # violations written only for the un-skipped partitions
    written = spark.read.parquet(str(out / "violations"))
    got_parts = {
        (r["fmt"], int(r["bucket"]))
        for r in written.select("fmt", "bucket").distinct().collect()
    }
    assert got_parts.isdisjoint(set(done_subset))


def test_run_validation_with_stats_and_drift(spark, fixture_dir, tmp_path):
    import json

    from dcc_validate_metadata_spark.plans.pipeline import run_validation

    ontology = spark.read.parquet(str(fixture_dir / "ontology_terms.parquet"))
    out = tmp_path / "statsout"
    run_validation(
        spark,
        str(fixture_dir / "image_caption"),
        str(out),
        ontology=ontology,
        with_stats=True,
        drift_reference={"fmt": "jpeg"},
    )
    stats = spark.read.parquet(str(out / "stats"))
    cols_profiled = {r["column"] for r in stats.select("column").distinct().collect()}
    assert "bytes" not in cols_profiled  # profile scan must stay pruned
    assert {"w", "h", "caption", "phash"} <= cols_profiled
    w_stats = stats.filter("column = 'w'").collect()
    assert all(r["count"] > 0 for r in w_stats)

    report = json.loads((out / "drift.json").read_text())
    assert report["reference"] == {"fmt": "jpeg"}
    parts = {e["partition"]["fmt"] for e in report["chi_square"]}
    assert parts and "jpeg" not in parts  # reference excluded from results
    assert all("drifted" in e for e in report["ks"])


def test_connected_components_chain_and_clusters(spark):
    """Label propagation: a 6-node chain (worst diameter), a triangle,
    and an isolated pair all resolve to min-id components."""
    from dcc_validate_metadata_spark.operators.components import (
        connected_components,
        dedup_keep_list,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a int, id_b int",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert all(comp[n] == 1 for n in range(1, 7))
    assert all(comp[n] == 10 for n in (10, 11, 12))
    assert comp[20] == comp[21] == 20

    # the distributed path (gate forced off) computes the same fixpoint
    comp_dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert comp_dist == comp

    keep = {r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in dedup_keep_list(pairs).collect()}
    assert keep[1] == (1, True) and keep[6] == (1, False)
    assert sum(1 for _, k in keep.values() if k) == 3  # one keeper per cluster

    # pathological cap: a chain longer than max_iter raises, not hangs
    import pytest as _pytest

    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a int, id_b int"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(long_chain, max_iter=2, local_threshold=0)


def test_connected_components_paths_agree_random_graph(spark):
    """Local union-find and distributed label propagation compute the
    same fixpoint on a seeded random graph mixing chains, cliques and
    singleton pairs (deeper than the hand-built cases)."""
    import random

    from dcc_validate_metadata_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(7)
    edges = []
    for base in range(0, 120, 12):  # ten 8-node chains (diameter 7)
        edges += [(base + i, base + i + 1) for i in range(7)]
    edges += [(200 + a, 200 + b) for a in range(6) for b in range(a + 1, 6)]
    edges += [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(30)]
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    local = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    dist = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, local_threshold=0, max_iter=30
        ).collect()
    }
    assert dist == local and len(local) > 80


def test_phash_neardup_exact_recall_vs_bruteforce(spark):
    """Banded phash Hamming join (8 bands, radius 6) must equal the
    quadratic brute force exactly — pigeonhole guarantees recall when
    max_hamming < n_bands — and reject an unsound configuration."""
    import itertools
    import random

    import pytest as _pytest

    from pyspark.sql import functions as F

    from dcc_validate_metadata_spark.operators.dedup import phash_neardup_pairs

    rng = random.Random(3)
    rows = []
    base_hashes = [rng.getrandbits(63) for _ in range(40)]
    for i, h in enumerate(base_hashes):
        rows.append((f"a{i:02d}", h))
        # twins at hamming 1..6 and a far variant
        flip = 0
        for k in range(1 + i % 6):
            flip |= 1 << ((h >> k) % 62)  # stay inside signed int64
        rows.append((f"b{i:02d}", h ^ flip))
        rows.append((f"c{i:02d}", h ^ ((1 << 50) - 1)))  # far away
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_pairs(df, max_hamming=6, n_bands=8).collect()
    }
    expect = {}
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin(ha ^ hb).count("1")
        if d <= 6:
            key = (ia, ib) if ia < ib else (ib, ia)
            expect[key] = d
    assert got == expect and len(expect) > 0

    with _pytest.raises(ValueError, match="max_hamming < n_bands"):
        phash_neardup_pairs(df, max_hamming=8, n_bands=8)
