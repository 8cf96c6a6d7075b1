"""Regression tests for the round-2 scale/correctness review findings:
AQE-chosen dup-key join strategy on dedup-heavy inputs, keyset + bounded
offset pagination, IVF auto-sampling, per-batch streaming status counts,
and stats/drift completeness across resumed runs."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------- dup-heavy uniqueness

def test_duplicate_keys_heavy_dup_results(spark):
    """~30% duplicated keys: results stay exact on BOTH sides of the
    size gate, and the broadcast hint appears only when the counted
    dup-table size is under the threshold."""
    from dcc_validate_metadata_spark.operators.uniqueness import (
        duplicate_keys,
        gated_dup_table,
    )

    # keys 0..999 appear once; 450 keys appear twice; 'hot' appears 1100x
    rows = (
        [(i, f"k{i}") for i in range(1000)]
        + [(1000 + i, f"d{i % 450}") for i in range(900)]
        + [(2000 + i, "hot") for i in range(1100)]
    )
    df = spark.createDataFrame(rows, "row_id int, key string")
    dups = {r["key"]: r["n"] for r in duplicate_keys(df, "key").collect()}
    assert dups["hot"] == 1100
    assert dups["d0"] == 2 and len(dups) == 451

    # small side of the gate: 451 dup keys < default threshold → broadcast
    viol_small = df.join(gated_dup_table(duplicate_keys(df, "key")), on="key")
    assert "broadcast" in viol_small._jdf.queryExecution().logical().toString().lower()
    assert viol_small.count() == 900 + 1100

    # heavy side: force the threshold below the dup count → no broadcast
    viol_heavy = df.join(
        gated_dup_table(duplicate_keys(df, "key"), max_broadcast_rows=100),
        on="key",
    )
    assert (
        "broadcast"
        not in viol_heavy._jdf.queryExecution().logical().toString().lower()
    )
    assert viol_heavy.count() == 900 + 1100


def test_pipeline_dup_key_gated_broadcast(spark, fixture_dir):
    """The fused pipeline's dup-key join-back goes through the size gate:
    the fixture's dup tables are tiny, so they broadcast, and the
    violation output is unchanged."""
    from dcc_validate_metadata_spark.plans.pipeline import build_violations
    from dcc_validate_metadata_spark.sources.image_table import load_image_table

    df = load_image_table(spark, str(fixture_dir / "image_caption"))
    viol = build_violations(df)
    logical = viol._jdf.queryExecution().logical().toString()
    assert "broadcast" in logical.lower()
    assert viol.filter(F.col("message").contains("must be unique")).count() > 0


# ------------------------------------------------------------- pagination

@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [(f"id{i:03d}", f"name{i % 7}", i) for i in range(100)],
        "rec_id string, label string, rank int",
    )


def test_offset_pagination_bounded_window(people):
    from dcc_validate_metadata_spark.queries.search_api import es_like_search

    page2 = es_like_search(people, sort="rec_id:asc", from_=10, size=10)
    got = [r["rec_id"] for r in page2.collect()]
    assert got == [f"id{i:03d}" for i in range(10, 20)]
    # the global window must run over the bounded top-k, not the table:
    # a GlobalLimit(from_+size) sits below the Window in the optimized plan
    plan = page2._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit 20" in plan
    assert plan.index("Window") < plan.index("GlobalLimit 20")


def test_keyset_pagination_matches_offset(people):
    from dcc_validate_metadata_spark.queries.search_api import es_like_search

    first = es_like_search(people, sort="rec_id:asc", size=10).collect()
    last_key = first[-1]["rec_id"]
    nxt = es_like_search(people, sort="rec_id:asc", size=10, after=last_key)
    got = [r["rec_id"] for r in nxt.collect()]
    assert got == [f"id{i:03d}" for i in range(10, 20)]
    # descending works too
    desc = es_like_search(people, sort="rec_id:desc", size=3, after="id003")
    assert [r["rec_id"] for r in desc.collect()] == ["id002", "id001", "id000"]
    # keyset is a plain filter + top-k: no window anywhere in the plan
    plan = nxt._jdf.queryExecution().optimizedPlan().toString()
    assert "window" not in plan.lower()


def test_keyset_requires_sort(people):
    from dcc_validate_metadata_spark.queries.search_api import es_like_search

    with pytest.raises(ValueError, match="requires a sort"):
        es_like_search(people, size=5, after="id010")
    with pytest.raises(ValueError, match="either after"):
        es_like_search(people, sort="rec_id:asc", size=5, after="x", from_=5)


def test_unsorted_offset_deterministic_across_queries(people):
    from dcc_validate_metadata_spark.queries.search_api import es_like_search

    a = {r["rec_id"] for r in es_like_search(people, from_=0, size=50).collect()}
    b = {r["rec_id"] for r in es_like_search(people, from_=50, size=50).collect()}
    # two SEPARATE queries paginate disjointly and cover everything
    assert not (a & b) and len(a | b) == 100


# ---------------------------------------------------------- IVF sampling

def test_ivf_auto_sampling_triggers(spark):
    from dcc_validate_metadata_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 13), float(i % 7), 1.0]) for i in range(5000)],
        "id int, embedding array<double>",
    )
    cents = train_ivf_centroids(emb, n_lists=4, iters=3, max_train_rows=500)
    assert cents.shape == (4, 3)
    # explicit full-collect path still exact & deterministic
    full1 = train_ivf_centroids(emb, n_lists=4, iters=3, sample_fraction=1.0)
    full2 = train_ivf_centroids(emb, n_lists=4, iters=3, sample_fraction=1.0)
    assert (full1 == full2).all()


# ----------------------------------------------------- J12 taxon enrich

def test_taxon_enrichment_and_violations(spark):
    from dcc_validate_metadata_spark.operators.referential import (
        enrich_taxon,
        taxon_violations,
    )
    from dcc_validate_metadata_spark.queries.validationpack import (
        _SAMPLES_TAXON,
        _TAXON,
        ensure_fixture,
    )

    ensure_fixture()
    df = spark.read.parquet(_SAMPLES_TAXON)
    taxon = spark.read.parquet(_TAXON)
    enriched = enrich_taxon(df, taxon, organism_col="organism")
    got = {r["name"]: r["taxon_id"] for r in enriched.collect()}
    assert got["t_000"] == 9823          # exact match
    assert got["t_001"] == 9913          # case-insensitive (BOS TAURUS)
    assert got["t_007"] == 9823          # sus scrofa lowercased
    assert got["t_006"] is None          # Tyrannosaurus rex: not in snapshot
    assert got["t_009"] is None          # NULL organism stays NULL
    viol = taxon_violations(df, taxon, "organism", keep_cols=["name"])
    rows = viol.collect()
    # 60 rows cycle 10 organisms: 2 unknown non-null organisms -> 12 rows
    assert len(rows) == 12
    assert all(r["severity"] == "error" for r in rows)
    assert any("Tyrannosaurus rex" in r["message"] for r in rows)
    # broadcast hint present on the tiny snapshot side
    assert "broadcast" in enriched._jdf.queryExecution().logical().toString().lower()


def test_release_dup_tables_drains_registry(spark):
    from dcc_validate_metadata_spark.operators.uniqueness import (
        _PERSISTED_DUPS,
        duplicate_keys,
        gated_dup_table,
        release_dup_tables,
    )

    df = spark.createDataFrame(
        [(i, f"k{i % 40}") for i in range(100)], "row_id int, key string"
    )
    gated_dup_table(duplicate_keys(df, "key"))
    gated_dup_table(duplicate_keys(df, "key"))
    assert len(_PERSISTED_DUPS) >= 2
    released = release_dup_tables()
    assert released >= 2 and not _PERSISTED_DUPS


def test_offset_pagination_with_map_column(spark):
    """No-sort offset must skip unorderable map columns instead of
    raising, and still page deterministically."""
    from dcc_validate_metadata_spark.queries.search_api import es_like_search

    df = spark.createDataFrame(
        [(f"id{i:02d}", {"k": str(i)}) for i in range(20)],
        "rec_id string, props map<string,string>",
    )
    a = {r["rec_id"] for r in es_like_search(df, from_=0, size=10).collect()}
    b = {r["rec_id"] for r in es_like_search(df, from_=10, size=10).collect()}
    assert not (a & b) and len(a | b) == 20


# --------------------------------------------------------- perplexity LM

def test_bigram_perplexity_separates_gibberish(spark):
    from dcc_validate_metadata_spark.operators.text import bigram_perplexity_df

    normal = "the cat sat on the mat and the dog sat on the rug"
    docs = [(f"n{i:02d}", normal) for i in range(20)] + [
        ("g00", "zxqv wkjh qpzm vbnx tyru asdl kjqw peiu")
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    ppl = {r["id"]: r["perplexity"] for r in bigram_perplexity_df(df).collect()}
    # in-distribution docs score far lower than the OOV gibberish doc
    assert ppl["n00"] < ppl["g00"] / 3
    assert all(ppl[f"n{i:02d}"] == ppl["n00"] for i in range(20))  # identical docs
    # n_bigrams = token count (start sentinel pairs with the first token)
    rows = {r["id"]: r["n_bigrams"] for r in bigram_perplexity_df(df).collect()}
    assert rows["n00"] == len(normal.split())


def test_repetition_signals(spark):
    from dcc_validate_metadata_spark.operators.text import repetition_df

    docs = [
        ("clean", "alpha beta gamma\ndelta epsilon zeta\neta theta iota"),
        ("dupl", "same line here\nsame line here\nsame line here\nunique one"),
        ("loop", "buy now " * 30),
        ("tiny", "word"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["id"]: r for r in repetition_df(df).collect()}
    assert got["clean"]["dup_line_ratio"] == 0.0
    assert got["dupl"]["dup_line_ratio"] == 0.75          # 3 of 4 lines
    assert got["dupl"]["dup_line_char_ratio"] > 0.7
    assert got["loop"]["top_ngram_char_ratio"] > 0.5      # 'now buy'/'buy now' loops
    assert got["clean"]["top_ngram_char_ratio"] < 0.3
    assert got["tiny"]["top_ngram_char_ratio"] == 0.0     # < n tokens: no grams


def test_top_ngram_ratio_capped_at_one(spark):
    """Overlapping n-gram occurrences double-count shared characters —
    the ratio is capped at 1.0 ('a a a a a': 4x'a a' would claim 12/9)."""
    from dcc_validate_metadata_spark.operators.text import repetition_df

    df = spark.createDataFrame([("d", "a a a a a")], "doc_id string, text string")
    row = repetition_df(df).collect()[0]
    assert row["top_ngram_char_ratio"] == 1.0


def test_ruleset_fingerprint_in_manifest(spark, tmp_path, fixture_dir):
    """Manifest lineage proves WHICH rules a partition was validated
    under: stable across runs, different for different rulesets."""
    import json

    from dcc_validate_metadata_spark.plans.pipeline import run_validation
    from dcc_validate_metadata_spark.rules.model import (
        default_image_ruleset,
        ruleset_from_spec,
    )

    table = str(fixture_dir / "image_caption")
    r = run_validation(spark, table, str(tmp_path / "out"), resume=False)
    recs = [
        json.loads(l)
        for f in (tmp_path / "out" / "manifest").glob("*.jsonl")
        for l in open(f)
    ]
    fps = {rec["lineage"]["ruleset"] for rec in recs}
    assert fps == {default_image_ruleset().fingerprint()}
    # fingerprint is content-derived: stable + sensitive
    assert default_image_ruleset().fingerprint() == default_image_ruleset().fingerprint()
    other = ruleset_from_spec(
        [{"field": "fmt", "tier": "mandatory", "checks": []}], table="image_caption"
    )
    assert other.fingerprint() != default_image_ruleset().fingerprint()
    # compiler-semantics shifts change the fingerprint even with
    # identical rule data (resume must refuse across them)
    import dcc_validate_metadata_spark.rules.model as M

    before = default_image_ruleset().fingerprint()
    orig = M.RULE_SEMANTICS_VERSION
    try:
        M.RULE_SEMANTICS_VERSION = orig + 1
        assert default_image_ruleset().fingerprint() != before
    finally:
        M.RULE_SEMANTICS_VERSION = orig


def test_resume_refuses_ruleset_change(spark, tmp_path, fixture_dir):
    import pytest as _pytest

    from dcc_validate_metadata_spark.plans.pipeline import run_validation
    from dcc_validate_metadata_spark.rules.model import ruleset_from_spec

    table = str(fixture_dir / "image_caption")
    out = str(tmp_path / "out")
    run_validation(spark, table, out, resume=False)
    other = ruleset_from_spec(
        [{"field": "fmt", "tier": "mandatory", "checks": []}],
        table="image_caption",
    )
    with _pytest.raises(ValueError, match="resume refused"):
        run_validation(spark, table, out, ruleset=other, resume=True)
    # same rules resume fine; different rules allowed with resume=False
    r = run_validation(spark, table, out, resume=True)
    assert r.n_rows == 0 and r.skipped_partitions > 0
    r2 = run_validation(spark, table, out, ruleset=other, resume=False)
    assert r2.n_rows > 0
