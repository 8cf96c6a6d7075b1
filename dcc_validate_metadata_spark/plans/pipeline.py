"""End-to-end validation pipeline.

Spark shape of the reference's validation chord (``validation/views.py:
28-31`` — three Celery branches + a positional merge, SURVEY.md §3.1):
here the rule families are independent DataFrames over the SAME scan,
unioned into one violations table — no barrier, no ``JoinedResults`` (J10
eliminated). Per-partition verdicts are the A5 mapping (any error in the
partition → fail). Outputs are written with dynamic partition overwrite so
re-running a partition is idempotent; the manifest (plans/manifest.py)
records completion for resume.

Flow:
    load → [row rules | uniqueness | broadcast referential |
            Arrow decode checks | (optional) ground-truth invariants]
         → union → violations(fmt,bucket,image_id,field,severity,message)
         → verdicts(fmt,bucket,pass,n_errors,n_warnings)
         → parquet + manifest
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__
from ..images.invariants import (
    decode_check_violations,
    fused_decode_violations,
)
from ..rules.model import Ruleset, default_image_ruleset
from .manifest import Manifest

KEEP = ["fmt", "bucket", "image_id"]
PART_KEYS = ["fmt", "bucket"]


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    n_rows: int
    skipped_partitions: int
    elapsed_sec: float
    # collected verdict rows (one per partition) — already materialized by
    # the run, so callers never re-trigger the verdict join
    verdict_rows: list = None


def build_violations(
    df: DataFrame,
    ruleset: Ruleset | None = None,
    ontology: DataFrame | None = None,
    gt: DataFrame | None = None,
    psnr_min: float = 40.0,
    decode_rebalance: int | None = None,
) -> DataFrame:
    """All violation families as ONE wide pass over the fact table plus an
    Arrow decode branch — lazy except the per-unique-rule dup-size probe
    (a limit+count on the aggregated dup table, see below).

    Set-level (uniqueness) and join-level (referential) checks fold into
    the same ``select`` as the row rules: the ontology key set is tiny by
    construction and broadcasts; the duplicate-key tables from the
    per-key count are size-gated (operators/uniqueness.gated_dup_table —
    broadcast only when a counted probe proves them small; dedup-heavy
    corpora keep the shuffle join and can never OOM a broadcast). The
    probe makes this function run one tiny Spark action per unique rule;
    everything else stays lazy. Every non-UDF violation struct
    is emitted from a single exploded array (rules/compiler.
    explode_violations; the reference's three Celery chord branches —
    SURVEY.md §3.1 — collapse into one generated stage). The table
    is scanned with ``bytes`` pruned away; only the decode branch reads it.
    """
    from ..operators.uniqueness import duplicate_keys, gated_dup_table
    from ..rules import messages as M
    from ..rules.compiler import compile_rule, explode_violations

    ruleset = ruleset or default_image_ruleset()

    # the presence check on the `bytes` column moves into the decode
    # branch: even `bytes IS NOT NULL` forces the scan to read the payload
    # pages, and only the decode branch may touch `bytes` (PLANS.md
    # audit). Scoped to the decode branch's own column — a mandatory rule
    # on any OTHER binary column stays in the fused pass (it costs a scan
    # of that column, but it is enforced).
    binary_missing_msg = None
    exprs = []
    for rule in ruleset.row_rules:
        if (
            rule.kind == "mandatory"
            and rule.field == "bytes"
            and rule.tier == "mandatory"
            and ruleset.udf_rules
        ):
            binary_missing_msg = M.msg_mandatory_missing(rule.field)
            continue
        col = compile_rule(rule, df, ruleset.table)
        if col is not None:
            exprs.append(col)

    main = df
    # uniqueness: per-field dup tables (one per-key count), broadcast back
    for i, rule in enumerate(ruleset.unique_rules):
        fld = rule.field
        # size-gated broadcast: tiny for clean inputs (broadcast, fact
        # side untouched) but can reach a large fraction of the keys on
        # dedup-heavy corpora, where the gate keeps the shuffle join
        # instead of OOMing a forced broadcast
        dups = gated_dup_table(
            duplicate_keys(df, fld).withColumnRenamed("n", f"_dupn_{i}")
        )
        main = main.join(dups, on=fld, how="left")
        exprs.append(
            F.when(
                F.col(f"_dupn_{i}").isNotNull(),
                F.struct(
                    F.lit(fld).alias("field"),
                    F.lit("error").alias("severity"),
                    M.msg_unique(
                        fld, F.col(fld).cast("string"), F.col(f"_dupn_{i}").cast("string")
                    ).alias("message"),
                ),
            )
        )
    # referential: broadcast ontology key set, null-match → dangling
    if ontology is not None:
        for i, rule in enumerate(ruleset.ref_rules):
            fld = rule.field
            keys = ontology.select(
                F.lower(F.col("label")).alias(f"_refk_{i}")
            ).distinct()
            main = main.join(
                F.broadcast(keys),
                on=F.lower(F.col(fld)) == F.col(f"_refk_{i}"),
                how="left",
            )
            exprs.append(
                F.when(
                    F.col(fld).isNotNull() & F.col(f"_refk_{i}").isNull(),
                    F.struct(
                        F.lit(fld).alias("field"),
                        F.lit("error").alias("severity"),
                        M.msg_dangling_term(F.col(fld).cast("string"), fld).alias("message"),
                    ),
                )
            )

    parts = [explode_violations(main, exprs, KEEP)]
    if ruleset.udf_rules:
        if gt is not None:
            parts.append(
                fused_decode_violations(
                    df, gt, KEEP,
                    missing_msg=binary_missing_msg, psnr_min=psnr_min,
                    rebalance=decode_rebalance,
                )
            )
        else:
            parts.append(
                decode_check_violations(
                    df, KEEP,
                    missing_msg=binary_missing_msg,
                    rebalance=decode_rebalance,
                )
            )
    return reduce(DataFrame.unionByName, parts)


ANNOTATE_FIELDS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def build_annotated(df: DataFrame, violations: DataFrame) -> DataFrame:
    """S6 mapping (submission/AnnotateTemplate.py:13-214): the annotated-
    template sink becomes a WIDE overlay — one row per distinct
    (fmt, bucket, image_id), one ``<field>_issues`` column per template
    field holding the sorted '|'-joined ``severity:message`` list (empty
    string when clean). One groupBy over the small violations table plus a
    left join back onto the distinct row keys."""
    msg = F.concat(F.col("severity"), F.lit(":"), F.col("message"))
    agg = violations.groupBy(*KEEP).agg(
        *[
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(F.when(F.col("field") == fld, msg))
                ),
            ).alias(f"{fld}_issues")
            for fld in ANNOTATE_FIELDS
        ]
    )
    keys = df.select(*KEEP).distinct()
    out = keys.join(agg, on=KEEP, how="left")
    return out.select(
        *KEEP,
        *[
            F.coalesce(F.col(f"{fld}_issues"), F.lit("")).alias(f"{fld}_issues")
            for fld in ANNOTATE_FIELDS
        ],
    )


def build_verdicts(df: DataFrame, violations: DataFrame) -> DataFrame:
    """Per-partition pass/fail (A5 mapping): every input partition appears,
    pass = zero errors. The verdict agg shuffles only the tiny violation
    table; the partition list comes from a metadata-only distinct on the
    partition columns."""
    parts = df.select(*PART_KEYS).distinct()
    counts = violations.groupBy(*PART_KEYS).agg(
        F.sum(F.when(F.col("severity") == "error", 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("severity") == "warning", 1).otherwise(0)).alias("n_warnings"),
    )
    return (
        parts.join(counts, on=PART_KEYS, how="left")
        .select(
            *PART_KEYS,
            F.coalesce(F.col("n_errors"), F.lit(0)).cast("long").alias("n_errors"),
            F.coalesce(F.col("n_warnings"), F.lit(0)).cast("long").alias("n_warnings"),
        )
        .withColumn("pass", F.col("n_errors") == 0)
        .select(*PART_KEYS, "pass", "n_errors", "n_warnings")
    )


def run_validation(
    spark: SparkSession,
    table_path: str,
    out_dir: str,
    ruleset: Ruleset | None = None,
    ontology: DataFrame | None = None,
    gt: DataFrame | None = None,
    resume: bool = True,
    with_stats: bool = False,
    drift_reference: dict | None = None,
    decode_rebalance: int | None = None,
) -> ValidationResult:
    """Validate the image+caption table, writing violations + verdicts +
    manifest under ``out_dir``. With ``resume=True``, partitions recorded
    ``done`` in the manifest are pruned from the scan (partition filter on
    fmt/bucket → Parquet/Iceberg partition pruning, no data read for them).

    ``with_stats=True`` additionally writes per-(fmt,bucket) column
    profiles (``stats/`` — count / null-rate / min / max / mean /
    approx-quantiles, `bytes` excluded so the profile scan stays pruned)
    and, when ``drift_reference`` names a reference partition (e.g.
    ``{"fmt": "jpeg"}``), chi-square + KS drift verdicts per fmt over the
    caption-length distribution (``drift.json``) — sketch-sized driver
    work, per the north-star drift mandate."""
    from ..sources.image_table import load_image_table

    t0 = time.time()
    out = Path(out_dir)
    manifest = Manifest(out)
    full_df = load_image_table(spark, table_path)
    df = full_df

    ruleset_fp = (ruleset or default_image_ruleset()).fingerprint()
    skipped = 0
    if resume:
        done = manifest.completed()
        prior_fps = manifest.completed_rulesets() - {"unknown"}
        if done and prior_fps and prior_fps != {ruleset_fp}:
            # resuming would silently MIX results produced under different
            # rules — refuse; callers wanting a fresh pass use resume=False
            # (or a new out_dir)
            raise ValueError(
                "resume refused: completed partitions were validated under "
                f"ruleset(s) {sorted(prior_fps)} but this run uses "
                f"{ruleset_fp}; pass resume=False or a fresh out_dir"
            )
        if done:
            # partition pruning: a filter on partition-dir columns only
            cond = ~F.concat_ws("/", F.col("fmt"), F.col("bucket").cast("string")).isin(
                *[f"{f}/{b}" for f, b in done]
            )
            df = df.filter(cond)
            skipped = len(done)

    # stats + drift profile the FULL table, not the resume-pruned scan:
    # they are sketch/profile passes that never read `bytes`, so re-running
    # them on a resume is cheap, keeps stats/ complete (a pruned overwrite
    # would silently drop prior partitions' profiles), and guarantees the
    # drift reference partition exists even when its buckets were all
    # completed in an earlier run.
    if with_stats:
        from ..operators.stats import column_stats

        (
            column_stats(full_df.drop("bytes"), group_cols=PART_KEYS)
            .write.mode("overwrite")
            .parquet(str(out / "stats"))
        )
    if drift_reference is not None:
        import json as _json

        from ..operators.drift import (
            chi_square_drift,
            histogram_by_partition,
            ks_drift_from_quantiles,
        )
        from ..operators.tdigest import ks_drift_from_tdigest

        cap_len = full_df.select(
            "fmt", F.length("caption").cast("double").alias("cap_len")
        )
        hist = histogram_by_partition(cap_len, "cap_len", ["fmt"], n_bins=16)
        report = {
            "reference": drift_reference,
            "value": "length(caption)",
            "chi_square": chi_square_drift(hist, ["fmt"], drift_reference, n_bins=16),
            "ks": ks_drift_from_quantiles(cap_len, "cap_len", ["fmt"], drift_reference),
            # the north-star sketch: distributed t-digest per fmt, KS on
            # the merged digests (shuffle carries sketches, never rows)
            "ks_tdigest": ks_drift_from_tdigest(
                cap_len, "cap_len", ["fmt"], drift_reference
            ),
        }
        (out / "drift.json").write_text(_json.dumps(report, indent=2))

    # one aggregate gives both the total and the manifest's per-partition
    # row counts
    row_counts = {
        (r["fmt"], r["bucket"]): r["count"]
        for r in df.groupBy(*PART_KEYS).count().collect()
    }
    n_rows = sum(row_counts.values())
    if n_rows == 0:
        return ValidationResult(
            violations=spark.createDataFrame([], "fmt string, bucket int, image_id string, field string, severity string, message string"),
            verdicts=spark.createDataFrame([], "fmt string, bucket int, pass boolean, n_errors long, n_warnings long"),
            n_rows=0,
            skipped_partitions=skipped,
            elapsed_sec=time.time() - t0,
            verdict_rows=[],
        )

    violations = build_violations(
        df, ruleset=ruleset, ontology=ontology, gt=gt,
        decode_rebalance=decode_rebalance,
    )

    # shuffle on (partition keys + salt), not the partition keys alone:
    # fmt is ~80% one codec, so keying the exchange on (fmt, bucket) would
    # funnel each partition dir through ONE task — at 10^12 rows that one
    # task is the job. The salt spreads a hot dir over many tasks; the
    # partitionBy layout on disk is unchanged.
    salt = F.pmod(F.xxhash64(F.col("image_id")), F.lit(8)).alias("_salt")
    (
        violations.repartition(*[F.col(k) for k in PART_KEYS], salt)
        .write.mode("overwrite")
        # per-write dynamic overwrite (replace only the partitions present
        # in this run) — set on the writer, NOT the shared session conf,
        # so the caller's overwrite semantics elsewhere are untouched
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PART_KEYS)
        .parquet(str(out / "violations"))
    )
    # verdicts from the just-written parquet, NOT the logical plan — the
    # lineage would otherwise recompute every rule family a second time
    violations_on_disk = spark.read.parquet(str(out / "violations")).select(
        F.col("fmt").cast("string").alias("fmt"),
        F.col("bucket").cast("int").alias("bucket"),
        "image_id", "field", "severity", "message",
    )
    # cached so the collect and the write share one readback + join
    verdicts = build_verdicts(df, violations_on_disk).persist()
    verdicts_rows = verdicts.collect()  # tiny: one row per partition
    verdicts.write.mode("overwrite").parquet(str(out / "verdicts"))
    verdicts.unpersist()

    # violations + verdicts are on disk: drop the cached dup tables so a
    # long-lived session (bench loops, repeated resumes) doesn't
    # accumulate block-manager storage
    from ..operators.uniqueness import release_dup_tables

    release_dup_tables()

    finished = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    manifest.commit(
        [
            {
                "fmt": r["fmt"],
                "bucket": r["bucket"],
                "status": "done",
                "pass": bool(r["pass"]),
                "n_errors": int(r["n_errors"]),
                "n_warnings": int(r["n_warnings"]),
                "n_rows": int(row_counts.get((r["fmt"], r["bucket"]), 0)),
                "lineage": {
                    "input": str(table_path),
                    "engine": __version__,
                    # same-rules proof for resumed/compared runs
                    "ruleset": ruleset_fp,
                },
                "finished": finished,
            }
            for r in verdicts_rows
        ]
    )
    return ValidationResult(
        violations=violations,
        verdicts=verdicts,
        n_rows=n_rows,
        skipped_partitions=skipped,
        elapsed_sec=time.time() - t0,
        verdict_rows=verdicts_rows,
    )
