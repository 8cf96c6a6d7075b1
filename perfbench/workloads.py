"""One operation per workload, and the check of its outputs against the
oracle data ``inputs.py`` wrote beside the inputs.

``images`` and ``records`` run one full ``plans.pipeline.run_validation``
per operation, with its writes, verdicts and manifest. ``workbook`` runs
the ``validate-workbook`` CLI sequence on one submission: read the xlsx,
validate it against the organism ruleset, write the violations, write
the annotated workbook and count issues by severity.

Every operation writes to a fresh output directory, cleared before the
operation starts, so no timed region includes a delete.
"""

from __future__ import annotations

import dataclasses
import shutil
from contextlib import nullcontext
from pathlib import Path

import duckdb
import pandas as pd

from . import inputs
from .trace import patched


def _multiset_mismatch(con, expected: Path, actual_sql: str, cols: list[str]) -> int:
    """Rows in either side's multiset that the other lacks."""
    exp = f"SELECT {', '.join(cols)} FROM read_parquet('{expected}')"
    act = f"SELECT {', '.join(cols)} FROM ({actual_sql})"
    n = 0
    for a, b in ((exp, act), (act, exp)):
        n += con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    return n


class _Workload:
    name: str

    def __init__(self, spark, input_dir: Path, work: Path, rows: int, cpus: int):
        self.spark = spark
        self.input_dir = input_dir
        self.work = work
        self.rows = rows
        self.con = duckdb.connect(config={"threads": cpus, "temp_directory": str(work / "duckdb")})
        self.out = work / "out"

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def close(self) -> None:
        self.con.close()


class ValidationWorkload(_Workload):
    """``images`` (with ground truth and the decode rule) and ``records``
    (metadata only, no decode rule) share the run_validation operation."""

    def __init__(self, name: str, spark, input_dir: Path, work: Path, rows: int, cpus: int):
        super().__init__(spark, input_dir, work, rows, cpus)
        self.name = name
        if name == "images":
            self.table = input_dir / "image_caption"
            self.ruleset = None
            self.gt = spark.read.parquet(str(input_dir / "image_caption_gt.parquet"))
        else:
            self.table = input_dir / "records"
            self.ruleset = inputs.records_ruleset()
            self.gt = None
        self.ontology = spark.read.parquet(str(input_dir / "ontology_terms.parquet"))
        verdicts = pd.read_parquet(input_dir / "expected_verdicts.parquet")
        self.expected_verdicts = sorted(
            (r.fmt, int(r.bucket), bool(r["pass"]), int(r.n_errors), int(r.n_warnings))
            for _, r in verdicts.iterrows()
        )

    def op(self, tracer=None):
        """One ``run_validation``; with ``tracer``, the layer functions it
        calls are wrapped in spans."""
        from dcc_validate_metadata_spark.plans.pipeline import run_validation

        with patched(tracer) if tracer is not None else nullcontext():
            return run_validation(
                self.spark, str(self.table), str(self.out),
                ruleset=self.ruleset, ontology=self.ontology, gt=self.gt,
            )

    def check(self, result) -> bool:
        got = sorted(
            (r["fmt"], int(r["bucket"]), bool(r["pass"]), int(r["n_errors"]), int(r["n_warnings"]))
            for r in result.verdict_rows
        )
        if result.n_rows != self.rows or got != self.expected_verdicts:
            return False
        actual = (
            f"SELECT fmt, CAST(bucket AS INTEGER) AS bucket, image_id, field, severity, message "
            f"FROM read_parquet('{self.out}/violations/*/*/*.parquet', hive_partitioning = true)"
        )
        expected = self.input_dir / "expected_violations.parquet"
        return _multiset_mismatch(self.con, expected, actual, inputs.VIOLATION_COLS) == 0


class WorkbookWorkload(_Workload):
    name = "workbook"

    def __init__(self, spark, input_dir: Path, work: Path, rows: int, cpus: int):
        super().__init__(spark, input_dir, work, rows, cpus)
        self.xlsx = input_dir / "submission.xlsx"
        expected = pd.read_parquet(input_dir / "expected_violations.parquet")
        self.expected_counts = expected["severity"].value_counts().to_dict()

    def op(self, tracer=None):
        """The ``validate-workbook`` sequence. ``tracer`` (optional) wraps
        each step in a span named after the layer it calls."""
        from pyspark.sql import functions as F

        from dcc_validate_metadata_spark.rules.faang_schema import organism_ruleset
        from dcc_validate_metadata_spark.sources.sheet_ingest import validate_workbook
        from dcc_validate_metadata_spark.sources.xlsx import (
            read_workbook,
            workbook_to_dataframes,
            write_annotated_workbook,
        )

        span = tracer.span if tracer is not None else lambda name: nullcontext()
        with span("faang_schema.organism_ruleset"):
            rs, spec = organism_ruleset()
        spec = dataclasses.replace(spec, type_fields=spec.type_fields + ("sample_name",))
        with span("xlsx.workbook_to_dataframes"):
            sheets = workbook_to_dataframes(self.spark, self.xlsx)
        specs = {name: dataclasses.replace(spec, name=name) for name in sheets}
        with span("sheet_ingest.validate_workbook"):
            violations, status = validate_workbook(
                sheets, specs, {name: rs for name in sheets}, name_field="sample_name"
            )
            violations.write.mode("overwrite").parquet(str(self.out / "violations"))
        viol_disk = self.spark.read.parquet(str(self.out / "violations"))
        with span("xlsx.write_annotated_workbook"):
            write_annotated_workbook(
                self.out / "annotated.xlsx",
                read_workbook(self.xlsx),
                viol_disk,
                sheet_name_field="sample_name",
            )
        counts = {
            r["severity"]: r["n"]
            for r in viol_disk.groupBy("severity").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return status, counts

    def check(self, result) -> bool:
        status, counts = result
        if status != "Fix issues" or counts != self.expected_counts:
            return False
        if not (self.out / "annotated.xlsx").is_file():
            return False
        actual = f"SELECT * FROM read_parquet('{self.out}/violations/*.parquet')"
        expected = self.input_dir / "expected_violations.parquet"
        cols = ["name", "field", "severity", "message"]
        return _multiset_mismatch(self.con, expected, actual, cols) == 0


def make(name: str, spark, input_dir: Path, work: Path, rows: int, cpus: int):
    if name == "workbook":
        return WorkbookWorkload(spark, input_dir, work, rows, cpus)
    return ValidationWorkload(name, spark, input_dir, work, rows, cpus)
