"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation pass; ``queries()`` /
``oracle_sql()`` expose the full operator inventory (SURVEY.md §2 +
training-data ops) for the sf0.01 DuckDB correctness gate. Column names
are aliased identically on both sides.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation of the deterministic image+caption
    fixture — row rules, uniqueness, broadcast referential checks,
    Arrow-batched decode + PSNR/caption invariants — returning the
    violation rows (driver checks rows > 0 and a stable schema)."""
    from dcc_validate_metadata_spark.queries.validationpack import img_validate

    return img_validate(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dcc_validate_metadata_spark.queries import all_queries

    return {name: fn for name, (fn, _sql) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from dcc_validate_metadata_spark.queries import all_queries

    return {
        name: sql for name, (_fn, sql) in all_queries().items() if sql is not None
    }
