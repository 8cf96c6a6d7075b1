"""Compile declarative rules into vectorized Column expressions.

The reference validates per record via RPC to the Elixir JSON-Schema
validator plus Python dict walks (``validation/helpers.py:6-25``,
``WarningsAndAdditionalChecks.py:89-446``). Here every row-level rule
becomes ONE ``Column`` over the whole table, all rule families are fused
into a single ``select`` pass (one scan, whole-stage codegen, no shuffle),
and the violation output is the exploded long-form DataFrame

    (row key cols…, field, severity, message)

mirroring the reference's ``errors``/``warnings`` overlay (SURVEY.md §1.1).
The rule array must never pass through a lambda (e.g. ``filter(arr,
x -> x IS NOT NULL)``): a higher-order function is a ``CodegenFallback``,
so Spark would interpret the whole rule tree under it row by row; the
NULLs are filtered after the ``explode`` instead (:func:`explode_violations`).
Messages come from the ``msg_*`` functions in rules/messages.py, called
with Column arguments: each returns one ``concat`` Column built from the
same template as the Python string, so the two match byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import messages as M
from .constants import (
    DATE_UNIT_FORMATS,
    MISSING_VALUES,
    NUMBER_RE,
    SAFE_NAME_PATTERN,
    SEVERITY_ERROR,
    SEVERITY_WARNING,
)
from .model import Rule, Ruleset

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("severity", T.StringType(), False),
        T.StructField("message", T.StringType(), False),
    ]
)


def _violation(field: str, severity: str, message: Column | str) -> Column:
    if isinstance(message, str):
        message = F.lit(message)
    return F.struct(
        F.lit(field).alias("field"),
        F.lit(severity).alias("severity"),
        message.alias("message"),
    )


def _is_string(df: DataFrame, field: str) -> bool:
    return isinstance(df.schema[field].dataType, T.StringType)


def _present(df: DataFrame, field: str) -> Column:
    """Non-null, and non-blank for strings — row checks only fire on
    present values; absence is the mandatory/recommended rule's job."""
    c = F.col(field)
    if _is_string(df, field):
        return c.isNotNull() & (F.trim(c) != F.lit(""))
    return c.isNotNull()


def _sval(field: str) -> Column:
    return F.col(field).cast("string")


def compile_rule(rule: Rule, df: DataFrame, table: str) -> Column | None:
    """One row-level rule → a Column evaluating to a violation struct or
    NULL. Returns None for rules that produce no row-level expression
    (e.g. optional-tier presence)."""
    f, p = rule.field, rule.params
    c = F.col(f)
    present = _present(df, f)

    if rule.kind == "mandatory":
        absent = ~F.coalesce(present, F.lit(False))
        if rule.tier == "mandatory":
            return F.when(
                absent,
                _violation(f, SEVERITY_ERROR, M.msg_mandatory_missing(f)),
            )
        if rule.tier == "recommended":
            return F.when(
                absent,
                _violation(f, SEVERITY_WARNING, M.msg_recommended_missing()),
            )
        return None  # optional: absence is fine

    if rule.kind == "missing_tokens":
        matrix = MISSING_VALUES[rule.tier]
        token = F.lower(F.trim(c))
        msg = M.msg_missing_token(f, table)
        expr = None
        if matrix["errors"]:
            expr = F.when(
                present & token.isin(*matrix["errors"]), _violation(f, SEVERITY_ERROR, msg)
            )
        if matrix["warnings"]:
            warn = F.when(
                present & token.isin(*matrix["warnings"]),
                _violation(f, SEVERITY_WARNING, msg),
            )
            expr = warn if expr is None else expr.otherwise(warn)
        return expr

    if rule.kind == "regex":
        pattern = p["pattern"]
        return F.when(
            present & ~c.rlike(pattern),
            _violation(f, SEVERITY_ERROR, M.msg_regex(_sval(f), f, pattern)),
        )

    if rule.kind == "safe_name":
        return compile_rule(
            Rule(f, "regex", rule.tier, {"pattern": SAFE_NAME_PATTERN}), df, table
        )

    if rule.kind == "enum":
        values = list(p["values"])
        return F.when(
            present & ~c.isin(*values),
            _violation(f, SEVERITY_ERROR, M.msg_enum(_sval(f), f, values)),
        )

    if rule.kind == "numeric":
        # stringly-typed sheets: a JSON-Schema {"type": "number"} value
        # must be a JSON-grammar decimal (reference: remote Elixir type
        # check, X1). A strict regex — not try_cast — because engine
        # dialects disagree at the edges (Spark cast admits 'Infinity'/
        # 'NaN', Python float() admits '1_000'/'inf'); JSON numbers admit
        # neither, and the regex pins both engine and golden to that
        return F.when(
            present & ~c.cast("string").rlike(NUMBER_RE),
            _violation(f, SEVERITY_ERROR, M.msg_numeric(_sval(f), f)),
        )

    if rule.kind == "range":
        lo, hi = p["min"], p["max"]
        return F.when(
            present & ((c < F.lit(lo)) | (c > F.lit(hi))),
            _violation(f, SEVERITY_ERROR, M.msg_range(_sval(f), f, lo, hi)),
        )

    if rule.kind == "maxlen":
        maxlen = int(p["value"])
        return F.when(
            present & (F.length(c) > maxlen),
            _violation(
                f, SEVERITY_ERROR, M.msg_maxlen(f, F.length(c).cast("string"), maxlen)
            ),
        )

    if rule.kind == "date_unit":
        # value must parse under the format named by its units column
        # (reference ladder: WarningsAndAdditionalChecks.py:322-347)
        units = F.col(p["units_col"])
        bad = F.lit(False)
        for unit_name, fmt in DATE_UNIT_FORMATS.items():
            strict = {
                "YYYY-MM-DD": r"^\d{4}-\d{2}-\d{2}$",
                "YYYY-MM": r"^\d{4}-\d{2}$",
                "YYYY": r"^\d{4}$",
            }[unit_name]
            parse_fail = ~c.rlike(strict) | F.try_to_timestamp(c, F.lit(fmt)).isNull()
            bad = bad | ((units == unit_name) & parse_fail)
        return F.when(
            present & bad,
            _violation(f, SEVERITY_ERROR, M.msg_date_unit(units, c)),
        )

    raise ValueError(f"not a row-level rule kind: {rule.kind}")


def compile_ruleset(ruleset: Ruleset, df: DataFrame) -> list[Column]:
    """Every row-level rule as a violation-struct-or-NULL Column.

    Rules naming a column the frame doesn't have are skipped: a sheet
    may omit optional ``__units``/``__term`` sibling columns entirely,
    and a missing MANDATORY column is already attributed as a header
    issue by sources/sheet_ingest.resolve_headers."""
    exprs = []
    for rule in ruleset.row_rules:
        if rule.field not in df.columns:
            continue
        units_col = rule.params.get("units_col")
        if units_col is not None and units_col not in df.columns:
            continue
        col = compile_rule(rule, df, ruleset.table)
        if col is not None:
            exprs.append(col)
    return exprs


def explode_violations(
    df: DataFrame, exprs: list[Column], keep_cols: list[str]
) -> DataFrame:
    """Fuse violation-or-NULL Columns into long-form rows (keep_cols…,
    field, severity, message): one ``explode`` of the rule array, then
    the NULLs (rules that did not fire) filtered out — all in the same
    generated stage as the rule expressions."""
    keep = list(keep_cols)
    arr = F.array(*exprs) if exprs else F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
    return (
        df.select(*keep, F.explode(arr).alias("v"))
        .where(F.col("v").isNotNull())
        .select(*keep, "v.field", "v.severity", "v.message")
    )


def violations_for(
    df: DataFrame,
    ruleset: Ruleset,
    keep_cols: list[str],
) -> DataFrame:
    """Long-form row-level violations: (keep_cols…, field, severity,
    message). Single scan, no shuffle — the explode is a generator inside
    the same stage."""
    return explode_violations(df, compile_ruleset(ruleset, df), keep_cols)
