"""FAANG ``*.metadata_rules.json`` → declarative :class:`Ruleset` compiler.

The reference fetches JSON-Schema rulesets per record type from the
public ``FAANG/dcc-metadata`` repo and walks them per record
(``metadata_validation_conversion/constants.py:3-64`` URL catalog,
``metadata_validation_conversion/helpers.py:33-55`` ``get_rules_json``).
Its schema handling has three parts this module mirrors statically:

* **Field collection** (``validation/WarningsAndAdditionalChecks.py:
  171-193`` ``collect_fields``): walk ``properties``, reading the tier
  from each property's ``properties.mandatory.const`` for both ``object``
  and ``array`` properties.
* **Ontology detection** (``WarningsAndAdditionalChecks.py:232-243``): a
  cell is ontology-typed iff its property has ``text``, ``term`` and
  ``ontology_name`` sub-properties.
* **Schema mutation** (``validation/ElixirValidatorResults.py:48-62``):
  the core sub-schema (``samples_core`` / ``experiments_core`` ``$ref``)
  is split out of the type schema so each section is validated against
  its own schema — here the core schema is passed separately and its
  fields land in :class:`SheetSpec.core_fields`.

Instead of RPC calls to a remote JSON-Schema validator (X1), every
constraint compiles to the engine's declarative :class:`Rule` kinds:
``pattern`` → ``regex``, ``enum``/``const`` → ``enum``,
``{"type": "number"}`` → ``numeric``, date-shaped ``units`` →
``date_unit``, ``graph_restriction``/``ontology_name`` → ``ontology_ref``
(join-level, evaluated via operators/referential.py). Flat sheet columns
follow sources/sheet_ingest.py's convention: field ``X`` may carry
sibling columns ``X__units`` and ``X__term``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from pathlib import Path

from ..sources.sheet_ingest import SheetSpec, TERM_SUFFIX, UNITS_SUFFIX
from .constants import DATE_UNIT_FORMATS, MISSING_TOKENS
from .model import Rule, Ruleset

_SKIP_KEYS = frozenset({"describedBy", "schema_version"})
_CORE_KEYS = frozenset({"samples_core", "experiments_core", "analyses_core"})
_DATE_UNITS = frozenset(DATE_UNIT_FORMATS)

FAANG_DIR = Path(__file__).parent / "faang"


def load_vendored_schema(filename: str) -> dict:
    """Read a vendored ``metadata_rules.json`` document via
    importlib.resources so it also resolves from inside a
    ``spark-submit --py-files`` zip (plain ``Path(__file__)`` would not)."""
    from importlib import resources

    return json.loads(
        resources.files("dcc_validate_metadata_spark.rules.faang")
        .joinpath(filename)
        .read_text()
    )


@dataclass(frozen=True)
class FieldSpec:
    """One collected schema property, normalized across the object/array
    and ontology/value shapes."""

    field: str
    tier: str
    section: str  # 'core' | 'type'
    is_array: bool = False
    ontology: bool = False
    ontology_name: str | None = None
    graph_restriction: dict | None = None
    text_enum: tuple[str, ...] = ()
    term_enum: tuple[str, ...] = ()
    value_pattern: str | None = None
    value_enum: tuple[str, ...] = ()
    value_numeric: bool = False
    units_enum: tuple[str, ...] = ()
    extra: dict = dc_field(default_factory=dict)


def _subprops(prop: dict) -> dict:
    """The cell-level sub-properties, unwrapping array items
    (collect_fields handles both shapes — WarningsAndAdditionalChecks.py:
    171-193)."""
    if prop.get("type") == "array":
        return prop.get("items", {}).get("properties", {})
    return prop.get("properties", {})


def collect_fields(schema: dict, section: str) -> dict[str, FieldSpec]:
    """Walk one schema's ``properties`` into :class:`FieldSpec` entries.
    Plain string properties (``describedBy``, ``schema_version``) and
    ``$ref`` sub-schemas are skipped — refs are resolved by the caller."""
    out: dict[str, FieldSpec] = {}
    for key, prop in schema.get("properties", {}).items():
        if key in _SKIP_KEYS or key in _CORE_KEYS or "$ref" in prop:
            continue
        sub = _subprops(prop)
        if not sub:
            continue  # not a field cell
        tier = sub.get("mandatory", {}).get("const", "optional")
        is_ontology = all(k in sub for k in ("text", "term", "ontology_name"))
        value = sub.get("value", {})
        units = sub.get("units", {})
        term = sub.get("term", {})
        text = sub.get("text", {})
        out[key] = FieldSpec(
            field=key,
            tier=tier,
            section=section,
            is_array=prop.get("type") == "array",
            ontology=is_ontology,
            ontology_name=sub.get("ontology_name", {}).get("const"),
            graph_restriction=term.get("graph_restriction"),
            text_enum=tuple(text.get("enum", ())),
            term_enum=tuple(term.get("enum", ())),
            value_pattern=value.get("pattern"),
            value_enum=tuple(
                value.get("enum", ([value["const"]] if "const" in value else ()))
            ),
            value_numeric=value.get("type") == "number",
            units_enum=tuple(units.get("enum", ())),
        )
    return out


def _rules_for(spec: FieldSpec) -> list[Rule]:
    f, tier = spec.field, spec.tier
    rules: list[Rule] = [
        Rule(f, "mandatory", tier),
        Rule(f, "missing_tokens", tier),
    ]
    if spec.text_enum:
        rules.append(Rule(f, "enum", tier, {"values": list(spec.text_enum)}))
    if spec.value_pattern:
        rules.append(Rule(f, "regex", tier, {"pattern": spec.value_pattern}))
    if spec.value_enum:
        rules.append(Rule(f, "enum", tier, {"values": list(spec.value_enum)}))
    if spec.value_numeric:
        rules.append(Rule(f, "numeric", tier))
    if spec.term_enum:
        rules.append(
            Rule(f + TERM_SUFFIX, "enum", tier, {"values": list(spec.term_enum)})
        )
    if spec.units_enum:
        date_units = [u for u in spec.units_enum if u in _DATE_UNITS]
        if date_units:
            # date-shaped units: the value must parse under the format the
            # units column names (WarningsAndAdditionalChecks.py:322-347);
            # missing-value tokens inside the enum stay legal unit values
            rules.append(
                Rule(f, "date_unit", tier, {"units_col": f + UNITS_SUFFIX})
            )
        rules.append(
            Rule(
                f + UNITS_SUFFIX,
                "enum",
                tier,
                {"values": [u for u in spec.units_enum]},
            )
        )
    if spec.ontology:
        rules.append(
            Rule(
                f + TERM_SUFFIX,
                "ontology_ref",
                tier,
                {
                    "ontology_name": spec.ontology_name,
                    "graph_restriction": spec.graph_restriction,
                    "text_col": f,
                },
            )
        )
    return rules


def ruleset_from_faang_schema(
    type_schema: dict,
    core_schema: dict | None = None,
    table: str | None = None,
    module_schemas: list[dict] | None = None,
) -> tuple[Ruleset, SheetSpec]:
    """Compile a FAANG type schema (+ optional core and module schemas)
    into the engine's declarative Ruleset plus the sheet template
    (SheetSpec) used by header resolution. Mirrors the reference's
    type/core/module split (``ElixirValidatorResults.py:48-62``): the
    ``*_core`` ``$ref`` inside the type schema is ignored, the core
    schema contributes its own fields, and module schemas (e.g.
    ``faang_samples_specimen_teleost_embryo``) append their fields to the
    type section exactly as the reference validates each module sheet
    against type+module rules (``ALLOWED_SHEET_NAMES`` in
    metadata_validation_conversion/constants.py:72-96 maps teleostei
    sheets onto the specimen schema plus a module)."""
    table = table or type_schema.get("name", "sheet")
    fields: dict[str, FieldSpec] = {}
    if core_schema is not None:
        fields.update(collect_fields(core_schema, "core"))
    fields.update(collect_fields(type_schema, "type"))
    for mod in module_schemas or ():
        fields.update(collect_fields(mod, "type"))

    rules: list[Rule] = []
    for spec in fields.values():
        rules.extend(_rules_for(spec))

    sheet = SheetSpec(
        name=table,
        core_fields=tuple(f for f, s in fields.items() if s.section == "core"),
        type_fields=tuple(f for f, s in fields.items() if s.section == "type"),
        mandatory=tuple(f for f, s in fields.items() if s.tier == "mandatory"),
    )
    return Ruleset(table=table, rules=tuple(rules)), sheet


def ontology_violations_for(df, ruleset: Ruleset, lookups: dict, keep_cols: list):
    """Execute the compiled ``ontology_ref`` rules (join-level) over a
    flattened sheet: dangling-term, label-precision (check_ols), and
    ``graph_restriction`` subtree membership — the reference's per-record
    OLS/Elixir RPCs (``WarningsAndAdditionalChecks.py:232-320, 418-446``)
    as broadcast joins against vendored ontology snapshots.

    ``lookups`` maps ``ontology_name`` → snapshot DataFrame with columns
    ``term``, optional ``label`` (enables the text-precision warning) and
    optional ``parent_term`` (enables the graph-restriction check).
    Rules whose term column is absent from the sheet or whose ontology
    has no snapshot are skipped — no snapshot, no check, mirroring the
    reference's fetch-failure tolerance."""
    from pyspark.sql import functions as F

    from ..operators.referential import (
        ancestor_closure,
        dangling_ref_violations,
        label_match_violations,
    )
    from . import messages as M

    keep = list(keep_cols)
    parts = []
    for rule in ruleset.ref_rules:
        term_col = rule.field
        if term_col not in df.columns:
            continue
        lookup = (lookups or {}).get(rule.params.get("ontology_name"))
        if lookup is None:
            continue
        parts.append(
            dangling_ref_violations(df, term_col, lookup, "term", keep)
        )
        text_col = rule.params.get("text_col")
        if text_col and text_col in df.columns and "label" in lookup.columns:
            parts.append(
                label_match_violations(df, term_col, text_col, lookup, keep)
            )
        gr = rule.params.get("graph_restriction")
        if gr and "parent_term" in lookup.columns:
            closure = ancestor_closure(lookup)
            roots = [str(r) for r in gr.get("classes", [])]
            valid = closure.filter(F.col("ancestor").isin(roots))
            if not gr.get("include_self", True):
                valid = valid.filter(~F.col("term").isin(roots))
            valid = valid.select(F.lower("term").alias("_ok_term")).distinct()
            present = lookup.select(F.lower("term").alias("_t")).distinct()
            parts.append(
                df.filter(F.col(term_col).isNotNull())
                # known term (dangling handled above, no double report) …
                .join(
                    F.broadcast(present),
                    on=F.lower(F.col(term_col)) == F.col("_t"),
                    how="left_semi",
                )
                # … but NOT inside the required subtree
                .join(
                    F.broadcast(valid),
                    on=F.lower(F.col(term_col)) == F.col("_ok_term"),
                    how="left_anti",
                )
                .select(
                    *keep,
                    F.lit(term_col).alias("field"),
                    F.lit("error").alias("severity"),
                    M.msg_graph_restriction(F.col(term_col), roots).alias("message"),
                )
            )
    if not parts:
        schema = ", ".join(f"`{c}` string" for c in keep)
        return df.sparkSession.createDataFrame(
            [], f"{schema}, field string, severity string, message string"
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


def load_faang_ruleset(
    type_path: str | Path,
    core_path: str | Path | None = None,
    table: str | None = None,
    module_paths: list[str | Path] | None = None,
) -> tuple[Ruleset, SheetSpec]:
    """Load + compile vendored/downloaded FAANG ``metadata_rules.json``
    documents from disk (driver-side, once per run — no executor I/O)."""
    type_schema = json.loads(Path(type_path).read_text())
    core_schema = (
        json.loads(Path(core_path).read_text()) if core_path is not None else None
    )
    modules = [json.loads(Path(p).read_text()) for p in (module_paths or ())]
    return ruleset_from_faang_schema(
        type_schema, core_schema, table=table, module_schemas=modules
    )


def chipseq_ruleset() -> tuple[Ruleset, SheetSpec]:
    """The vendored experiments-realm ruleset (ChIP-seq type + core) —
    the analogue of ``ALLOWED_EXPERIMENTS_TYPES['chip-seq']`` →
    ``CHIP_SEQ_URL`` + ``EXPERIMENT_CORE_URL`` (constants.py:3-64); shows
    the compiler is realm-agnostic (``experiments_core`` ``$ref`` split
    handled the same as ``samples_core``)."""
    return ruleset_from_faang_schema(
        load_vendored_schema("faang_experiments_chip-seq.metadata_rules.json"),
        load_vendored_schema("faang_experiments_core.metadata_rules.json"),
        table="chip-seq",
    )


def organism_ruleset() -> tuple[Ruleset, SheetSpec]:
    """The vendored organism ruleset (type + core), the fixture analogue
    of ``ALLOWED_SHEET_NAMES['organism']`` → ``ORGANISM_URL`` +
    ``SAMPLE_CORE_URL`` (constants.py:3-64)."""
    return ruleset_from_faang_schema(
        load_vendored_schema("faang_samples_organism.metadata_rules.json"),
        load_vendored_schema("faang_samples_core.metadata_rules.json"),
        table="organism",
    )


__all__ = [
    "FieldSpec",
    "collect_fields",
    "ruleset_from_faang_schema",
    "load_faang_ruleset",
    "load_vendored_schema",
    "organism_ruleset",
    "MISSING_TOKENS",
]
