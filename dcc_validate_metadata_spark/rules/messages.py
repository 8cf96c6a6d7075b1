"""Exact violation-message formats (SURVEY.md §2.7 F6).

The reference attributes issues as f-strings with fixed phrasing
(``validation/WarningsAndAdditionalChecks.py:259,317,408,446``;
``validation/RelationshipsIssues.py:93,115,157,166``). Violation-row
parity requires byte-for-byte identical strings between the engine's
Column expressions, the decode body, the fixture generator's ground truth
and the golden tests, so each message is ONE function here, used on both
sides. Called with plain values it returns the ``str``; called with a
Spark ``Column`` for any argument it returns the same text as a
``concat`` Column, built when the plan is built (:func:`_render`).
"""

from __future__ import annotations

from string import Formatter

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(template: str, **args):
    """``template.format(**args)``, or, when any argument is a Column, one
    ``F.concat`` of the template's literal runs (plain arguments formatted
    into them, adjacent runs merged into one ``F.lit``) and the Columns in
    template order.

    Contract for Column arguments: the caller passes a string Column (its
    own ``cast("string")`` or ``coalesce`` where it needs one; nothing is
    added here) with no format spec in the template. ``concat`` is
    NULL-propagating, so a NULL argument makes the whole message NULL."""
    if not any(isinstance(v, Column) for v in args.values()):
        return template.format(**args)
    parts, run = [], ""
    for text, name, spec, _ in Formatter().parse(template):
        run += text
        if name is None:
            continue
        if isinstance(args[name], Column):
            parts += [F.lit(run), args[name]] if run else [args[name]]
            run = ""
        else:
            run += format(args[name], spec)
    return F.concat(*parts, F.lit(run)) if run else F.concat(*parts)


def _joined(items):
    """``", "``-joined list: a Python list, or an array Column."""
    return F.array_join(items, ", ") if isinstance(items, Column) else ", ".join(items)


def msg_mandatory_missing(field: str) -> str:
    return _render("Field '{field}' is mandatory but no value was provided", field=field)


def msg_recommended_missing() -> str:
    # verbatim reference phrasing (WarningsAndAdditionalChecks.py:259)
    return "This item is recommended but was not provided"


def msg_missing_token(field: str, table: str) -> str:
    # verbatim reference phrasing shape (WarningsAndAdditionalChecks.py:408)
    t = (
        "Field '{field}' of '{table}' contains missing value that is not "
        "appropriate for this field"
    )
    return _render(t, field=field, table=table)


def msg_regex(value, field: str, pattern: str):
    t = "Provided value '{value}' for field '{field}' doesn't match the pattern '{pattern}'"
    return _render(t, value=value, field=field, pattern=pattern)


def msg_enum(value, field: str, allowed: list[str]):
    t = "Provided value '{value}' for field '{field}' is not one of [{allowed}]"
    return _render(t, value=value, field=field, allowed=_joined(allowed))


def msg_numeric(value, field: str):
    # type-rule analogue of the Elixir validator's "should be number"
    # (SURVEY.md X1) in this repo's message shape
    t = "Provided value '{value}' for field '{field}' is not a valid number"
    return _render(t, value=value, field=field)


def msg_range(value, field: str, lo, hi):
    t = "Provided value '{value}' for field '{field}' is out of range [{lo}, {hi}]"
    return _render(t, value=value, field=field, lo=lo, hi=hi)


def msg_maxlen(field: str, length, maxlen: int):
    t = "Field '{field}' length {length} exceeds maximum {maxlen}"
    return _render(t, field=field, length=length, maxlen=maxlen)


def msg_unique(field: str, value, n):
    t = "Field '{field}' value '{value}' occurs {n} times but must be unique"
    return _render(t, field=field, value=value, n=n)


def msg_date_unit(units, value):
    # verbatim reference phrasing (WarningsAndAdditionalChecks.py:322-347)
    t = "Date units: {units} should be consistent with date value: {value}"
    return _render(t, units=units, value=value)


def msg_ontology_label(text, label, term):
    # verbatim reference phrasing (WarningsAndAdditionalChecks.py:317)
    t = "Provided value '{text}' doesn't precisely match '{label}' for term '{term}'"
    return _render(t, text=text, label=label, term=term)


def msg_breed(text, species):
    # verbatim reference phrasing (WarningsAndAdditionalChecks.py:446)
    t = "Breed '{text}' doesn't match the animal specie: '{species}'"
    return _render(t, text=text, species=species)


def msg_dangling_term(term, field: str):
    t = "Couldn't find term '{term}' in ontology for field '{field}'"
    return _render(t, term=term, field=field)


def msg_graph_restriction(term, roots: list[str]):
    # Elixir-validator graph_restriction failure shape (X1/X2)
    t = "Provided term '{term}' is not child of '{roots}'"
    return _render(t, term=term, roots=_joined(roots))


def msg_decode_failed(err: str) -> str:
    return _render("Field 'bytes' could not be decoded: {err}", err=err)


def msg_dims_mismatch(dw: int, dh: int, w, h) -> str:
    t = "Decoded image dimensions ({dw}x{dh}) don't match declared ({w}x{h})"
    return _render(t, dw=dw, dh=dh, w=w, h=h)


def msg_fmt_mismatch(container: str, fmt: str) -> str:
    t = "Decoded container format '{container}' doesn't match declared fmt '{fmt}'"
    return _render(t, container=container, fmt=fmt)


def msg_psnr(psnr_db: float, min_db: float) -> str:
    t = "Decoded image PSNR {psnr_db:.1f} dB is below required {min_db:.1f} dB"
    return _render(t, psnr_db=psnr_db, min_db=min_db)


def msg_caption_mismatch(image_id: str) -> str:
    return _render("Caption doesn't match ground truth for '{image_id}'", image_id=image_id)


def msg_no_entity(name):
    # verbatim reference phrasing shape (RelationshipsIssues.py:93)
    return _render("Relationships part: no entity '{name}' found", name=name)


def msg_material_pair(parent, allowed):
    # reference phrasing shape (RelationshipsIssues.py:115)
    t = (
        "Relationships part: referenced entity '{parent}' does not match "
        "condition 'should be {allowed}'"
    )
    return _render(t, parent=parent, allowed=_joined(allowed))


def msg_species_mismatch(child_org, parent_org):
    # reference phrasing shape (RelationshipsIssues.py:157)
    t = (
        "Relationships part: the specie of the child '{child_org}' doesn't "
        "match the specie of the parent '{parent_org}'"
    )
    return _render(t, child_org=child_org, parent_org=parent_org)


def msg_parent_cycle(name, parent):
    # reference phrasing shape (RelationshipsIssues.py:166)
    t = "Relationships part: parent '{parent}' lists '{name}' as its own parent"
    return _render(t, name=name, parent=parent)
