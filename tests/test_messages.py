"""Independent pin for every violation message (rules/messages.py).

Each ``msg_*`` serves both sides: plain arguments give the ``str`` the
decode body and the golden generators use; Column arguments give the
``concat`` Column the engine plans. Both forms must equal the literal
expected strings below, which are written out by hand so that a template
edit shows up here even when engine and goldens change together. All
Column forms are evaluated in ONE ``select`` (one Spark job).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dcc_validate_metadata_spark.rules import messages as M

# the one-row frame the Column forms read
ROW = "v string, n string, t string, l string, s string, p string, arr array<string>, nul string"
VALUES = [("b@d", "3", "UBERON:1", "Liver", "dog", "cat", ["organism", "cell specimen"], None)]

# (name, fn, plain args, Column args (built lazily: F.col needs a session)
#  or None when the engine only ever passes plain values, expected)
CASES = [
    ("mandatory", M.msg_mandatory_missing, ("sex",), None,
     "Field 'sex' is mandatory but no value was provided"),
    ("recommended", M.msg_recommended_missing, (), None,
     "This item is recommended but was not provided"),
    ("missing_token", M.msg_missing_token, ("caption", "image_caption"), None,
     "Field 'caption' of 'image_caption' contains missing value that is not "
     "appropriate for this field"),
    ("regex", M.msg_regex, ("b@d", "name", "^[a-z]+$"),
     lambda: (F.col("v"), "name", "^[a-z]+$"),
     "Provided value 'b@d' for field 'name' doesn't match the pattern '^[a-z]+$'"),
    ("enum", M.msg_enum, ("b@d", "fmt", ["png", "jpeg"]),
     lambda: (F.col("v"), "fmt", ["png", "jpeg"]),
     "Provided value 'b@d' for field 'fmt' is not one of [png, jpeg]"),
    ("numeric", M.msg_numeric, ("b@d", "age"), lambda: (F.col("v"), "age"),
     "Provided value 'b@d' for field 'age' is not a valid number"),
    ("range", M.msg_range, (3, "w", 1, 65536), lambda: (F.col("n"), "w", 1, 65536),
     "Provided value '3' for field 'w' is out of range [1, 65536]"),
    ("maxlen", M.msg_maxlen, ("caption", 3, 2), lambda: ("caption", F.col("n"), 2),
     "Field 'caption' length 3 exceeds maximum 2"),
    ("unique", M.msg_unique, ("image_id", "b@d", 3), lambda: ("image_id", F.col("v"), F.col("n")),
     "Field 'image_id' value 'b@d' occurs 3 times but must be unique"),
    ("date_unit", M.msg_date_unit, ("YYYY", "b@d"), lambda: (F.lit("YYYY"), F.col("v")),
     "Date units: YYYY should be consistent with date value: b@d"),
    ("ontology_label", M.msg_ontology_label, ("liver", "Liver", "UBERON:1"),
     lambda: (F.lit("liver"), F.col("l"), F.col("t")),
     "Provided value 'liver' doesn't precisely match 'Liver' for term 'UBERON:1'"),
    ("breed", M.msg_breed, ("Labrador", "dog"), lambda: (F.lit("Labrador"), F.col("s")),
     "Breed 'Labrador' doesn't match the animal specie: 'dog'"),
    ("dangling_term", M.msg_dangling_term, ("UBERON:1", "organ"), lambda: (F.col("t"), "organ"),
     "Couldn't find term 'UBERON:1' in ontology for field 'organ'"),
    ("graph_restriction", M.msg_graph_restriction, ("UBERON:1", ["A:1", "B:2"]),
     lambda: (F.col("t"), ["A:1", "B:2"]),
     "Provided term 'UBERON:1' is not child of 'A:1, B:2'"),
    ("decode_failed", M.msg_decode_failed, ("truncated scan",), None,
     "Field 'bytes' could not be decoded: truncated scan"),
    ("dims_mismatch", M.msg_dims_mismatch, (4, 4, 5, 4), None,
     "Decoded image dimensions (4x4) don't match declared (5x4)"),
    ("fmt_mismatch", M.msg_fmt_mismatch, ("png", "jpeg"), None,
     "Decoded container format 'png' doesn't match declared fmt 'jpeg'"),
    ("psnr", M.msg_psnr, (31.25, 40.0), None,
     "Decoded image PSNR 31.2 dB is below required 40.0 dB"),
    ("caption_mismatch", M.msg_caption_mismatch, ("img_7",), None,
     "Caption doesn't match ground truth for 'img_7'"),
    ("no_entity", M.msg_no_entity, ("cat",), lambda: (F.col("p"),),
     "Relationships part: no entity 'cat' found"),
    ("material_pair", M.msg_material_pair, ("cat", ["organism", "cell specimen"]),
     lambda: (F.col("p"), F.col("arr")),
     "Relationships part: referenced entity 'cat' does not match condition "
     "'should be organism, cell specimen'"),
    ("species_mismatch", M.msg_species_mismatch, ("dog", "cat"),
     lambda: (F.col("s"), F.col("p")),
     "Relationships part: the specie of the child 'dog' doesn't match the "
     "specie of the parent 'cat'"),
    ("parent_cycle", M.msg_parent_cycle, ("dog", "cat"), lambda: (F.col("s"), F.col("p")),
     "Relationships part: parent 'cat' lists 'dog' as its own parent"),
]


def test_every_message_has_a_case():
    defined = {n for n in dir(M) if n.startswith("msg_")}
    assert defined == {fn.__name__ for _, fn, *_ in CASES}


@pytest.mark.parametrize("name,fn,args,col_args,expected", CASES, ids=[c[0] for c in CASES])
def test_plain_form(name, fn, args, col_args, expected):
    got = fn(*args)
    assert type(got) is str and got == expected


def test_column_forms(spark):
    df = spark.createDataFrame(VALUES, ROW)
    cols = [
        fn(*col_args()).alias(name) for name, fn, _, col_args, _ in CASES if col_args
    ]
    # concat is NULL-propagating and the renderer adds no coalesce: a
    # NULL argument gives a NULL message; call sites that must not lose
    # the row (subclass_violations) coalesce the argument themselves
    cols += [
        M.msg_dangling_term(F.col("nul"), "organ").alias("null_arg"),
        M.msg_breed(F.coalesce(F.col("nul"), F.lit("")), F.col("s")).alias("null_coalesced"),
    ]
    row = df.select(*cols).collect()[0].asDict()
    want = {name: expected for name, _, _, col_args, expected in CASES if col_args}
    want["null_arg"] = None
    want["null_coalesced"] = "Breed '' doesn't match the animal specie: 'dog'"
    assert row == want


def test_column_form_merges_literal_runs(spark):
    # plain arguments fold into the surrounding literal: the same tree as
    # a hand-written concat, so the physical plan does not change
    got = M.msg_regex(F.col("v"), "name", "^[a-z]+$")
    hand = F.concat(
        F.lit("Provided value '"),
        F.col("v"),
        F.lit("' for field 'name' doesn't match the pattern '^[a-z]+$'"),
    )
    assert str(got) == str(hand)

