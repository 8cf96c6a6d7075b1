"""Referential checks against lookup tables via broadcast joins.

Reference analogue: batched async HTTP fetches against OLS / BioSamples at
validation time (``validation/get_ontology_text_async.py``,
``get_biosample_data_async.py`` — SURVEY.md J5-J8). Executors must never
call out, so lookups are pre-materialized snapshot DataFrames, broadcast
(they are small: ontologies are thousands of rows against 10^12 facts), and
checks are left/anti joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import messages as M


def dangling_ref_violations(
    df: DataFrame,
    field: str,
    lookup: DataFrame,
    lookup_key: str,
    keep_cols: list[str],
) -> DataFrame:
    """Rows whose ``field`` value has no (case-insensitive) match in
    ``lookup[lookup_key]`` → error rows. Left-anti against a broadcast
    lookup: no shuffle of the fact table (J5 mapping)."""
    keep = list(keep_cols)
    keys = lookup.select(F.lower(F.col(lookup_key)).alias("_ref_key")).distinct()
    return (
        df.filter(F.col(field).isNotNull())
        .join(
            F.broadcast(keys),
            on=F.lower(F.col(field)) == F.col("_ref_key"),
            how="left_anti",
        )
        .select(
            *keep,
            F.lit(field).alias("field"),
            F.lit("error").alias("severity"),
            M.msg_dangling_term(F.col(field).cast("string"), field).alias("message"),
        )
    )


def ancestor_closure(lookup: DataFrame) -> DataFrame:
    """Transitive-closure table ``(term, ancestor)`` from a
    ``(term, parent_term)`` ontology — every term maps to ALL its
    ancestors (and itself). Computed driver-side: ontologies are
    KB-to-MB scale against 10^12 facts, so the closure is tiny and the
    result broadcasts; executors never walk the graph (X2 mapping —
    the reference calls the Elixir validator's ``graph_restriction``
    per record, ``WarningsAndAdditionalChecks.py:418-446``)."""
    rows = lookup.select("term", "parent_term").collect()
    parent = {r["term"]: r["parent_term"] for r in rows}
    out = []
    for t in parent:
        seen = {t}
        cur = t
        while True:
            out.append((t, cur))
            cur = parent.get(cur)
            if cur is None or cur in seen:  # root or cycle guard
                break
            seen.add(cur)
    return lookup.sparkSession.createDataFrame(out, "term string, ancestor string")


def subclass_violations(
    df: DataFrame,
    term_col: str,
    required_root_col: str,
    closure: DataFrame,
    keep_cols: list[str],
    text_col: str,
    species_col: str,
) -> DataFrame:
    """Graph-restriction check (X2 / check_breeds): the record's breed
    term must be a descendant of its species' breed-root node. Broadcast
    the closure, left join on (term, required root) — a NULL match means
    the term is NOT under the required subtree. Message per F6:
    ``rules.messages.msg_breed``."""
    keep = list(keep_cols)
    cl = closure.select(
        F.col("term").alias("_cl_term"), F.col("ancestor").alias("_cl_anc")
    )
    return (
        df.filter(F.col(term_col).isNotNull())
        .join(
            F.broadcast(cl),
            on=(F.col(term_col) == F.col("_cl_term"))
            & (F.col(required_root_col) == F.col("_cl_anc")),
            how="left",
        )
        .filter(F.col("_cl_anc").isNull())
        .select(
            *keep,
            F.lit(term_col).alias("field"),
            F.lit("error").alias("severity"),
            M.msg_breed(
                F.coalesce(F.col(text_col), F.lit("")),
                F.coalesce(F.col(species_col), F.lit("")),
            ).alias("message"),  # coalesce: concat is null-propagating
        )
    )


def label_match_violations(
    df: DataFrame,
    term_col: str,
    text_col: str,
    lookup: DataFrame,
    keep_cols: list[str],
) -> DataFrame:
    """Ontology text/term consistency: the record's display text must equal
    (case-insensitively) the ontology label for its term — reference
    ``check_ols`` (``WarningsAndAdditionalChecks.py:292-320``), message
    format F6 verbatim. Broadcast inner join + inequality filter."""
    keep = list(keep_cols)
    terms = lookup.select(
        F.col("term").alias("_term"), F.lower(F.col("label")).alias("_label"), F.col("label").alias("_label_raw")
    )
    return (
        df.filter(F.col(term_col).isNotNull() & F.col(text_col).isNotNull())
        .join(F.broadcast(terms), on=F.col(term_col) == F.col("_term"), how="inner")
        .filter(F.lower(F.col(text_col)) != F.col("_label"))
        .select(
            *keep,
            F.lit(text_col).alias("field"),
            F.lit("warning").alias("severity"),
            M.msg_ontology_label(
                F.col(text_col), F.col("_label_raw"), F.col(term_col)
            ).alias("message"),
        )
    )


def enrich_taxon(
    df: DataFrame,
    taxon: DataFrame,
    organism_col: str = "organism",
) -> DataFrame:
    """J12 taxon enrichment (submission/BiosamplesFileConverter.py:56-114):
    the BioSamples converter decorates each record's organism with its
    NCBI taxon id and scientific name before submission. The reference
    resolves names via an HTTP lookup per record; here the taxon table is
    a vendored snapshot joined broadcast on the lower-cased name — same
    X3 rule as every other external fetch: snapshots join, executors
    never call out.

    Adds ``taxon_id`` (long) and ``scientific_name``; unmatched organisms
    keep NULLs (pair with :func:`taxon_violations` for attribution)."""
    lk = taxon.select(
        F.lower(F.col("name")).alias("_taxname"),
        F.col("taxon_id").cast("long").alias("taxon_id"),
        F.col("scientific_name").alias("scientific_name"),
    )
    return df.join(
        F.broadcast(lk),
        on=F.lower(F.col(organism_col)) == F.col("_taxname"),
        how="left",
    ).drop("_taxname")


def taxon_violations(
    df: DataFrame,
    taxon: DataFrame,
    organism_col: str,
    keep_cols: list[str],
) -> DataFrame:
    """Violation rows for organisms with no taxon snapshot entry — the
    enrichment analogue of the dangling-term check (F6 message shape)."""
    keep = list(keep_cols)
    enriched = enrich_taxon(df, taxon, organism_col)
    return (
        enriched.filter(
            F.col(organism_col).isNotNull() & F.col("taxon_id").isNull()
        )
        .select(
            *keep,
            F.lit(organism_col).alias("field"),
            F.lit("error").alias("severity"),
            M.msg_dangling_term(
                F.col(organism_col).cast("string"), organism_col
            ).alias("message"),
        )
    )
