"""Relationship-graph checks as 1-hop self-joins.

Reference analogue: ``validation/RelationshipsIssues.py:29-172`` — builds a
name→record dict and walks each record's parents in Python. Here the
records are an edges DataFrame ``(name, material, organism, parent)`` and
every check is a join:

* dangling parent   → left-anti self-join            (J5)
* material pair     → self-join + whitelist filter    (J8)
* species mismatch  → self-join + inequality          (J9)
* mutual-parent cycle → double self-join e1.parent=e2.name AND
  e2.parent=e1.name                                   (J9)

The reference checks exactly 1 hop (mutual parents), so bounded self-joins
suffice — no iterative graph algorithm needed (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import messages as M

# material-pair whitelist, FAANG-shaped
# (metadata_validation_conversion/constants.py:133-147 ALLOWED_RELATIONSHIPS)
ALLOWED_RELATIONSHIPS: dict[str, list[str]] = {
    "organism": ["organism"],
    "specimen from organism": ["organism"],
    "pool of specimens": ["specimen from organism"],
    "cell specimen": ["specimen from organism"],
    "cell culture": ["specimen from organism", "cell specimen"],
    "cell line": ["organism"],
}


def relationship_violations(edges: DataFrame) -> DataFrame:
    """All relationship violation rows: (name, field, severity, message).

    ``edges``: (name, material, organism, parent nullable). The table is
    self-joined on parent=name; at scale both sides shuffle on the same key
    once and AQE handles skew — or broadcast when the vertex set is small.
    """
    e = edges.alias("e")
    p = edges.select(
        F.col("name").alias("p_name"),
        F.col("material").alias("p_material"),
        F.col("organism").alias("p_organism"),
        F.col("parent").alias("p_parent"),
    ).alias("p")

    linked = e.filter(F.col("e.parent").isNotNull())

    # dangling parent: left anti join (no entity found)
    dangling = linked.join(p, F.col("e.parent") == F.col("p_name"), "left_anti").select(
        F.col("e.name").alias("name"),
        F.lit("parent").alias("field"),
        F.lit("error").alias("severity"),
        M.msg_no_entity(F.col("e.parent")).alias("message"),
    )

    joined = linked.join(p, F.col("e.parent") == F.col("p_name"), "inner")

    # material-pair whitelist
    allowed_map = F.create_map(
        *[
            x
            for mat, allowed in ALLOWED_RELATIONSHIPS.items()
            for x in (F.lit(mat), F.array(*[F.lit(a) for a in allowed]))
        ]
    )
    with_allowed = joined.withColumn("_allowed", allowed_map[F.col("e.material")])
    bad_pair = with_allowed.filter(
        F.col("_allowed").isNotNull() & ~F.array_contains(F.col("_allowed"), F.col("p_material"))
    ).select(
        F.col("e.name").alias("name"),
        F.lit("parent").alias("field"),
        F.lit("error").alias("severity"),
        M.msg_material_pair(F.col("p_name"), F.col("_allowed")).alias("message"),
    )

    # organism-to-organism species equality (check_parents,
    # RelationshipsIssues.py:142-172)
    species = joined.filter(
        (F.col("e.material") == "organism")
        & (F.col("p_material") == "organism")
        & (F.col("e.organism") != F.col("p_organism"))
    ).select(
        F.col("e.name").alias("name"),
        F.lit("organism").alias("field"),
        F.lit("error").alias("severity"),
        M.msg_species_mismatch(F.col("e.organism"), F.col("p_organism")).alias("message"),
    )

    # mutual-parent cycle
    cycle = joined.filter(F.col("p_parent") == F.col("e.name")).select(
        F.col("e.name").alias("name"),
        F.lit("parent").alias("field"),
        F.lit("error").alias("severity"),
        M.msg_parent_cycle(F.col("e.name"), F.col("p_name")).alias("message"),
    )

    return dangling.unionByName(bad_pair).unionByName(species).unionByName(cycle)
