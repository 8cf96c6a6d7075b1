"""Uniqueness check: one per-key count.

Reference analogue: distinct-set accumulation in a driver-side ``set()``
(``validation/RelationshipsIssues.py:13-24`` — SURVEY.md A6). A plain
``groupBy(key).count()`` is skew-safe without salting: Spark's hash
aggregate runs a map-side ``partial_count``, so a hot key sends one row
per map task into the single exchange, however many rows it has.
Duplicate keys are then joined back onto the fact table to emit per-row
violation rows.

The join-back strategy is gated on a COUNTED size, not a blind hint:
"duplicates are rare" holds for clean submissions, but a dedup-heavy
training corpus can have 10-50% of keys duplicated, and an unconditional
broadcast of that table OOMs at 10^12 rows. :func:`gated_dup_table`
persists the aggregated dup table, probes it with ``take(threshold+1)``
(the aggregation runs once either way — the persist means the join reuses
it), and only then broadcasts; past the threshold the join stays a
shuffle join, which is the correct plan when duplicates are legion.
Relying on AQE instead would still shuffle-write the fact side before
converting to broadcast — measurably slower on the benched pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# ~16 bytes/row aggregated (key, n): 500k rows ≈ 10-20 MB broadcast
DUP_BROADCAST_MAX_ROWS = 500_000

# persisted frames awaiting release — dup tables from gated_dup_table,
# plus other operators' bounded caches (join_api row-ids, component
# labels) that share the release point. Long-lived sessions (streaming
# foreachBatch, repeated run_validation) call release_dup_tables() after
# consuming the plans, or the block manager would accumulate one cached
# table per rule per batch forever.
_PERSISTED_DUPS: list[DataFrame] = []


def release_dup_tables() -> int:
    """Unpersist every frame registered since the last release (dup
    tables and other operators' bounded caches). Safe once the results
    consuming them have been written/collected (re-use after release
    just recomputes). Returns the number released."""
    n = 0
    while _PERSISTED_DUPS:
        _PERSISTED_DUPS.pop().unpersist()
        n += 1
    return n


def gated_dup_table(
    dups: DataFrame, max_broadcast_rows: int = DUP_BROADCAST_MAX_ROWS
) -> DataFrame:
    """Persist the aggregated dup table and broadcast it only when a
    bounded probe proves it small. Costs one action (the aggregation the
    join needs anyway, cached; the probe is limit+count, nothing is
    collected); returns the hinted or plain frame. The persist is
    tracked — callers that loop call :func:`release_dup_tables` after
    materializing downstream results."""
    dups = dups.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_DUPS.append(dups)
    if dups.limit(max_broadcast_rows + 1).count() <= max_broadcast_rows:
        return F.broadcast(dups)
    return dups


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """(key, n) for every key value occurring more than once. Nulls are
    ignored (presence is the mandatory rule's job)."""
    return (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )

