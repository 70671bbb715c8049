"""Merge / upsert on immutable storage (the MERGE INTO shape Delta/
Iceberg expose, reduced to its relational core for plain parquet).

A 100 TB table can't be mutated in place; the upsert pattern is:
compute the next snapshot as
    latest(updates)  ∪  (current  ⟕-anti  updates-by-key)
and write it out (full snapshot, or partition-overwrite of only the
partitions that contain touched keys — pair with a partition-pruned
write for the at-scale path).

Plan shape: one anti-join keyed by the primary key (shuffle hash join;
exchange-free if both sides are bucketed by the key with
``df.write.bucketBy``), plus a per-key latest-version pick
on the update stream (WindowGroupLimit-prunable rank-1). Nothing here
is driver-side; delete handling is a filter on a tombstone column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str,
) -> DataFrame:
    """Collapse a CDC update stream to its last state per key: rank-1
    by descending version. Map-side WindowGroupLimit prunes before the
    shuffle. ``version_col`` must be unique per key (CDC sequence
    numbers are); equal versions would make the pick order-dependent."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Next snapshot of ``current`` after applying ``updates``:
    updated keys take the update row (latest by ``version_col`` if
    given), unseen keys insert, rows whose final update has
    ``delete_col`` true disappear, untouched rows carry over.

    Column contract: ``updates`` must carry the same columns as
    ``current`` (plus the optional version/tombstone columns, which
    are dropped from the output).
    """
    keys = list(keys)
    upd = updates
    if version_col is not None:
        upd = latest_per_key(upd, keys, version_col)
        upd = upd.drop(version_col)
    if delete_col is not None:
        survivors = upd.where(~F.col(delete_col)).drop(delete_col)
        touched = updates.select(*keys).distinct()
    else:
        survivors = upd
        touched = upd.select(*keys).distinct()
    untouched = current.join(touched, on=keys, how="left_anti")
    return untouched.unionByName(survivors)
