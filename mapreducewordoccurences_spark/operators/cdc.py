"""Snapshot diff (CDC classification) and SCD Type-2 history build —
the change-capture side of the lakehouse surface, complementing
operators/merge.py (which APPLIES a change stream; this module
DERIVES one, and turns a change stream into a versioned dimension).

No reference counterpart (the reference is a word-count CLI,
/root/reference/src/main.c); these are the table-maintenance ops a
100 TB warehouse runs nightly: "what changed between yesterday's and
today's snapshot" (snapshot_diff) and "keep every historical value of
a slowly-changing attribute with validity ranges" (scd2_build).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots as ``insert`` (key only
    in ``new``), ``delete`` (only in ``old``), ``update`` (both, any
    ``compare_cols`` differ) or ``unchanged``.

    Returns (keys…, change_type, old/new compare columns). The diff is
    ONE full outer join on the key — the minimal shuffle for this
    semantics; with both snapshots bucketed by the key
    (``df.write.bucketBy``) it is exchange-free. Column
    comparison uses null-safe equality (``<=>``) so a NULL→value
    transition counts as an update, not an accidental "unchanged".
    At 100 TB the output is typically ≪ input (most keys unchanged) —
    downstream consumers should filter change_type != 'unchanged'
    BEFORE any further shuffle so AQE sees the small side.
    """
    o = old.select(*keys, *compare_cols)
    n = new.select(*keys, *compare_cols)
    for c in list(keys) + list(compare_cols):
        o = o.withColumnRenamed(c, f"__o_{c}")
        n = n.withColumnRenamed(c, f"__n_{c}")
    cond = None
    for k in keys:
        eq = F.col(f"__o_{k}") == F.col(f"__n_{k}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, on=cond, how="full_outer")

    in_old = F.col(f"__o_{keys[0]}").isNotNull()
    in_new = F.col(f"__n_{keys[0]}").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else same & eq

    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    out_cols = [
        F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k) for k in keys
    ]
    out_cols.append(change.alias("change_type"))
    for c in compare_cols:
        out_cols.append(F.col(f"__o_{c}").alias(f"old_{c}"))
        out_cols.append(F.col(f"__n_{c}").alias(f"new_{c}"))
    return joined.select(*out_cols)


def scd2_build(
    df: DataFrame,
    key: str,
    attr: str,
    order_col: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: collapse an observation log
    (key, attr, observed-at) into validity ranges — one row per
    CONSECUTIVE run of the same ``attr`` value per key, with
    ``valid_from`` / ``valid_to`` / ``version`` / ``is_current``.

    ``tiebreak`` must make (key, order_col, tiebreak) unique so run
    boundaries are deterministic. Classic gaps-and-islands: a lag()
    marks value changes, a running SUM over the change flags numbers
    the runs, and a per-run aggregate emits the range — three window
    passes plus one aggregate, ALL partitioned by the same key, so
    Spark plans a single shuffle and the windows run back-to-back in
    one stage. Per-key state is one partition's rows (no global sort),
    so the build scales out with key cardinality.
    """
    w = Window.partitionBy(key).orderBy(F.col(order_col), F.col(tiebreak))
    changed = (
        ~F.col(attr).eqNullSafe(F.lag(attr).over(w))
        | F.lag(attr).over(w).isNull() & (F.row_number().over(w) == 1)
    )
    runs = (
        df.select(key, attr, order_col, tiebreak)
        # lag() can't nest inside the running sum() — materialize the
        # change flag first; Catalyst fuses both windows in one stage.
        .withColumn("__chg", F.when(changed, 1).otherwise(0))
        .withColumn(
            "__run",
            F.sum("__chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    ranges = runs.groupBy(key, "__run").agg(
        F.min_by(F.col(attr), F.struct(order_col, tiebreak)).alias(attr),
        F.min(order_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_observations"),
    )
    # order runs by version (unique per key), not valid_from alone —
    # two runs may share a valid_from when the attr flips within one
    # order_col grain, and lead() must stay deterministic
    w2 = Window.partitionBy(key).orderBy("__run")
    return (
        ranges.withColumn("version", F.col("__run").cast("int"))
        .withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__run")
        .select(
            key, "version", attr, "valid_from", "valid_to",
            "is_current", "n_observations",
        )
    )
