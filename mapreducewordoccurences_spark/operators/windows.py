"""Window operators (absent from the reference, SURVEY.md §2d).

Design rule for determinism at scale: every window ORDER BY in this
module must be made total by the caller (include a unique tiebreak
column); a partial order makes rank/running results legal-but-
nondeterministic across shuffles and engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k rows per group via ``row_number`` window.

    One shuffle on ``partition_by`` + in-partition sort. Spark inserts
    a WindowGroupLimit (partial top-k before the shuffle) for
    rank-function filters like this, so map-side data is pruned to k
    per group per partition — the shuffle carries O(groups × k), not
    the full input. That is the 100 TB-safe shape for "top N per key".
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    agg: Column,
    out_col: str,
) -> DataFrame:
    """Running (cumulative) aggregate over an ordered per-key frame:
    rows between unbounded preceding and current row."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, agg.over(w))


def lag_delta(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "delta",
    offset: int = 1,
) -> DataFrame:
    """value - lag(value, offset) per key, in order. NULL for the first
    ``offset`` rows of each key."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col, offset).over(w))


def global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Exact global ``row_number()`` over a TOTAL order with NO
    single-partition window — the 100 TB-safe replacement for
    ``Window.orderBy(...)`` with no ``partitionBy``.

    Shape: ``repartitionByRange`` on the order keys (rows in range
    partition i all sort before partition i+1), ``row_number`` WITHIN
    each range partition, plus the cumulative row count of all earlier
    partitions. The range partitions number
    ``spark.sql.shuffle.partitions``, and the offsets table has one
    row per partition — bounded by config, not data — so its cumulative window and the broadcast
    join back are O(#partitions). The partitioned frame is
    ``localCheckpoint``-ed so the counts pass and the rank pass see the
    SAME physical partitioning (RangePartitioner samples per-plan;
    without pinning, two separate jobs could draw different bounds and
    desynchronize pid↔offset).

    ``order_by`` must be a total order (include a unique tiebreak) or
    ranks are legal-but-nondeterministic, per this module's rule.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(n, *order_by)
        .withColumn("__gr_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = part.groupBy("__gr_pid").agg(F.count(F.lit(1)).alias("__gr_n"))
    # One row per range partition: the single-partition window here is
    # over <= spark.sql.shuffle.partitions rows (config-bounded), not the data.
    w_off = (
        Window.orderBy("__gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__gr_pid",
        F.coalesce(F.sum("__gr_n").over(w_off), F.lit(0)).alias("__gr_offset"),
    )
    w_local = Window.partitionBy("__gr_pid").orderBy(*order_by)
    return (
        part.join(F.broadcast(offsets), "__gr_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w_local) + F.col("__gr_offset")).cast("bigint"),
        )
        .drop("__gr_pid", "__gr_offset")
    )


def global_ntile(
    df: DataFrame,
    order_by: Sequence[Column],
    n_tiles: int,
    tile_col: str = "tile",
) -> DataFrame:
    """SQL-standard ``ntile(n)`` over a global total order, distributed
    via :func:`global_rank` (no single-partition window).

    Semantics match ``ntile`` exactly: with N rows, the first
    ``N % n`` tiles hold ``N div n + 1`` rows, the rest ``N div n``
    (earlier tiles take the remainder). Ties at tile boundaries split
    by the caller's tiebreak column — same rule both engines apply
    given a total order. The total row count joins in as a broadcast
    1-row aggregate, so the tile expression is pure column arithmetic.
    """
    ranked = global_rank(df, order_by, rank_col="__gn_rank")
    total = ranked.agg(F.count(F.lit(1)).alias("__gn_total"))
    j = ranked.crossJoin(F.broadcast(total))
    base = (F.col("__gn_total") / n_tiles).cast("bigint")  # N div n (N>=0)
    rem = F.col("__gn_total") % n_tiles
    cut = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    rank = F.col("__gn_rank")
    tile = F.when(
        rank <= cut, F.floor((rank - 1) / (base + 1)) + 1
    ).otherwise(rem + F.floor((rank - cut - 1) / base) + 1)
    return j.withColumn(tile_col, tile.cast("int")).drop(
        "__gn_rank", "__gn_total"
    )
