"""Count-min sketch as a DataFrame — the constant-memory frequency
tier next to the exact heavy-hitter op (operators/skew.py
heavy_hitters) and the HLL distinct tier.

The sketch IS a (row, bucket, cnt) DataFrame of depth·width cells
(like dedup/bloom.py's bitmap-as-DataFrame): each of ``depth``
independent hash rows maps a key to one of ``width`` buckets;
estimate(key) = min over rows of its bucket's count. Collisions only
ADD, so CMS never undercounts; the classic bound is
estimate ≤ exact + (e/width)·N with probability ≥ 1 - e^-depth.

Scale design: building the sketch is ONE groupBy over (row, bucket) —
partial map-side combine makes the exchange ≤ depth·width·partitions
regardless of key cardinality, and two sketches with the same
(depth, width, hash family) merge by adding cell counts (union of
streams ≡ sum of sketches — the property that makes CMS the
streaming/rollup frequency structure). Probing is a broadcast join
of the probe set against depth rows each. Hashes are xxhash64 with
the row index folded in — deterministic across runs and partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cms_build(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Aggregate a column's value stream into a CMS cell table
    (__row, __bucket, cnt). Missing cells are implicit zeros."""
    rows = df.select(
        F.col(col).alias("__key"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__row"),
    ).select(
        "__row",
        (
            F.pmod(F.xxhash64(F.concat(F.col("__row").cast("string"),
                                       F.lit("|"), F.col("__key").cast("string"))),
                   F.lit(width))
        ).alias("__bucket"),
    )
    return rows.groupBy("__row", "__bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Point estimates for a probe set: min over depth rows of each
    probe's bucket count (a bucket absent from the sketch is 0 —
    possible only for keys never inserted). Probes re-hash with the
    same family; the lookup is an equi-join on (row, bucket) — the
    probe side is depth× its input size, typically broadcastable."""
    keyed = probes.select(
        F.col(col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__row"),
    ).select(
        col,
        "__row",
        (
            F.pmod(F.xxhash64(F.concat(F.col("__row").cast("string"),
                                       F.lit("|"), F.col(col).cast("string"))),
                   F.lit(width))
        ).alias("__bucket"),
    )
    return (
        keyed.join(sketch, ["__row", "__bucket"], "left")
        .select(col, F.coalesce("cnt", F.lit(0)).alias("__cell"))
        .groupBy(col)
        .agg(F.min("__cell").alias("cms_estimate"))
    )
