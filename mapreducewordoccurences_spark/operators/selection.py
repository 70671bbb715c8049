"""Exact order statistics at scale: iterative histogram narrowing.

Spark's exact ``percentile`` (and any sort-based selection) funnels
the full column through per-group state; at 100 TB a global exact
quantile needs a selection algorithm instead. This is the classic
distributed quantile-by-bisection: each round scans the column once,
histograms it into B buckets over the current [lo, hi] candidate
range (one tiny B-row aggregate to the driver — never data), and
descends into the bucket containing the target rank. The candidate
row count shrinks ~B× per round, so 2-3 rounds isolate a slice small
enough to resolve exactly with one ordered limit.

Driver state: two floats and a B-row histogram per round. Executor
state: none beyond a map-side partial count. Every pass is a full
predicate-pushdown scan (``col BETWEEN lo AND hi``), so a layout
sorted on the column prunes later rounds to a handful of row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_quantile_disc(
    df: DataFrame,
    col: str,
    q: float,
    buckets: int = 1024,
    direct_threshold: int = 100_000,
    max_rounds: int = 8,
) -> float:
    """The discrete q-quantile (smallest value v such that at least
    ceil(q·N) rows are <= v — ``percentile_disc`` semantics, an actual
    data value, no interpolation).

    Exact for any distribution, including heavy duplicates (a bucket
    that cannot shrink because one value dominates it resolves through
    the equality fast path).
    """
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0,1], got {q}")
    c = F.col(col)
    base = df.where(c.isNotNull()).select(c.cast("double").alias("v"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()[0]
    n, lo, hi = stats.n, stats.lo, stats.hi
    if n == 0:
        raise ValueError("exact_quantile_disc on an empty column")
    # rank = ceil(q·n), with an epsilon so double round-up on exact
    # integer boundaries (e.g. 15000·0.9 → 13500.000000000002) doesn't
    # shift the rank
    import math

    rank = max(1, math.ceil(n * q - 1e-9))

    below = 0  # rows strictly left of the current candidate range
    for _ in range(max_rounds):
        if lo == hi:
            return lo
        slice_rows = base.where((F.col("v") >= lo) & (F.col("v") <= hi))
        remaining = rank - below
        cnt = slice_rows.count()
        if cnt <= direct_threshold:
            # endgame: resolve the small slice with an ordered limit
            row = (
                slice_rows.orderBy("v")
                .limit(remaining)
                .agg(F.max("v").alias("v"))
                .collect()[0]
            )
            return row.v
        width = (hi - lo) / buckets
        hist = (
            slice_rows.select(
                F.least(
                    F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
                    F.lit(buckets - 1),
                ).alias("b"),
                "v",
            )
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        )
        counts = {r.b: r for r in hist}
        run = 0
        for b in sorted(counts):
            cb = counts[b].c
            if run + cb >= remaining:
                below += run
                # narrow to the values the bucket counted: a bound
                # computed as lo + b·width can round past one of them
                # (v - lo loses a subnormal v next to a large |lo|)
                new_lo, new_hi = counts[b].lo, counts[b].hi
                # guard: a single dominant value can stop the range
                # from shrinking — resolve by equality count
                if new_lo == lo and new_hi == hi:
                    return _resolve_degenerate(base, lo, hi, rank - below)
                lo, hi = new_lo, new_hi
                break
            run += cb
    # ranges shrink geometrically; if we're here the slice is tiny
    row = (
        base.where((F.col("v") >= lo) & (F.col("v") <= hi))
        .orderBy("v")
        .limit(rank - below)
        .agg(F.max("v").alias("v"))
        .collect()[0]
    )
    return row.v


def _resolve_degenerate(base: DataFrame, lo: float, hi: float, remaining: int) -> float:
    mid = (lo + hi) / 2
    left = base.where((F.col("v") >= lo) & (F.col("v") < mid)).count()
    if remaining <= left:
        return (
            base.where((F.col("v") >= lo) & (F.col("v") < mid))
            .orderBy("v")
            .limit(remaining)
            .agg(F.max("v").alias("v"))
            .collect()[0]
            .v
        )
    return (
        base.where((F.col("v") >= mid) & (F.col("v") <= hi))
        .orderBy("v")
        .limit(remaining - left)
        .agg(F.max("v").alias("v"))
        .collect()[0]
        .v
    )
