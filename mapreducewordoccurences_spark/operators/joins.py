"""Join operators.

The reference has no joins at all (SURVEY.md §2d) — hash/sort-merge/
broadcast/semi/anti are Spark built-ins reached through ``df.join``.
What Spark's DataFrame API lacks natively is the time-series as-of
join and a bucketed interval-overlap join; both are implemented here as
compositions of built-in operators (no Python in the data path), so
Catalyst/AQE still own the physical strategy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with ≥1 match in ``right`` (EXISTS). Built-in
    left_semi: right side never materializes into the output, and AQE
    can pick broadcast when right is small."""
    return left.join(right, on=_as_list(on), how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS)."""
    return left.join(right, on=_as_list(on), how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """As-of (nearest-timestamp) join, Spark-first.

    For each left row, attach the right row with the same ``on`` keys
    and the greatest ``right_ts`` <= ``left_ts`` (direction="backward",
    inclusive) or the smallest ``right_ts`` >= ``left_ts`` ("forward").

    Implementation: union the two inputs tagged by side, then one
    window pass per ``on`` group ordered by timestamp with a running
    ``last(payload, ignorenulls)`` (backward) / ``first`` (forward).
    Cost at scale: exactly ONE shuffle (hash partition by ``on``) plus
    an in-partition sort — the same cost as a sort-merge join, with no
    per-row Python and no range-explosion. This beats the naive
    join+filter+argmax (which shuffles twice and can explode) and the
    pandas ``merge_asof`` route (which forces Arrow transfer of both
    sides). Hot keys land on one partition; if a key is pathologically
    hot, pre-split by a time-bucket salt before calling.

    Ties: a right row at exactly ``left_ts`` matches (inclusive), as in
    pandas ``merge_asof`` and DuckDB ASOF JOIN. A right column whose
    name a left column already has comes out suffixed ``_right``.

    ``tolerance`` (pandas ``merge_asof`` parity): a maximum allowed
    time gap — a literal in the timestamp column's own difference
    units (an int for numeric ts, a ``F.expr("INTERVAL 1 HOUR")``
    Column for timestamp ts). Matches farther than ``tolerance`` from
    the left row are nulled out, exactly as if no match existed. This
    is a post-window projection — the plan (one shuffle, one sort) is
    unchanged.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = _as_list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]
    payload_cols = [right_ts, *right_cols]
    payload_schema = right.select(*payload_cols).schema

    lhs = left.select(
        *[F.col(c) for c in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(payload_schema).alias("__rrow"),
    )
    rhs = right.select(
        *[F.col(c) for c in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(left.schema).alias("__lrow"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__rrow"),
    )
    unioned = lhs.unionByName(rhs)

    if direction == "backward":
        # right rows sort before left rows at equal ts → inclusive match
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        match = F.last("__rrow", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        match = F.first("__rrow", ignorenulls=True).over(w)

    matched = unioned.withColumn("__match", match).where(F.col("__is_left") == 1)
    if tolerance is not None:
        tol = tolerance if isinstance(tolerance, Column) else F.lit(tolerance)
        if direction == "backward":
            gap = F.col("__ts") - F.col(f"__match.{right_ts}")
        else:
            gap = F.col(f"__match.{right_ts}") - F.col("__ts")
        matched = matched.withColumn(
            "__match", F.when(gap <= tol, F.col("__match"))
        )
    left_names = set(left.columns)
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    for c in payload_cols:
        out_name = c + "_right" if c in left_names else c
        out_cols.append(F.col(f"__match.{c}").alias(out_name))
    return matched.select(*out_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    left_id: str | Sequence[str],
    right_id: str | Sequence[str],
) -> DataFrame:
    """Interval × interval overlap join: pairs where
    [left_start, left_end] ∩ [right_start, right_end] ≠ ∅ (closed
    intervals: touching endpoints overlap).

    The naive formulation — join on ``l.start <= r.end AND r.start <=
    l.end`` — has no equi-key, so Spark plans a broadcast nested loop
    (or worse, a cartesian product): O(|L|·|R|) comparisons, the
    classic scale-killer. This operator buckets TIME instead: each
    interval explodes into the fixed-width buckets it touches, the
    join runs as a plain EQUI-join on the bucket id, duplicate hits
    (a pair overlapping in k shared buckets) collapse via
    dropDuplicates on the id columns, and the exact overlap predicate
    filters bucket-mates that don't truly intersect. Cost is
    data + Σ interval_len/bucket_width — never the cross product —
    and the plan is a shuffled equi-join AQE can size and skew-split.
    Pick ``bucket_width`` near the typical interval length: too small
    multiplies the explode, too large multiplies same-bucket
    candidates.

    Output: all left columns + all right columns (caller must ensure
    the names are disjoint, e.g. via pre-aliasing).
    """
    lids, rids = _as_list(left_id), _as_list(right_id)
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(f"overlapping column names: {sorted(clash)}")

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        # floor, not cast-truncation: trunc rounds TOWARD ZERO, so a
        # negative-domain interval would land in the wrong bucket and
        # silently miss overlaps; floor keeps buckets aligned on both
        # sides of zero
        return df.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(start) / F.lit(bucket_width)).cast("long"),
                    F.floor(F.col(end) / F.lit(bucket_width)).cast("long"),
                )
            ),
        )
    lb = bucketed(left, left_start, left_end).alias("__l")
    rb = bucketed(right, right_start, right_end).alias("__r")
    overlap = (F.col(f"__l.{left_start}") <= F.col(f"__r.{right_end}")) & (
        F.col(f"__r.{right_start}") <= F.col(f"__l.{left_end}")
    )
    joined = lb.join(
        rb, on=(F.col("__l.__bucket") == F.col("__r.__bucket")) & overlap, how="inner"
    )
    return joined.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__r.{c}").alias(c) for c in right.columns],
    ).dropDuplicates(lids + rids)
