"""Time-series resampling with gap fill — the downsample step between
raw event streams and fixed-interval models (monitoring rollups,
feature windows). Complements the as-of join (operators/joins.py) and
sessionization (queries.py): as-of aligns two irregular series, this
regularizes one.

No reference counterpart (the reference is a word-count CLI); built on
the engine's one event-time convention — int64 epoch-micros via the
schema-adaptive ``sources.readers.ts_micros`` helper (accepts
timestamp, timestamp_ntz, or legacy bigint-nanos input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import ts_micros


def resample_with_gap_fill(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Per key: bucket observations into fixed ``bucket_us`` windows
    (aggregate = bucket MAX — deterministic with no tiebreak), emit
    EVERY bucket between the key's first and last observation, and
    forward-fill empty buckets with the last observed aggregate.

    Returns (key, bucket, v, filled): ``v`` is null for gap rows,
    ``filled`` is the gap-filled series. The first bucket per key is
    an observation by construction, so ``filled`` is never null.

    Plan: one (key, bucket) aggregation; a per-key min/max aggregate
    whose ``sequence`` explode materializes the dense bucket axis
    (rows ∝ time-range/bucket, independent of event count); a left
    join back on (key, bucket); one per-key window for the fill. All
    four shuffles share the key, and AQE coalesces the dense axis —
    per-key state never exceeds the bucket range. Keys are
    independent — no global ordering anywhere, so the plan scales out
    with key cardinality (the skew ceiling is one key's bucket range,
    bounded by retention/bucket_us, not by event volume).
    """
    # integer div end-to-end: float division would lose precision on
    # epoch-scale longs (up to 2⁶² range vs double's 53-bit mantissa)
    obs = (
        df.select(
            F.col(key_col),
            ts_micros(df, ts_col).alias("__us"),
            F.col(value_col).alias("__v"),
        )
        .select(
            F.col(key_col),
            F.expr(f"__us div {int(bucket_us)}").alias("bucket"),
            F.col("__v"),
        )
        .groupBy(key_col, "bucket")
        .agg(F.max("__v").alias("v"))
    )
    axis = (
        obs.groupBy(key_col)
        .agg(F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi"))
        .select(
            F.col(key_col),
            F.explode(F.sequence("__lo", "__hi")).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return axis.join(obs, on=[key_col, "bucket"], how="left").select(
        F.col(key_col),
        "bucket",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("filled"),
    )


def ewma_last(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Final exponentially-weighted moving average per key:
    ewma_1 = v_1;  ewma_i = alpha*v_i + (1-alpha)*ewma_{i-1}
    over the key's events in (ts, tiebreak) order. Returns
    (key, n_obs, ewma_value).

    Determinism: the recurrence is a SEQUENTIAL fold over a totally
    ordered array — every engine that folds left-to-right performs the
    identical IEEE-double operation sequence, so results are
    bit-identical (unlike a SUM of pow-weighted terms, which is both
    order-nondeterministic and underflow-prone past ~1000 steps).

    Scale: one shuffle (groupBy key); per-key state is that key's
    observation array — the batch shape for bounded histories (a
    year of hourly points = 9k doubles/key). For unbounded streams the
    same recurrence runs as O(1)-state streaming
    (streaming/stateful.py), which is the 100 TB/append path.
    """
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(order_tiebreak).alias("tb"),
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    a = F.lit(float(alpha))
    ewma = F.aggregate(
        F.expr("slice(__obs, 2, size(__obs) - 1)"),
        F.element_at(F.col("__obs"), 1)["v"],
        lambda acc, s: a * s["v"] + (F.lit(1.0) - a) * acc,
    )
    return (
        df.groupBy(key_col)
        .agg(arr.alias("__obs"))
        .select(
            key_col,
            F.size("__obs").cast("bigint").alias("n_obs"),
            ewma.alias("ewma_value"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average per key for an IRREGULARLY sampled series:
    each observation's value is weighted by how long it was in effect
    (until the next observation) — the correct mean for step-function
    metrics (gauge readings, account balances), where the arithmetic
    mean over-weights bursty periods.

    TWA = sum(v_i * (t_{i+1} - t_i)) / (t_N - t_1), over the lead()
    gap; the last observation carries no weight (it is never "in
    effect" within the observed range). Keys with one observation
    yield NULL (zero observed duration).

    One window + one aggregate, both partitioned by the key — a single
    shuffle, no global ordering, scales out with key cardinality. The
    value×duration products are summed at 6-digit fixed point (the
    gram-matrix/correlation protocol: truncate to BIGINT, sum exactly,
    one closing divide) so the result is order-independent and
    bit-portable across engines; gap durations are converted to
    seconds first to keep the unscaled sums under 2^53.
    """
    w = Window.partitionBy(key_col).orderBy("__us", "__tb")
    obs = df.select(
        F.col(key_col),
        ts_micros(df, ts_col).alias("__us"),
        F.col(value_col).cast("double").alias("__v"),
        # (ts, tiebreak) must be unique per key or lead() is
        # order-dependent on equal timestamps
        F.col(tiebreak_col).alias("__tb"),
    ).withColumn("__gap_us", F.lead("__us").over(w) - F.col("__us"))
    # Spark's double->bigint cast truncates toward zero; the DuckDB
    # mirror is CAST(trunc(x) AS BIGINT)
    wsum_fp = F.sum(
        F.expr("CAST(__v * (__gap_us / 1e6) * 1e6 AS BIGINT)")
    )
    return (
        obs.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            (F.max("__us") - F.min("__us")).alias("span_us"),
            wsum_fp.alias("__wsum_fp"),
        )
        .select(
            F.col(key_col),
            F.col("n_obs"),
            F.col("span_us"),
            F.when(
                F.col("span_us") > 0,
                (F.col("__wsum_fp") / F.lit(1e6))
                / (F.col("span_us") / F.lit(1e6)),
            ).alias("twa_value"),
        )
    )
