"""Streaming drift monitor: score every micro-batch of a numeric
stream against a FROZEN reference histogram with PSI, appending one
metrics row per batch — the serve-time guardrail that catches a
shifted input distribution before it poisons downstream models.

Composition of existing pieces (operators/drift.py supplies the
statistics; this module supplies the streaming loop):

    train time:  bucket_counts(reference) → write parquet (tiny)
    serve time:  stream → foreachBatch:
                   bucket_counts(batch) ⟗ frozen reference
                   → psi_from_bucket_counts → append metrics row

Scale notes: the reference histogram is range/width-sized (KBs) and
is read once per batch from parquet — never re-derived from training
data. Per batch, the only data-scale work is one bucketed count of
the batch itself; the PSI arithmetic runs on the joined histogram.
The metrics sink is a parquet log partitioned by batch_id, written
with dynamic partition overwrite — idempotent under epoch replay
because a re-processed batch OVERWRITES its own batch_id partition
(a plain append would duplicate the row: equal values, two copies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.operators.drift import (
    bucket_counts,
    psi_from_bucket_counts,
)


def freeze_reference(
    df: DataFrame, value_col: str, bucket_width: float, ref_dir: str
) -> None:
    """Train-time half: persist the reference (bucket, n_ref)
    histogram. coalesce(1) is safe — the histogram is bucket-axis
    sized, not data sized."""
    bucket_counts(df, value_col, bucket_width, "n_ref").coalesce(1).write.mode(
        "overwrite"
    ).parquet(ref_dir)


def start_psi_monitor(
    stream_df: DataFrame,
    value_col: str,
    bucket_width: float,
    ref_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
    floor_p: float = 1e-6,
):
    """Serve-time half: returns an ``availableNow`` StreamingQuery
    appending (batch_id, psi, n_buckets, n_batch, n_ref) per
    micro-batch to ``metrics_dir``. Alert policy is the caller's (the standard
    gates: psi > 0.25 page, > 0.1 warn)."""
    spark = stream_df.sparkSession

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ref = spark.read.parquet(ref_dir)
        row = psi_from_bucket_counts(
            bucket_counts(batch_df, value_col, bucket_width, "n_batch"),
            ref,
            floor_p=floor_p,
        ).select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            F.col("psi"),
            F.col("n_buckets"),
            F.col("n_a").alias("n_batch"),
            F.col("n_b").alias("n_ref"),
        )
        # Partition by batch_id + dynamic partition overwrite: replay of
        # a failed epoch rewrites ONLY that batch's partition instead of
        # appending a duplicate row — exactly-once metrics without a
        # transactional sink (test_streaming_psi_monitor_replay_
        # idempotent pins it).
        (
            row.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(metrics_dir)
        )

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(score_batch)
        .trigger(availableNow=True)
        .start()
    )
