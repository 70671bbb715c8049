"""Sinks.

The reference has exactly one sink: sorted ``key=value`` lines on
stdout (src/main.c:172-174). The CLI keeps that for parity
(cli.py); these sinks are the at-scale equivalents — distributed
writes, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_kv(df: DataFrame, path: str, key_col: str, val_col: str, mode: str = "overwrite") -> None:
    """Distributed ``key=value`` line output — the scale path for the
    reference's stdout sink. One text column, '=' separated."""
    (
        df.select(
            F.concat_ws("=", F.col(key_col), F.col(val_col).cast("string")).alias("value")
        )
        .write.mode(mode)
        .text(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    Bucketing pre-shuffles ONCE at write time: every table bucketed by
    the same keys into the same bucket count joins/aggregates on those
    keys with NO exchange at read time (sorted buckets also skip the
    sort-merge sort). This is the at-scale answer for a fact table
    that's joined on the same key by many queries per day — pay the
    shuffle once, not per query. Bucketed layout requires the table
    catalog (``saveAsTable``), not a bare path."""
    writer = df.write.mode(mode).format(format).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def start_foreach_batch_sink(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming sink escape hatch: run ``batch_fn(batch_df, batch_id)``
    on each micro-batch — upserts, multi-table writes, or any sink with
    no native streaming connector.

    Exactly-once comes from the pair (checkpointed batch_id, idempotent
    ``batch_fn``): on restart Spark may replay the last batch with the
    SAME batch_id, so the fn must be a no-op for an id it already
    committed (e.g. write to ``.../batch_id=<id>`` with overwrite).
    Returns the started StreamingQuery.
    """
    writer = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
