"""Structured Streaming tests: the custom stateful operator, the PSI
drift monitor and the catalog's streaming-row runner. Each streams a
finite input through one availableNow micro-batch and checks it
against the batch answer on the same rows."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mapreducewordoccurences_spark.queries import QUERIES

from tests.conftest import SF_DIR


def test_stateful_running_user_totals(spark):
    """applyInPandasWithState over a file-backed micro-batch stream:
    final per-user totals must equal the batch aggregation."""
    from mapreducewordoccurences_spark.streaming.stateful import running_user_totals

    d = tempfile.mkdtemp(prefix="stateful_")
    try:
        src = os.path.join(d, "src")
        rows = [(i, 1 + (i % 3), float(i % 10), i * 1000) for i in range(100)]
        df = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, value double, ts bigint"
        )
        df.write.parquet(src)

        stream = spark.readStream.schema(
            "event_id bigint, user_id bigint, value double, ts bigint"
        ).parquet(src)
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName("user_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                "SELECT * FROM user_totals"
            ).collect()
        }
        expected = {
            r["user_id"]: (r["n"], r["tv"])
            for r in df.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
            .collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_psi_monitor_matches_batch(spark, tmp_path):
    """Two micro-batches scored against a frozen reference must yield
    exactly the batch-mode PSI of each file's rows."""
    import os

    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.streaming.drift_monitor import (
        freeze_reference,
        start_psi_monitor,
    )

    src = str(tmp_path / "src")
    ref_dir = str(tmp_path / "ref")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    ref = spark.range(1000).select((F.col("id") % 10).cast("double").alias("v"))
    freeze_reference(ref, "v", 1.0, ref_dir)

    # batch 1 ~ reference (uniform), batch 2 shifted (mass on 0..4)
    b1 = spark.range(200).select((F.col("id") % 10).cast("double").alias("v"))
    b2 = spark.range(200).select((F.col("id") % 5).cast("double").alias("v"))
    b1.coalesce(1).write.mode("append").parquet(src)
    q = start_psi_monitor(
        spark.readStream.schema("v double").parquet(src),
        "v", 1.0, ref_dir, metrics, ckpt,
    )
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_psi_monitor(
        spark.readStream.schema("v double").parquet(src),
        "v", 1.0, ref_dir, metrics, ckpt,
    )
    q2.awaitTermination(120)

    rows = sorted(
        spark.read.parquet(metrics).collect(), key=lambda r: r["batch_id"]
    )
    assert len(rows) == 2

    from mapreducewordoccurences_spark.operators.drift import psi

    want1 = psi(b1, ref, "v", 1.0).collect()[0]["psi"]
    want2 = psi(b2, ref, "v", 1.0).collect()[0]["psi"]
    assert rows[0]["psi"] == want1 and want1 == 0.0  # same shape as ref
    assert rows[1]["psi"] == want2 and want2 > 0.25  # shifted: major drift
    assert rows[0]["n_batch"] == rows[1]["n_batch"] == 200
    assert rows[0]["n_ref"] == 1000


def test_streaming_psi_monitor_replay_idempotent(spark, tmp_path):
    """Epoch replay (same batch re-processed after a lost checkpoint)
    must OVERWRITE the batch's metrics partition, not append a
    duplicate row."""
    import os

    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.streaming.drift_monitor import (
        freeze_reference,
        start_psi_monitor,
    )

    src = str(tmp_path / "src")
    ref_dir = str(tmp_path / "ref")
    metrics = str(tmp_path / "metrics")
    os.makedirs(src)

    ref = spark.range(100).select((F.col("id") % 10).cast("double").alias("v"))
    freeze_reference(ref, "v", 1.0, ref_dir)
    ref.coalesce(1).write.mode("append").parquet(src)

    # two runs over the same source with FRESH checkpoints: the second
    # re-processes the same data as batch_id 0 — the replay scenario
    for ckpt in (str(tmp_path / "ckpt1"), str(tmp_path / "ckpt2")):
        q = start_psi_monitor(
            spark.readStream.schema("v double").parquet(src),
            "v", 1.0, ref_dir, metrics, ckpt,
        )
        q.awaitTermination(120)

    rows = spark.read.parquet(metrics).collect()
    assert len(rows) == 1, rows
    assert rows[0]["psi"] == 0.0


def test_streaming_row_fails_loudly_on_timeout(spark, monkeypatch):
    """A streaming row whose query has not finished by the timeout must
    raise and stop the query, never return a partial sink or leave a
    query running over a deleted checkpoint."""
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    with pytest.raises(TimeoutError):
        QUERIES["streaming_dedup_parity"](spark, SF_DIR)
    assert spark.streams.active == []
