"""Streaming tests: file-source micro-batches → memory sink, checked
against the batch oracle (streaming results must equal batch results
on the same finite input — the exactly-once contract)."""

from __future__ import annotations

import collections
import os
import re
import shutil
import tempfile

import pytest

from mapreducewordoccurences_spark.streaming import (
    read_text_stream,
    streaming_word_counts,
    tumbling_event_counts,
    session_event_counts,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_wordcount_matches_batch_oracle(spark, tmpdir):
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    # two "arrivals" — two files, processed as micro-batches
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("foo bar qux\nbar bar baz\n")
    with open(os.path.join(src, "b.txt"), "w") as f:
        f.write("foo Foo 42 bar\n")

    counts = streaming_word_counts(read_text_stream(spark, src))
    q = (
        counts.writeStream.format("memory")
        .queryName("wc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["word"]: r["count"]
        for r in spark.sql("SELECT * FROM wc_stream").collect()
    }
    text = "foo bar qux\nbar bar baz\nfoo Foo 42 bar\n"
    expected = dict(collections.Counter(re.findall(r"[A-Za-z0-9]+", text)))
    assert got == expected


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, user_id bigint, value double"
    )
    df.write.mode("overwrite").parquet(path)
    return df


def test_tumbling_window_counts(spark, tmpdir):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=m), "click", 1, 1.0)
        for m in [1, 2, 59, 61, 121]
    ]
    src = os.path.join(tmpdir, "events")
    _write_events(spark, src, rows)

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id bigint, value double"
    ).parquet(src)
    out = tumbling_event_counts(stream, ts_col="ts", window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tumble")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"].hour, r["n_events"])
        for r in spark.sql("SELECT * FROM tumble").collect()
    }
    assert got == {(0, 3), (1, 1), (2, 1)}


def test_session_window_counts(spark, tmpdir):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # user 1: burst of 3 within 10 min, then 2 more after a 45-min gap
    rows = [
        (base + dt.timedelta(minutes=m), "click", 1, 1.0)
        for m in [0, 5, 10, 55, 60]
    ]
    src = os.path.join(tmpdir, "events")
    _write_events(spark, src, rows)

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id bigint, value double"
    ).parquet(src)
    out = session_event_counts(stream, ts_col="ts", key_col="user_id", gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["n_events"] for r in spark.sql("SELECT * FROM sessions").collect())
    assert got == [2, 3]


def test_streaming_events_ts_normalization(spark):
    """The events table's ts column (whatever physical type the
    testdata ships) converts to event-time for windowing (batch
    DataFrame check of the same expression)."""
    from mapreducewordoccurences_spark.sources.readers import load_table
    from mapreducewordoccurences_spark.streaming.windows import _as_event_time

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df, et = _as_event_time(ev, "ts")
    row = df.select(et).first()
    assert row[0].year >= 2024
