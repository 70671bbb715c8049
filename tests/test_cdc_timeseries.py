"""Unit tests for operators/cdc.py (snapshot_diff, scd2_build) and
operators/timeseries.py time_weighted_avg — the edge cases the
oracle-parity sweep can't isolate: null-safe change detection,
same-timestamp attribute flips, and degenerate (single-observation)
series.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.operators.cdc import scd2_build, snapshot_diff
from mapreducewordoccurences_spark.operators.timeseries import time_weighted_avg


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, None, "C"), (4, 40.0, "D")],
        "k int, price double, status string",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 updated (price), 3 updated (NULL -> value),
        # 4 deleted, 5 inserted
        [(1, 10.0, "A"), (2, 25.0, "B"), (3, 30.0, "C"), (5, 50.0, "E")],
        "k int, price double, status string",
    )
    out = snapshot_diff(old, new, keys=["k"], compare_cols=["price", "status"])
    got = {r["k"]: r["change_type"] for r in out.collect()}
    assert got == {
        1: "unchanged",
        2: "update",
        3: "update",  # NULL->30.0 must be an update, not "unchanged"
        4: "delete",
        5: "insert",
    }
    row5 = out.where("k = 5").collect()[0]
    assert row5["old_price"] is None and row5["new_price"] == 50.0


def test_snapshot_diff_null_to_null_unchanged(spark):
    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(1, None)], "k int, v string")
    out = snapshot_diff(old, new, keys=["k"], compare_cols=["v"]).collect()
    assert out[0]["change_type"] == "unchanged"


def test_scd2_runs_and_ranges(spark):
    log = spark.createDataFrame(
        # key 1: A(t1,t2), B(t3), A(t4) -> 3 runs (A reappearing is a NEW run)
        [(1, "A", 10, 100), (1, "A", 20, 101), (1, "B", 30, 102),
         (1, "A", 40, 103),
         # key 2: single run
         (2, "X", 10, 200), (2, "X", 50, 201)],
        "k int, attr string, t long, tb long",
    )
    out = scd2_build(log, key="k", attr="attr", order_col="t", tiebreak="tb")
    rows = {(r["k"], r["version"]): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, 1)]["attr"] == "A" and rows[(1, 1)]["valid_from"] == 10
    assert rows[(1, 1)]["valid_to"] == 30 and not rows[(1, 1)]["is_current"]
    assert rows[(1, 1)]["n_observations"] == 2
    assert rows[(1, 2)]["attr"] == "B" and rows[(1, 2)]["valid_to"] == 40
    assert rows[(1, 3)]["attr"] == "A" and rows[(1, 3)]["is_current"]
    assert rows[(2, 1)]["is_current"] and rows[(2, 1)]["n_observations"] == 2


def test_scd2_same_timestamp_flip_deterministic(spark):
    # two observations at the SAME order_col value: the tiebreak decides
    # run order, and valid_to must follow version order (not valid_from
    # alone, which ties)
    log = spark.createDataFrame(
        [(1, "A", 10, 1), (1, "B", 10, 2)], "k int, attr string, t long, tb long"
    )
    out = {r["version"]: r for r in scd2_build(
        log, key="k", attr="attr", order_col="t", tiebreak="tb"
    ).collect()}
    assert out[1]["attr"] == "A" and out[1]["valid_to"] == 10
    assert out[2]["attr"] == "B" and out[2]["is_current"]


def _ts(s: int):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def test_time_weighted_avg_step_function(spark):
    # value 10 held for 30s, then 20 for 10s: TWA = (10*30+20*10)/40
    df = spark.createDataFrame(
        [(1, _ts(0), 10.0, 100), (1, _ts(30), 20.0, 101), (1, _ts(40), 99.0, 102)],
        "user_id int, ts timestamp, value double, event_id long",
    )
    row = time_weighted_avg(df, "user_id", "ts", "value", "event_id").collect()[0]
    assert row["n_obs"] == 3
    assert row["span_us"] == 40_000_000
    assert abs(row["twa_value"] - (10 * 30 + 20 * 10) / 40) < 1e-9


def test_time_weighted_avg_single_obs_null(spark):
    df = spark.createDataFrame(
        [(7, _ts(5), 3.0, 1)], "user_id int, ts timestamp, value double, event_id long"
    )
    row = time_weighted_avg(df, "user_id", "ts", "value", "event_id").collect()[0]
    assert row["n_obs"] == 1 and row["span_us"] == 0
    assert row["twa_value"] is None


def test_time_weighted_avg_vs_plain_mean_on_bursts(spark):
    # burst of identical cheap readings then one long-held expensive one:
    # plain mean is dragged to the burst, TWA is not
    rows = [(1, _ts(i), 0.0, i) for i in range(10)] + [
        (1, _ts(10), 100.0, 10), (1, _ts(1000), 100.0, 11)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, value double, event_id long"
    )
    twa = time_weighted_avg(df, "user_id", "ts", "value", "event_id").collect()[0][
        "twa_value"
    ]
    mean = df.agg(F.avg("value")).collect()[0][0]
    assert twa > 90.0  # 100 held for 990 of 1000 seconds
    assert mean < 20.0


def test_containment_catches_embedded_doc(spark):
    from mapreducewordoccurences_spark.dedup.ngram import ngram_jaccard_pairs
    from mapreducewordoccurences_spark.dedup.prefix import (
        prefix_filter_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} more{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated words entirely different here")],
        "doc_id int, text string",
    )
    cont = prefix_filter_containment_pairs(df, n=3, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0  # short fully embedded
    # symmetric Jaccard misses the same pair at any reasonable threshold
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert jac == []
