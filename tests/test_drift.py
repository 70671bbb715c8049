"""Unit tests for operators/drift.py against hand-computed / pure-
Python references (no scipy in the container)."""

from __future__ import annotations

import math

from mapreducewordoccurences_spark.operators.drift import chi2_contingency, ks_grid, psi


def test_chi2_matches_hand_computation(spark):
    # 2x2 table: [[10, 20], [30, 40]]
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 30 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r["r"], r["c"]): r for r in chi2_contingency(df, "r", "c").collect()}
    n = 100
    for (rv, cv), (o, rt, ct) in {
        ("a", "x"): (10, 30, 40),
        ("a", "y"): (20, 30, 60),
        ("b", "x"): (30, 70, 40),
        ("b", "y"): (40, 70, 60),
    }.items():
        e = rt * ct / n
        assert abs(out[(rv, cv)]["expected"] - round(e, 6)) < 1e-9
        assert abs(out[(rv, cv)]["chi2_contrib"] - round((o - e) ** 2 / e, 6)) < 1e-9
    total = sum(r["chi2_contrib"] for r in out.values())
    assert abs(total - 100 * (10 * 40 - 20 * 30) ** 2 / (30 * 70 * 40 * 60)) < 1e-4


def test_psi_identical_distributions_is_zero(spark):
    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    row = psi(a, a, "v", bucket_width=1.0).collect()[0]
    assert row["psi"] == 0.0
    assert row["n_a"] == row["n_b"] == 100


def test_psi_matches_pure_python(spark):
    va = [float(i % 10) for i in range(100)]            # uniform 0..9
    vb = [float(i % 5) for i in range(100)]             # mass on 0..4
    a = spark.createDataFrame([(v,) for v in va], "v double")
    b = spark.createDataFrame([(v,) for v in vb], "v double")
    got = psi(a, b, "v", bucket_width=1.0).collect()[0]["psi"]

    from collections import Counter

    ca, cb = Counter(int(v) for v in va), Counter(int(v) for v in vb)
    buckets = set(ca) | set(cb)
    ref = 0
    for k in buckets:
        p = max(ca.get(k, 0) / 100, 1e-6)
        q = max(cb.get(k, 0) / 100, 1e-6)
        ref += math.trunc((p - q) * math.log(p / q) * 1e8)
    assert got == ref / 1e8
    assert got > 0.25  # half the mass moved: a major shift


def test_ks_grid_matches_pure_python(spark):
    va = [float(v) for v in (1, 2, 3, 4, 5, 6, 7, 8)]
    vb = [float(v) for v in (5, 6, 7, 8, 9, 10, 11, 12)]
    a = spark.createDataFrame([(v,) for v in va], "v double")
    b = spark.createDataFrame([(v,) for v in vb], "v double")
    row = ks_grid(a, b, "v", bucket_width=1.0).collect()[0]
    # ECDF at bucket 4 (values <= 4): a = 4/8, b = 0/8 -> D = 0.5
    assert row["ks_stat"] == 0.5
    assert row["at_bucket"] == 4
    assert row["n_a"] == row["n_b"] == 8


def test_psi_from_bucket_counts_default_names(spark):
    """Composing the two public APIs with their DEFAULT count-column
    name ('n' on both sides) must work — the join normalizes names
    positionally instead of resolving ambiguous references."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.operators.drift import (
        bucket_counts,
        psi_from_bucket_counts,
    )

    a = spark.range(100).select((F.col("id") % 10).cast("double").alias("v"))
    b = spark.range(100).select((F.col("id") % 5).cast("double").alias("v"))
    row = psi_from_bucket_counts(
        bucket_counts(a, "v", 1.0),  # default name "n"
        bucket_counts(b, "v", 1.0),  # default name "n" — was ambiguous
    ).collect()[0]
    assert row["n_a"] == row["n_b"] == 100
    assert row["psi"] > 0.25  # mass halved onto 0..4: major shift


def test_cusum_identity_matches_recursion(spark):
    """The window formulation S_t = P_t − min(0, min_{j≤t} P_j) must
    equal the direct recursion S_t = max(0, S_{t-1} + d_t) computed
    in pure Python over the same daily aggregates."""
    import duckdb

    from tests.conftest import SF_DIR
    from mapreducewordoccurences_spark.queries import QUERIES

    rows = QUERIES["cusum_daily_value_shift"](spark, SF_DIR).orderBy("day").collect()

    daily = duckdb.sql(f"""
        SELECT epoch_us(ts) // 86400000000 AS day,
               SUM(CAST(round(value * 10000) AS BIGINT)) AS x
        FROM '{SF_DIR}/events.parquet' GROUP BY 1 ORDER BY day
    """).fetchall()
    n = len(daily)
    total = sum(x for _, x in daily)
    s, expect = 0, {}
    for day, x in daily:
        d = n * x - total
        s = max(0, s + d)
        expect[day] = s
    got = {r["day"]: r["cusum_fp"] for r in rows}
    assert got == expect
