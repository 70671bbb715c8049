"""Operator-level tests for paths not covered by catalog queries:
forward as-of join, kNN recall (LSH, IVF, quantized), resample
gap-fill and the bucketed interval-overlap join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.operators.joins import asof_join
from mapreducewordoccurences_spark.sources.readers import load_table, ts_micros

from tests.conftest import SF_DIR


def test_asof_join_forward_direction(spark, duck):
    """Forward as-of (next signup at/after each purchase) vs DuckDB."""
    ev = load_table(spark, SF_DIR, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    # compare at microsecond precision on both engines (ts_micros is
    # schema-adaptive: timestamp[us] parquet or legacy bigint-nanos)
    joined = asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=[], direction="forward",
    )
    got = {
        (r["event_id"], r["ts_right_us"])
        for r in joined.select(
            "event_id", ts_micros(joined, "ts_right").alias("ts_right_us")
        ).collect()
    }
    expected = {
        (r[0], r[1])
        for r in duck.sql(
            """
            SELECT p.event_id, epoch_us(s.ts)
            FROM (SELECT * FROM events WHERE event_type='purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='signup') s
              ON p.user_id = s.user_id AND p.ts <= s.ts
            """
        ).fetchall()
    }
    assert got == expected


def test_asof_join_inclusive_tie(spark):
    """A right row at exactly left_ts matches in both directions."""
    left = spark.createDataFrame([(1, 100, "L")], "k bigint, t bigint, lv string")
    right = spark.createDataFrame([(1, 100, "R")], "k bigint, t bigint, rv string")
    for direction in ["backward", "forward"]:
        out = asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            right_cols=["rv"], direction=direction,
        ).collect()
        assert out[0]["rv"] == "R", direction


def test_lsh_knn_recall_vs_brute_force(spark):
    """Multi-table sign-LSH must recover most true top-5 neighbors."""
    from mapreducewordoccurences_spark.functions.similarity import (
        brute_force_knn,
        lsh_knn,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = brute_force_knn(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_knn(emb, queries, k=5, dim=64)
    exact_pairs = {(r[0], r[1]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # isotropic random 64-d data is LSH-hard (neighbor sims ≈ 0.1);
    # defaults hit ≈0.86 here — real embedding corpora do far better
    assert recall >= 0.6, recall


def test_ivf_knn_recall_vs_brute_force(spark):
    """IVF-flat with nprobe=8 of nlist=16 cells must recover most true
    top-5 neighbors; probing every cell must be exact."""
    from mapreducewordoccurences_spark.functions.similarity import (
        brute_force_knn,
        ivf_knn,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact_pairs = {
        (r[0], r[1])
        for r in brute_force_knn(emb, queries, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    }
    approx = ivf_knn(emb, queries, k=5, nlist=16, nprobe=8)
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # isotropic 64-d data scatters true neighbors across cells
    # (worst case for IVF); real clustered embeddings do far better
    assert recall >= 0.5, recall

    full = ivf_knn(emb, queries, k=5, nlist=16, nprobe=16)
    full_pairs = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert full_pairs == exact_pairs


def test_asof_join_null_timestamps_yield_null_match(spark):
    """NULL left timestamps must produce a row with a NULL match (nulls
    order first in the window, before any right row) — never a crash,
    never a spurious match."""
    from mapreducewordoccurences_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, None, "b"), (2, 5, "c")], "k bigint, ts bigint, lv string"
    )
    right = spark.createDataFrame(
        [(1, 8, "r1"), (2, 1, "r2")], "k bigint, ts bigint, rv string"
    )
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["rv"]
        ).collect()
    }
    assert out == {"a": "r1", "b": None, "c": "r2"}


def test_quantize_embedding_roundtrip_error_bounded(spark):
    from mapreducewordoccurences_spark.functions.similarity import quantize_embedding

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).select("vec_id", quantize_embedding("embedding").alias("qz"), "embedding")
    rows = {r["vec_id"]: r for r in df.collect()}
    # max|v|=1.0 -> scale = 1/127; q = round(v*127)
    assert rows[1]["qz"]["q"] == [64, -127, 32, 0]  # floor(63.5+0.5)=64
    assert rows[1]["qz"]["scale"] == pytest.approx(1 / 127)
    # dequantized error bounded by scale/2 per component
    for q, v in zip(rows[1]["qz"]["q"], rows[1]["embedding"]):
        assert abs(q * rows[1]["qz"]["scale"] - v) <= rows[1]["qz"]["scale"] / 2 + 1e-12
    # zero vector: all-zero q, scale 0
    assert rows[2]["qz"]["q"] == [0, 0, 0, 0]
    assert rows[2]["qz"]["scale"] == 0.0


def test_quantized_knn_recall_vs_brute_force(spark):
    from mapreducewordoccurences_spark.functions.similarity import (
        brute_force_knn,
        quantized_knn,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id < 20")
    exact = brute_force_knn(emb, queries, k=5)
    approx = quantized_knn(emb, queries, k=5, rerank_factor=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall
    # re-ranked cos_sim is EXACT float — identical for common pairs
    ev = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact.collect()}
    av = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in approx.collect()}
    for pair in e & a:
        assert av[pair] == pytest.approx(ev[pair], rel=1e-12)


def test_quantized_knn_no_python_eval(spark):
    from mapreducewordoccurences_spark.functions.similarity import quantized_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = (
        quantized_knn(emb, emb.where("vec_id < 2"), k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan


class TestResampleGapFill:
    def _mk(self, spark, rows):
        # ts in nanos; bucket_us=1000 → bucket = micros div 1000 = millis
        return spark.createDataFrame(rows, "user_id long, ts long, value double")

    def test_gaps_forward_filled(self, spark):
        from mapreducewordoccurences_spark.operators.timeseries import (
            resample_with_gap_fill,
        )

        df = self._mk(
            spark,
            [
                (1, 0, 10.0),            # bucket 0
                (1, 1_000_000, 11.0),    # bucket 1
                (1, 4_000_000, 14.0),    # bucket 4: gap at 2,3
            ],
        )
        got = sorted(
            (r["bucket"], r["v"], r["filled"])
            for r in resample_with_gap_fill(
                df, ts_col="ts", bucket_us=1000
            ).collect()
        )
        assert got == [
            (0, 10.0, 10.0),
            (1, 11.0, 11.0),
            (2, None, 11.0),
            (3, None, 11.0),
            (4, 14.0, 14.0),
        ]

    def test_bucket_max_and_per_key_ranges(self, spark):
        from mapreducewordoccurences_spark.operators.timeseries import (
            resample_with_gap_fill,
        )

        df = self._mk(
            spark,
            [
                (1, 0, 1.0),
                (1, 500_000, 9.0),   # same bucket as above → max 9
                (2, 7_000_000, 3.0),  # key 2 exists only in bucket 7
            ],
        )
        got = {
            (r["user_id"], r["bucket"]): (r["v"], r["filled"])
            for r in resample_with_gap_fill(
                df, ts_col="ts", bucket_us=1000
            ).collect()
        }
        assert got == {(1, 0): (9.0, 9.0), (2, 7): (3.0, 3.0)}

    def test_no_python_eval(self, spark):
        from mapreducewordoccurences_spark.operators.timeseries import (
            resample_with_gap_fill,
        )

        df = self._mk(spark, [(1, 0, 1.0)])
        plan = (
            resample_with_gap_fill(df, ts_col="ts", bucket_us=1000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan


class TestIntervalOverlapJoin:
    def _run(self, spark, bucket_width):
        from mapreducewordoccurences_spark.operators.joins import (
            interval_overlap_join,
        )

        # [0,10] [20,30] [5,25]-spans-3-buckets vs [10,12] [26,40] [100,101]
        left = spark.createDataFrame(
            [(1, 0, 10), (2, 20, 30), (3, 5, 25)],
            "lid bigint, ls bigint, le bigint",
        )
        right = spark.createDataFrame(
            [(7, 10, 12), (8, 26, 40), (9, 100, 101)],
            "rid bigint, rs bigint, re bigint",
        )
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re",
            bucket_width=bucket_width, left_id="lid", right_id="rid",
        )
        return {(r["lid"], r["rid"]) for r in out.collect()}

    def test_exact_pairs_any_bucket_width(self, spark):
        # closed-interval semantics: [0,10]&[10,12] touch at 10 → overlap;
        # (3,7) and (3,8) overlap mid-span; nothing touches [100,101]
        expected = {(1, 7), (2, 8), (3, 7)}
        # result must be bucket-width-INVARIANT (dedup collapses
        # multi-bucket hits; the exact predicate is the arbiter)
        for w in (2, 10, 1000):
            assert self._run(spark, w) == expected, w

    def test_no_cartesian_in_plan(self, spark):
        from mapreducewordoccurences_spark.operators.joins import (
            interval_overlap_join,
        )

        left = spark.range(10).select(
            F.col("id").alias("lid"), (F.col("id") * 10).alias("ls"),
            (F.col("id") * 10 + 5).alias("le"),
        )
        right = spark.range(10).select(
            F.col("id").alias("rid"), (F.col("id") * 10 + 3).alias("rs"),
            (F.col("id") * 10 + 8).alias("re"),
        )
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re",
            bucket_width=10, left_id="lid", right_id="rid",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_column_clash_rejected(self, spark):
        from mapreducewordoccurences_spark.operators.joins import (
            interval_overlap_join,
        )

        df = spark.createDataFrame([(1, 0, 1)], "id bigint, s bigint, e bigint")
        with pytest.raises(ValueError, match="overlapping column names"):
            interval_overlap_join(df, df, "s", "e", "s", "e",
                                  bucket_width=10, left_id="id", right_id="id")

    def test_random_intervals_match_bruteforce(self, spark):
        """Differential: bucketed overlap join ≡ O(n·m) reference on
        random interval sets (includes touching, nested, disjoint,
        zero-length intervals)."""
        import random

        from mapreducewordoccurences_spark.operators.joins import (
            interval_overlap_join,
        )

        rng = random.Random(11)
        lrows = []
        for i in range(60):
            s = rng.randrange(0, 500)
            lrows.append((i, s, s + rng.randrange(0, 80)))
        rrows = []
        for j in range(60):
            s = rng.randrange(0, 500)
            rrows.append((j, s, s + rng.randrange(0, 80)))
        expected = {
            (li, rj)
            for (li, ls, le) in lrows
            for (rj, rs, re) in rrows
            if ls <= re and rs <= le
        }
        left = spark.createDataFrame(lrows, "lid bigint, ls bigint, le bigint")
        right = spark.createDataFrame(rrows, "rid bigint, rs bigint, re bigint")
        for w in (7, 64, 1000):
            out = interval_overlap_join(
                left, right, "ls", "le", "rs", "re",
                bucket_width=w, left_id="lid", right_id="rid",
            )
            got = {(r["lid"], r["rid"]) for r in out.collect()}
            assert got == expected, (w, len(got), len(expected))

    def test_negative_domain_intervals(self, spark):
        """Buckets must be FLOOR-aligned: intervals straddling or below
        zero (pre-epoch timestamps, signed offsets) must still find
        their overlaps — cast-truncation would round toward zero and
        split the bucket space inconsistently."""
        from mapreducewordoccurences_spark.operators.joins import (
            interval_overlap_join,
        )

        left = spark.createDataFrame(
            [(1, -25, -15), (2, -5, 5), (3, -100, -90)],
            "lid bigint, ls bigint, le bigint",
        )
        right = spark.createDataFrame(
            [(7, -20, -18), (8, 4, 9), (9, -95, -94), (10, 50, 60)],
            "rid bigint, rs bigint, re bigint",
        )
        expected = {(1, 7), (2, 8), (3, 9)}
        for w in (3, 10, 64):
            out = interval_overlap_join(
                left, right, "ls", "le", "rs", "re",
                bucket_width=w, left_id="lid", right_id="rid",
            )
            got = {(r["lid"], r["rid"]) for r in out.collect()}
            assert got == expected, (w, got)
