"""Round-11 operators: the distributed MMR greedy phase (VERDICT r10
ask #1 — applyInPandas per query_id replaces the driver-side loop,
bit-identical to the old panel path). The IVF∘PQ index metadata tests
live in test_ann.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


class TestDistributedMmr:
    def test_distributed_matches_driver_bit_identically(self, spark):
        """The applyInPandas greedy and the old driver panel share
        _mmr_greedy_one verbatim, so the selections must be EQUAL —
        not close — across every query and rank."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        emb = _emb(spark)
        probe = emb.where(F.col("vec_id") < 6)
        dist = sorted(
            map(
                tuple,
                mmr_diversified_topk(
                    emb, probe, k=8, shortlist=40, lam=0.7, mu=0.3
                ).collect(),
            )
        )
        drv = sorted(
            map(
                tuple,
                mmr_diversified_topk(
                    emb,
                    probe,
                    k=8,
                    shortlist=40,
                    lam=0.7,
                    mu=0.3,
                    distributed=False,
                ).collect(),
            )
        )
        assert dist == drv
        assert len(dist) == 48  # 6 queries x top-8

    def test_no_collect_in_distributed_plan(self, spark):
        """The distributed path must be a lazy plan ending in
        FlatMapGroupsInPandas — no driver materialization before the
        caller's action."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        emb = _emb(spark)
        probe = emb.where(F.col("vec_id") < 3)
        plan = (
            mmr_diversified_topk(emb, probe, k=4, shortlist=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "FlatMapGroupsInPandas" in plan

    def test_zero_norm_skipped_in_distributed_path(self, spark):
        """The r8 zero-norm guard must survive the move off the
        driver."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),
            (3, [0.0, 1.0]),
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        probe = emb.where(F.col("vec_id") == 0)
        sl = spark.createDataFrame(
            [(0, 1, 0.99), (0, 2, 0.5), (0, 3, 0.0)],
            ["query_id", "neighbor_id", "sim"],
        )
        got = mmr_diversified_topk(
            emb, probe, k=3, lam=0.7, mu=0.3, shortlist_df=sl
        ).collect()
        picked = {r["vec_id"] for r in got}
        assert picked == {1, 3}
