"""Round-9 operators: MMR scale path (IVF shortlist injection) and
the determinism hardening from the r8 advisories (explicit mu,
floor-grain compare, zero-norm guard). Cache-scoped verification, the
edit-distance tier and the cross-source matrix live in
test_dedup.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import load_table


class TestMmrHardening:
    def test_zero_norm_candidate_is_skipped(self, spark):
        """A zero embedding in an injected shortlist must be skipped
        (cosine undefined), not raise ZeroDivisionError (r8 ADVICE)."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero-norm: cosine undefined
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
        assert 2 not in picked
        assert picked == {1, 3}  # both valid candidates selected

    def test_explicit_mu_matches_default(self, spark):
        """mu defaults to 1-lam; passing the decimal literal the oracle
        uses must not change the selection on real data (scores sit
        far from grain boundaries on the test corpus)."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        probe = emb.where(F.col("vec_id") == 0)
        a = mmr_diversified_topk(emb, probe, k=8, shortlist=40, lam=0.7).collect()
        b = mmr_diversified_topk(
            emb, probe, k=8, shortlist=40, lam=0.7, mu=0.3
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_shortlist_injection_restricts_candidates(self, spark):
        """The greedy phase must select only from the injected
        shortlist — the contract the IVF composition relies on."""
        from mapreducewordoccurences_spark.functions.similarity import (
            brute_force_knn,
            mmr_diversified_topk,
        )

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        probe = emb.where(F.col("vec_id") == 0)
        sl = brute_force_knn(emb, probe, k=12)
        got = mmr_diversified_topk(
            emb, probe, k=8, lam=0.7, mu=0.3, shortlist_df=sl
        ).collect()
        sl_ids = {r["neighbor_id"] for r in sl.collect()}
        assert len(got) == 8
        assert {r["vec_id"] for r in got} <= sl_ids


class TestMmrIvfRow:
    def test_catalog_row_green(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES

        got = QUERIES["mmr_diversified_topk_ivf"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) == 1
        assert got[0]["k"] == 8
        assert bool(got[0]["mmr_ok"])
