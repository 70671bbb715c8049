"""Round-9 operators: MMR scale path (IVF shortlist injection),
cache-scoped verification, and the determinism hardening from the
r8 advisories (explicit mu, floor-grain compare, zero-norm guard)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import load_table

from tests.conftest import SF_DIR


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


class TestScopedVerifyCache:
    def _n_cached(self, spark) -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def test_cache_does_not_grow_across_scoped_calls(self, spark):
        """Repeated exact_verify_scoped blocks must return the
        session's persistent-RDD count to its baseline — the
        unreachable-persist footgun the registry/scope API closes."""
        from mapreducewordoccurences_spark.dedup.verify import (
            exact_verify_scoped,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        cand = docs.select(F.col("doc_id").alias("doc_a")).crossJoin(
            docs.select(F.col("doc_id").alias("doc_b")).limit(1)
        ).limit(20)
        base = self._n_cached(spark)
        for _ in range(3):
            with exact_verify_scoped(docs, cand, threshold=0.0) as verified:
                assert verified.count() >= 0
                # the cached RDD registers once materialized
                n_in_scope = self._n_cached(spark)
            assert self._n_cached(spark) == base
        # the scope did actually cache: the candidate set plus (r13)
        # the gram table, both released on exit
        assert n_in_scope == base + 2

    def test_registry_receives_handle(self, spark):
        from mapreducewordoccurences_spark.dedup.verify import (
            exact_verify_pairs,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        cand = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
        reg: list = []
        out = exact_verify_pairs(
            docs, cand, threshold=0.0, prune_to_candidates=True,
            persist_registry=reg,
        )
        assert out.count() >= 0
        # candidate set + (r13) the gram table
        assert len(reg) == 2
        for h in reg:
            h.unpersist()

    def test_unpruned_call_takes_no_persist(self, spark):
        """Unpruned, the gram table is corpus-sized: the verifier must
        not persist it (nor anything else)."""
        from mapreducewordoccurences_spark.dedup.verify import (
            exact_verify_pairs,
        )

        docs = load_table(spark, SF_DIR, "documents")
        cand = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
        reg: list = []
        out = exact_verify_pairs(
            docs, cand, threshold=0.0, prune_to_candidates=False,
            persist_registry=reg,
        )
        assert out.count() >= 0
        assert reg == []

    def test_caller_persisted_cand_not_registered(self, spark):
        """A caller-persisted cand keeps its lifecycle: no new persist
        is taken, so nothing lands in the registry."""
        from mapreducewordoccurences_spark.dedup.verify import (
            exact_verify_pairs,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        cand = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"]).persist()
        try:
            cand.count()
            reg: list = []
            out = exact_verify_pairs(
                docs, cand, threshold=0.0, prune_to_candidates=True,
                persist_registry=reg,
            )
            assert out.count() >= 0
            # no candidate persist is taken; only (r13) the gram table
            # lands in the registry
            assert len(reg) == 1
            reg[0].unpersist()
        finally:
            cand.unpersist()


class TestMmrIvfRow:
    def test_catalog_row_green(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES

        got = QUERIES["mmr_diversified_topk_ivf"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) == 1
        assert got[0]["k"] == 8
        assert bool(got[0]["mmr_ok"])


class TestEditDistanceTier:
    def test_known_distances_and_ratio(self, spark):
        docs = spark.createDataFrame(
            [(1, "kitten"), (2, "sitting"), (3, "kitten")],
            ["doc_id", "text"],
        )
        cand = spark.createDataFrame(
            [(1, 2), (1, 3)], ["doc_a", "doc_b"]
        )
        from mapreducewordoccurences_spark.dedup.editdist import (
            edit_distance_pairs,
        )

        got = {
            (r["doc_a"], r["doc_b"]): (r["edit_dist"], r["edit_ratio"])
            for r in edit_distance_pairs(docs, cand).collect()
        }
        assert got[(1, 2)] == (3, 3 / 7)  # textbook kitten→sitting
        assert got[(1, 3)] == (0, 0.0)

    def test_prefix_cap_and_max_ratio(self, spark):
        """Texts identical in the first prefix_len chars score 0 (the
        documented cap semantics); max_ratio drops pairs above it."""
        base = "a" * 50
        docs = spark.createDataFrame(
            [(1, base + "xxxx"), (2, base + "yyyy"), (3, "zz" * 27)],
            ["doc_id", "text"],
        )
        cand = spark.createDataFrame(
            [(1, 2), (1, 3)], ["doc_a", "doc_b"]
        )
        from mapreducewordoccurences_spark.dedup.editdist import (
            edit_distance_pairs,
        )

        capped = edit_distance_pairs(docs, cand, prefix_len=50)
        got = {
            (r["doc_a"], r["doc_b"]): r["edit_dist"] for r in capped.collect()
        }
        assert got[(1, 2)] == 0  # divergence lives past the cap
        assert got[(1, 3)] == 50
        kept = edit_distance_pairs(
            docs, cand, prefix_len=50, max_ratio=0.1
        ).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in kept} == {(1, 2)}

    def test_case_normalization_is_symmetric(self, spark):
        docs = spark.createDataFrame(
            [(1, "Hello World"), (2, "hello world")], ["doc_id", "text"]
        )
        cand = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
        from mapreducewordoccurences_spark.dedup.editdist import (
            edit_distance_pairs,
        )

        row = edit_distance_pairs(docs, cand).collect()[0]
        assert row["edit_dist"] == 0 and row["edit_ratio"] == 0.0


class TestCrossSourceMatrix:
    def test_canonical_unordered_source_pairs(self, spark):
        """Planted near-dups across sources land in ONE
        upper-triangular cell regardless of id order."""
        from pyspark.sql import functions as F

        from mapreducewordoccurences_spark.dedup.verify import exact_verify_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, base, "srcB"),
                (2, base, "srcA"),          # dup of 1, other source
                (3, base + " iota", "srcA"),  # near-dup of 1 and 2
                (4, "totally different words here now", "srcC"),
            ],
            ["doc_id", "text", "source"],
        )
        cand = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (1, 4)], ["doc_a", "doc_b"]
        )
        pairs = exact_verify_pairs(docs, cand, threshold=0.7).select(
            "doc_a", "doc_b"
        )
        src = docs.select("doc_id", "source")
        got = {
            (r["source_x"], r["source_y"]): r["n_pairs"]
            for r in pairs.join(
                src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")),
                "doc_a",
            )
            .join(
                src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")),
                "doc_b",
            )
            .groupBy(
                F.least("_sa", "_sb").alias("source_x"),
                F.greatest("_sa", "_sb").alias("source_y"),
            )
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .collect()
        }
        # verified pairs >= 0.7: (1,2) exact dup and (1,3) near-dup
        # both span srcB/srcA -> cell (srcA, srcB) = 2; (2,3) is
        # within srcA -> (srcA, srcA) = 1; (1,4) fails the cut
        assert got == {("srcA", "srcB"): 2, ("srcA", "srcA"): 1}
