"""Round-7 operators: k-core guards, approximate triangle counts,
portable SimHash, DSIR importance scores and repetition stats (the
IVF∘PQ and codebook-determinism tests live in test_ann.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import load_table


class TestKcoreGuards:
    def test_iterations_zero_raises(self, spark):
        import pytest as _pytest

        from mapreducewordoccurences_spark.operators.graph import (
            kcore_membership,
        )

        edges = spark.createDataFrame(
            [(1, 2)], "doc_a long, doc_b long"
        )
        with _pytest.raises(ValueError):
            kcore_membership(edges, k=2, iterations=0)

    def test_early_stop_returns_converged_core(self, spark):
        """A long chain peels one pendant pair per round — deep peel
        depth. With a huge iterations budget the convergence check
        must stop at the fixed point and return the true (empty)
        2-core without paying the remaining no-op rounds."""
        from mapreducewordoccurences_spark.operators.graph import (
            kcore_membership,
        )

        chain = [(i, i + 1) for i in range(12)]
        edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
        out = kcore_membership(edges, k=2, iterations=50)
        assert out.count() == 0
        # and a triangle + pendant tail converges to exactly the triangle
        tri = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
        edges2 = spark.createDataFrame(tri, "doc_a long, doc_b long")
        got = {
            (r["node"], r["core_degree"])
            for r in kcore_membership(edges2, k=2, iterations=50).collect()
        }
        assert got == {(0, 2), (1, 2), (2, 2)}


class TestTriangleApprox:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    def test_complete_graph_exact_recovery(self, spark):
        """K6 has C(6,3)=20 triangles; every wedge closes, so the
        estimator is exact regardless of which wedges get sampled."""
        from mapreducewordoccurences_spark.operators.graph import (
            triangle_count_approx,
        )

        rows = [(a, b) for a in range(6) for b in range(a + 1, 6)]
        out = triangle_count_approx(self._edges(spark, rows), n_samples=500).collect()[0]
        assert out["n_nodes"] == 6 and out["n_edges"] == 15
        assert out["n_wedges"] == 6 * 10  # 6 centers x C(5,2)
        assert abs(out["est_triangles"] - 20.0) < 1e-9

    def test_triangle_free_graph_estimates_zero(self, spark):
        """A star has wedges but no closures: the estimate must be
        exactly 0 (no sampled wedge can close)."""
        from mapreducewordoccurences_spark.operators.graph import (
            triangle_count_approx,
        )

        rows = [(0, b) for b in range(1, 8)]
        out = triangle_count_approx(self._edges(spark, rows), n_samples=200).collect()[0]
        assert out["n_wedges"] == 21  # C(7,2) at the hub only
        assert out["est_triangles"] == 0.0

    def test_deterministic_across_runs_and_partitioning(self, spark):
        """xxhash64-seeded picks + row_number index: same estimate on
        reruns and under a different input partitioning."""
        from mapreducewordoccurences_spark.operators.graph import (
            triangle_count_approx,
        )

        rows = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a + b) % 3]
        df = self._edges(spark, rows)
        r1 = triangle_count_approx(df, n_samples=100).collect()[0]
        r2 = triangle_count_approx(df.repartition(7), n_samples=100).collect()[0]
        assert r1["est_triangles"] == r2["est_triangles"]
        assert r1["n_sampled"] == r2["n_sampled"]

    def test_mixed_graph_within_tolerance(self, spark):
        """Two dense K5 cliques joined by a chain: 20 exact triangles;
        stratified sampling at moderate k lands well within 10%."""
        from mapreducewordoccurences_spark.operators.graph import (
            triangle_count,
            triangle_count_approx,
        )

        k5a = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        k5b = [(a + 10, b + 10) for a, b in k5a]
        chain = [(4, 20), (20, 21), (21, 10)]
        df = self._edges(spark, k5a + k5b + chain)
        exact = triangle_count(df).collect()[0]["n_triangles"]
        est = triangle_count_approx(df, n_samples=2000).collect()[0]["est_triangles"]
        assert exact == 20
        assert abs(est - exact) / exact <= 0.10


class TestPortableSimhash:
    def test_token_hash_matches_duckdb_bit_for_bit(self, spark):
        """The portable 60-bit token hash (low 15 hex chars of md5) is
        the contract that lets the DuckDB oracle recompute simhash
        fingerprints exactly; pin the cross-engine equality."""
        import duckdb

        from mapreducewordoccurences_spark.dedup.simhash import _token_hash

        toks = ["hello", "world", "42", "a", "", "Ünïcode", "x" * 100]
        df = spark.createDataFrame([(t,) for t in toks], "t string")
        got = {r["t"]: r["h"] for r in df.select("t", _token_hash(F.col("t"), portable=True).alias("h")).collect()}
        con = duckdb.connect()
        for t in toks:
            want = con.sql(
                "SELECT CAST(('0x' || substring(md5(?), 1, 15)) AS BIGINT)", params=[t]
            ).fetchone()[0]
            assert got[t] == want, t

    def test_portable_fingerprints_deterministic_and_60bit(self, spark):
        from mapreducewordoccurences_spark.dedup.simhash import simhash_fingerprints

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")],
            "doc_id long, text string",
        )
        fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df, portable=True).collect()}
        assert fp[1] == fp[2]  # identical text -> identical fingerprint
        assert all(0 <= v < (1 << 60) for v in fp.values())
        fp2 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df.repartition(5), portable=True).collect()}
        assert fp == fp2


class TestDsir:
    def test_target_source_scores_higher(self, spark):
        """The target-defining docs must come out more target-like on
        average than the rest of the pool — the direction DSIR
        resampling depends on (weights feed exp(), so higher logw =
        preferentially kept)."""
        from mapreducewordoccurences_spark.functions.sampling import (
            dsir_log_weights,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        w = dsir_log_weights(docs, target_cond=F.col("source") == "src0")
        j = w.join(docs.select("doc_id", "source"), "doc_id")
        rows = (
            j.groupBy(F.col("source") == "src0")
            .agg(F.avg("dsir_logw").alias("avg_w"))
            .collect()
        )
        avg = {r[0]: r["avg_w"] for r in rows}
        assert avg[True] > avg[False]

    def test_partitioning_invariant(self, spark):
        """Fixed-point protocol: identical weights regardless of input
        partitioning (the order-free integer sum is the whole point)."""
        from mapreducewordoccurences_spark.functions.sampling import (
            dsir_log_weights,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        cond = F.col("source") == "src0"
        a = {
            r["doc_id"]: (r["dsir_logw"], r["n_grams"])
            for r in dsir_log_weights(docs, cond).collect()
        }
        b = {
            r["doc_id"]: (r["dsir_logw"], r["n_grams"])
            for r in dsir_log_weights(docs.repartition(17), cond).collect()
        }
        assert a == b

    def test_portable_and_fast_hash_agree_directionally(self, spark):
        """portable=True swaps the bucket hash (md5 vs xxhash64); the
        hashed-ngram model changes, the selection signal must not:
        per-doc weights under the two hashes should correlate
        strongly (same counts, different bucketing collisions)."""
        from mapreducewordoccurences_spark.functions.sampling import (
            dsir_log_weights,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        cond = F.col("source") == "src0"
        fast = dsir_log_weights(docs, cond, portable=False).select(
            "doc_id", F.col("dsir_logw").alias("w_fast")
        )
        port = dsir_log_weights(docs, cond, portable=True).select(
            "doc_id", F.col("dsir_logw").alias("w_port")
        )
        corr = fast.join(port, "doc_id").agg(
            F.corr("w_fast", "w_port").alias("c")
        ).collect()[0]["c"]
        assert corr > 0.99


class TestRepetitionStats:
    def test_planted_loop_fails_gate(self, spark):
        """A doc that repeats one phrase must fail both metrics; a
        diverse doc must pass."""
        from mapreducewordoccurences_spark.functions.text import gopher_repetition_stats

        loop = ("buy now click here " * 10).strip()
        clean = "the quick brown fox jumps over a lazy dog near riverbank today"
        df = spark.createDataFrame(
            [(1, loop), (2, clean)], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in gopher_repetition_stats(df).collect()}
        assert not rows[1]["repetition_ok"]
        assert rows[1]["top2_frac"] > 0.4 and rows[1]["dup5_frac"] > 0.9
        assert rows[2]["repetition_ok"]
        assert rows[2]["dup5_frac"] == 0.0

    def test_short_docs_dropped(self, spark):
        from mapreducewordoccurences_spark.functions.text import gopher_repetition_stats

        df = spark.createDataFrame(
            [(1, "only four words here"), (2, "five words are just enough")],
            ["doc_id", "text"],
        )
        out = gopher_repetition_stats(df).collect()
        assert [r["doc_id"] for r in out] == [2]
