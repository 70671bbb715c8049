"""Graph operators (operators/graph.py): k-core peel, exact and
approximate triangle counts, and fixed-point PageRank, pinned on
graphs small enough to verify by hand. (Oracle parity for the catalog
rows is in test_oracle_parity.py.)"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from mapreducewordoccurences_spark.operators.graph import kcore_membership

from tests.spark_jobs import count_jobs


class TestKcoreMembership:
    def test_triangle_survives_chain_peels(self, spark):
        # chain 1-2-3 (peels at k=2) + triangle 4-5-6 (2-core)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5), (5, 6), (4, 6)], "doc_a bigint, doc_b bigint"
        )
        got = {
            r["node"]: r["core_degree"]
            for r in kcore_membership(edges, k=2, iterations=4).collect()
        }
        assert got == {4: 2, 5: 2, 6: 2}

    def test_pendant_peel_cascades(self, spark):
        # path 1-2-3-4: first round peels 1 and 4, second peels 2,3
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint"
        )
        assert kcore_membership(edges, k=2, iterations=4).count() == 0
        # ...but a single round has not converged yet: 2,3 still alive
        assert kcore_membership(edges, k=2, iterations=1).count() == 2

    def test_k1_keeps_every_connected_node(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (3, 3)], "doc_a bigint, doc_b bigint"
        )  # self-loop dropped
        got = {
            r["node"]: r["core_degree"]
            for r in kcore_membership(edges, k=1, iterations=3).collect()
        }
        assert got == {1: 1, 2: 1}


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


def test_triangle_count_known_graphs(spark):
    from mapreducewordoccurences_spark.operators.graph import triangle_count

    def count(edges):
        df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        return triangle_count(df).collect()[0]

    # K3: one triangle
    r = count([(1, 2), (2, 3), (1, 3)])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)
    # K4: 4 triangles (every 3-subset)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert count(k4)["n_triangles"] == 4
    # star (hub + 5 leaves): plenty of wedges, zero triangles
    star = [(0, i) for i in range(1, 6)]
    r = count(star)
    assert r["n_triangles"] == 0 and r["n_edges"] == 5
    # duplicate + reversed edges must not inflate anything
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 3)]
    r = count(messy)
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)
    # two disjoint triangles sharing no nodes
    two = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    assert count(two)["n_triangles"] == 2


class TestTriangleEdgeCases:
    def test_wedge_free_graph_estimates_zero(self, spark):
        """ADVICE r7: a graph whose every vertex has degree <= 1 has
        no wedges; the estimator must return 0 (not NULL) for
        est_triangles / n_wedges / n_sampled."""
        from mapreducewordoccurences_spark.operators.graph import (
            triangle_count_approx,
        )

        edges = spark.createDataFrame(
            [(1, 2), (3, 4), (5, 6)], ["doc_a", "doc_b"]
        )
        row = triangle_count_approx(edges, n_samples=10).first()
        assert row["n_nodes"] == 6
        assert row["n_edges"] == 3
        assert row["n_wedges"] == 0
        assert row["n_sampled"] == 0
        assert row["est_triangles"] == 0.0


def test_pagerank_fixed_point_semantics(spark):
    """Mass conservation (± integer truncation) and ordering on a
    hand-analyzable graph: c receives two in-edges, a feeds from c's
    full mass, b gets teleport only."""
    from mapreducewordoccurences_spark.operators.graph import (
        SCALE,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame(
        [("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, w int",
    )
    out = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(
            edges, weight_col="w", iterations=20
        ).collect()
    }
    assert abs(sum(out.values()) - SCALE) < 1000
    assert out["c"] > out["a"] > out["b"]
    # b never receives an edge: exactly the teleport constant
    assert out["b"] == (SCALE * 15) // (100 * 3)


def test_pagerank_weight_sensitivity(spark):
    """Weighted edges split mass proportionally: doubling one
    out-edge's weight shifts rank toward its destination."""
    from mapreducewordoccurences_spark.operators.graph import pagerank_fixed_point

    def ranks(w_ab, w_ac):
        edges = spark.createDataFrame(
            [("a", "b", w_ab), ("a", "c", w_ac), ("b", "a", 1), ("c", "a", 1)],
            "src string, dst string, w int",
        )
        return {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed_point(
                edges, weight_col="w", iterations=15
            ).collect()
        }

    even = ranks(1, 1)
    skewed = ranks(3, 1)
    assert abs(even["b"] - even["c"]) <= 1          # symmetric split
    assert skewed["b"] > skewed["c"]                # 3:1 split favors b


# ---------------------------------------------------------------------------
# PageRank's two tiers: the in-row tier (below IN_ROW_EDGE_LIMIT pairs)
# must be bit-identical to the distributed one, cost a constant number
# of jobs, and never run above the bound.
# ---------------------------------------------------------------------------


def _pagerank(edges, limit: int | None = None, **kw):
    """pagerank_fixed_point under an optional IN_ROW_EDGE_LIMIT
    (0 forces the distributed tier)."""
    from unittest import mock

    from mapreducewordoccurences_spark.operators import graph

    if limit is None:
        return graph.pagerank_fixed_point(edges, weight_col="w", **kw)
    with mock.patch.object(graph, "IN_ROW_EDGE_LIMIT", limit):
        return graph.pagerank_fixed_point(edges, weight_col="w", **kw)


def _ranks(df) -> list[tuple]:
    return sorted(
        ((r["node"], r["rank_fp"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )


_NODE = st.sampled_from([0, 1, 2, 3, 4, 5, None])


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(_NODE, _NODE, st.integers(1, 5)), min_size=1, max_size=12
    ),
    iterations=st.integers(0, 6),
)
@example(rows=[(0, 1, 3)], iterations=4)  # a single edge
@example(rows=[(0, 0, 1), (0, 1, 1)], iterations=3)  # self-loop
@example(rows=[(0, 1, 1), (0, 1, 2), (1, 0, 1)], iterations=3)  # dup pair
@example(rows=[(0, 1, 1), (0, 2, 1), (2, 0, 1)], iterations=5)  # 1 is a sink
def test_pagerank_tiers_bit_identical(spark, rows, iterations):
    """Random small directed weighted graphs: self-loops, duplicate
    (u, v) pairs (weights sum), sinks whose mass leaks, null nodes.
    The in-row tier returns exactly the distributed tier's ranks."""
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    in_row = _pagerank(edges, iterations=iterations)
    distributed = _pagerank(edges, limit=0, iterations=iterations)
    assert in_row.dtypes == distributed.dtypes
    assert _ranks(in_row) == _ranks(distributed)


class TestPagerankTierGate:
    EDGES = [("a", "b", 1), ("b", "c", 2), ("c", "a", 1), ("c", "b", 1)]

    def _edges(self, spark):
        return spark.createDataFrame(self.EDGES, "src string, dst string, w long")

    def test_in_row_tier_jobs_do_not_grow_with_rounds(self, spark):
        """The in-row tier costs a fixed number of jobs however many
        rounds run: the edge truncation's exchange and checkpoint, the
        pair count's two, then one for the action. A per-round job
        must not come back."""
        edges = self._edges(spark)
        for iterations in (1, 10, 30):
            n = count_jobs(
                spark, lambda: _pagerank(edges, iterations=iterations).collect()
            )
            assert n == 5, (iterations, n)

    def test_at_the_bound_the_distributed_tier_runs(self, spark):
        """A graph with IN_ROW_EDGE_LIMIT pairs is over the bound: it
        takes the per-round distributed loop, whose jobs grow with the
        round count; one pair fewer than the limit stays in-row."""
        edges = self._edges(spark)
        pairs = len(self.EDGES)

        def jobs(limit, iterations):
            return count_jobs(
                spark,
                lambda: _pagerank(edges, limit, iterations=iterations).collect(),
            )

        assert jobs(pairs + 1, 2) == jobs(pairs + 1, 6) == 5
        assert jobs(pairs, 6) >= jobs(pairs, 2) + 4

    def test_empty_edge_set_same_empty_frame_in_both_tiers(self, spark):
        edges = spark.createDataFrame([], "src string, dst string, w long")
        in_row = _pagerank(edges)
        distributed = _pagerank(edges, limit=0)
        assert in_row.columns == ["node", "rank_fp"]
        assert in_row.schema == distributed.schema
        assert in_row.count() == distributed.count() == 0
