"""Round-8 operators: distributed global rank / ntile (the rewrite
that retired the catalog's last single-partition window over a
scaling table, VERDICT r7 ask #3)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.operators.windows import (
    global_ntile,
    global_rank,
)
from mapreducewordoccurences_spark.sources.readers import load_table


@contextmanager
def _range_partitions(spark, n: int):
    """The global operators range-partition into
    ``spark.sql.shuffle.partitions`` parts; run a block at ``n``."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


class TestGlobalRank:
    def test_matches_single_partition_row_number(self, spark):
        """Differential: the distributed rank must equal row_number()
        over the naive unpartitioned window on the same total order."""
        cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
            "c_custkey", "c_acctbal"
        )
        order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
        with _range_partitions(spark, 7):
            got = global_rank(cust, order, rank_col="r")
        truth = cust.withColumn(
            "r_true", F.row_number().over(Window.orderBy(*order))
        )
        joined = got.join(truth, ["c_custkey", "c_acctbal"])
        assert joined.where(F.col("r") != F.col("r_true")).count() == 0
        n = cust.count()
        assert got.agg(F.min("r"), F.max("r")).first() == (1, n)

    def test_rank_is_dense_and_unique(self, spark):
        cust = load_table(spark, "/root/testdata/sf0.001", "customer")
        with _range_partitions(spark, 5):
            got = global_rank(cust, [F.col("c_custkey")], rank_col="r")
        n = cust.count()
        assert got.select("r").distinct().count() == n


class TestGlobalNtile:
    def test_matches_sql_ntile(self, spark):
        """Differential vs F.ntile over the naive global window, and
        vs the SQL-standard population rule (first N%n tiles take the
        remainder)."""
        cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
            "c_custkey", "c_acctbal"
        )
        order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
        for n_tiles in (3, 4, 7):
            with _range_partitions(spark, 6):
                got = global_ntile(cust, order, n_tiles, tile_col="q")
            truth = cust.withColumn(
                "q_true", F.ntile(n_tiles).over(Window.orderBy(*order))
            )
            joined = got.join(truth, ["c_custkey", "c_acctbal"])
            assert (
                joined.where(F.col("q") != F.col("q_true")).count() == 0
            ), f"ntile({n_tiles}) mismatch"

    def test_fewer_rows_than_tiles(self, spark):
        """N < n: SQL ntile gives tile == rank for the first N tiles."""
        df = (
            load_table(spark, "/root/testdata/sf0.001", "region")
            .select("r_regionkey")
        )  # 5 rows
        with _range_partitions(spark, 3):
            got = global_ntile(df, [F.col("r_regionkey")], 8, tile_col="q")
        rows = {(r["r_regionkey"], r["q"]) for r in got.collect()}
        assert rows == {(i, i + 1) for i in range(5)}

    def test_catalog_ntile_query_plan_is_distributed(self, spark):
        """The rewritten ntile_customer_value_quartiles must not plan
        an ntile window at all, and its only unpartitioned Window must
        sit above the partition-counts aggregate (#partitions rows,
        config-bounded), never above the customer scan."""
        import re

        from tests.plan_text import formatted_plan
        from mapreducewordoccurences_spark.queries import QUERIES

        df = QUERIES["ntile_customer_value_quartiles"](
            spark, "/root/testdata/sf0.001"
        )
        plan = formatted_plan(df)
        assert "ntile(" not in plan
        # Window node Arguments carry [functions], [partition cols],
        # [order] when partitioned but only [functions], [order] when
        # global — so "], [" appears twice vs once. Every global window
        # in this plan must consume the partition-counts aggregate
        # (its input carries __gr_n), never the customer scan.
        blocks = re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE)
        windows = [b for b in blocks if b.startswith("Window")]
        assert windows, "expected Window nodes in plan"
        for b in windows:
            args = next(
                ln for ln in b.splitlines() if ln.startswith("Arguments:")
            )
            if args.count("], [") == 1:  # unpartitioned window
                inp = next(
                    ln for ln in b.splitlines() if ln.startswith("Input")
                )
                assert "__gr_n" in inp, f"global window over scan:\n{b}"


class TestMmr:
    def test_rank1_is_most_relevant_and_subset_of_shortlist(self, spark):
        from mapreducewordoccurences_spark.functions.similarity import (
            brute_force_knn,
            mmr_diversified_topk,
        )

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        probe = emb.where(F.col("vec_id") == 0)
        got = mmr_diversified_topk(emb, probe, k=8, shortlist=40).collect()
        assert len(got) == 8
        sl = brute_force_knn(emb, probe, k=40).collect()
        sl_ids = {r["neighbor_id"] for r in sl}
        top1 = min(sl, key=lambda r: r["rnk"])["neighbor_id"]
        by_rank = {r["rnk"]: r["vec_id"] for r in got}
        assert by_rank[1] == top1  # first pick is pure relevance
        assert set(by_rank.values()) <= sl_ids
        assert len(set(by_rank.values())) == 8  # no repeats

    def test_penalizes_duplicates(self, spark):
        """Two near-identical top-relevance vectors: pure top-2 takes
        both; MMR with lambda=0.5 must separate them."""
        q = [1.0, 0.0, 0.0, 0.0]
        rows = [
            (0, q),
            (1, [0.99, 0.14, 0.0, 0.0]),     # near-dup of 2
            (2, [0.99, 0.141, 0.001, 0.0]),  # near-dup of 1
            (3, [0.6, -0.8, 0.0, 0.0]),      # diverse, lower relevance
            (4, [0.5, 0.0, 0.86, 0.0]),      # diverse
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        probe = emb.where(F.col("vec_id") == 0)
        got = {
            r["rnk"]: r["vec_id"]
            for r in mmr_diversified_topk(
                emb, probe, k=3, shortlist=4, lam=0.5
            ).collect()
        }
        assert got[1] == 1  # highest relevance (id tie-break)
        assert got[2] != 2  # its near-dup is deferred, a diverse pick wins


class TestMatryoshka:
    def test_full_prefix_overlap_bounds(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES

        got = QUERIES["matryoshka_prefix_recall"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) == 10
        for r in got:
            assert 0 <= r["n_overlap"] <= 5

    def test_identical_prefix_means_full_overlap(self, spark):
        """If the ranking signal lives entirely in the first 16 dims,
        truncation must preserve the top-k exactly — sanity-check the
        slicing plumbing with such a corpus."""
        import random

        rnd = random.Random(7)
        rows = [
            (
                i,
                [rnd.uniform(-1, 1) for _ in range(16)] + [0.0] * 48,
            )
            for i in range(30)
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        from mapreducewordoccurences_spark.functions.similarity import (
            brute_force_knn,
        )

        probes = emb.where(F.col("vec_id") < 3)
        full = brute_force_knn(emb, probes, k=5).collect()
        pref_emb = emb.select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding")
        )
        pref = brute_force_knn(
            pref_emb, probes.select(
                "vec_id", F.slice("embedding", 1, 16).alias("embedding")
            ), k=5
        ).collect()
        f = {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in full}
        p = {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in pref}
        assert f == p


class TestCapPerKey:
    def test_cap_binds_and_is_repartition_stable(self, spark):
        from mapreducewordoccurences_spark.functions.sampling import (
            cap_per_key,
        )

        docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
            "doc_id", "source"
        )
        kept = cap_per_key(docs, "source", 20)
        per = {r["source"]: r["n"] for r in
               kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert all(v <= 20 for v in per.values())
        assert max(per.values()) == 20  # 25 docs/source at sf0.01: binds
        # kept SET (not just size) must not depend on physical layout
        a = {tuple(r) for r in kept.collect()}
        b = {tuple(r) for r in cap_per_key(docs.repartition(13), "source", 20).collect()}
        assert a == b

    def test_plan_uses_window_group_limit(self, spark):
        from mapreducewordoccurences_spark.functions.sampling import (
            cap_per_key,
        )
        from tests.plan_text import formatted_plan

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        plan = formatted_plan(cap_per_key(docs, "source", 5))
        assert "WindowGroupLimit" in plan  # map-side cap before shuffle


class TestVocabCoverage:
    def test_monotone_and_bounded(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES

        rows = {
            r["top_n"]: r
            for r in QUERIES["vocab_coverage_topn"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert set(rows) == {10, 100, 1000}
        cov = [rows[n]["coverage"] for n in (10, 100, 1000)]
        assert cov == sorted(cov)  # coverage grows with N
        assert all(0.0 < c <= 1.0 for c in cov)
        for n, r in rows.items():
            if r["vocab_size"] <= n:
                assert r["covered_tokens"] == r["total_tokens"]

