"""Round-7 operators: DSIR importance scores and repetition stats
(portable SimHash lives in test_dedup.py, the IVF∘PQ and
codebook-determinism tests in test_ann.py, the k-core guards and
approximate triangle counts in test_graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import load_table


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
