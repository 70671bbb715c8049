"""Hand-computed goldens for the round-6 operators: group-aware
split + leakage audit and sequence-packing stats; the substring-level
dedup spans live in test_dedup.py, the k-core tests in test_graph.py.
(Oracle parity for the catalog rows is in test_oracle_parity.py;
these pin the SEMANTICS on inputs small enough to verify by hand.)"""

from __future__ import annotations

from pyspark.sql import functions as F


class TestGroupSplitAndPacking:
    def test_group_split_never_splits_a_source(self, spark):
        from mapreducewordoccurences_spark.functions.sampling import hash_split

        df = spark.createDataFrame(
            [(i, f"src{i % 7}") for i in range(200)], "doc_id bigint, source string"
        )
        out = hash_split(df, id_col="source", salt="grp")
        per_src = out.groupBy("source").agg(
            F.count_distinct("split").alias("k")
        )
        assert per_src.where(F.col("k") > 1).count() == 0

    def test_packing_hand_example(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES
        import tempfile, os, shutil

        d = tempfile.mkdtemp(prefix="packing_")
        try:
            # source s: token counts 300, 300, 100 in doc_id order →
            # total 700, chunks 2, waste 324, doc 2 straddles the 512
            # boundary (spans tokens [300, 600))
            rows = [
                (1, " ".join(["tok"] * 300), "s"),
                (2, " ".join(["tok"] * 300), "s"),
                (3, " ".join(["tok"] * 100), "s"),
            ]
            spark.createDataFrame(
                rows, "doc_id bigint, text string, source string"
            ).write.parquet(os.path.join(d, "documents.parquet"))
            out = QUERIES["sequence_packing_stats"](spark, d).collect()
            assert len(out) == 1
            r = out[0]
            assert (
                r["n_docs"],
                r["total_tokens"],
                r["n_chunks"],
                r["waste_tokens"],
                r["n_straddling_docs"],
            ) == (3, 700, 2, 324, 1)
            assert abs(r["fill_rate"] - 700 / 1024) < 1e-12
        finally:
            shutil.rmtree(d, ignore_errors=True)
