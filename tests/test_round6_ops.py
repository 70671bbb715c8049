"""Hand-computed goldens for the round-6 operators: substring-level
dedup spans, group-aware split + leakage audit, and sequence-packing
stats; the k-core tests live in test_graph.py. (Oracle parity for the
catalog rows is in test_oracle_parity.py; these pin the SEMANTICS on
inputs small enough to verify by hand.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.substrings import (
    duplicate_window_spans,
    window_hashes,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestDuplicateWindowSpans:
    def test_shared_run_produces_one_merged_span(self, spark):
        # docs 1 and 2 share tokens a1..a12 (12 tokens): with L=10
        # that's 3 duplicated windows at positions 0,1,2 in doc 1
        # (offset 1 in doc 2) merging into ONE span covering 12 tokens
        shared = " ".join(f"a{i}" for i in range(12))
        docs = _docs(
            spark,
            [
                (1, shared + " tailone tailtwo"),
                (2, "leadword " + shared),
                (3, "completely different words " * 5),
            ],
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_windows"], r["dup_tokens"])
            for r in duplicate_window_spans(docs, window=10).collect()
        }
        assert got == {1: (1, 3, 12), 2: (1, 3, 12)}

    def test_two_separate_spans_do_not_merge(self, spark):
        run1 = " ".join(f"x{i}" for i in range(10))
        run2 = " ".join(f"y{i}" for i in range(10))
        gap = " ".join(f"gapa{i}" for i in range(5))
        gap2 = " ".join(f"gapb{i}" for i in range(5))
        docs = _docs(
            spark,
            [(1, f"{run1} {gap} {run2}"), (2, f"{run2} {gap2} {run1}")],
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["dup_tokens"])
            for r in duplicate_window_spans(docs, window=10).collect()
        }
        assert got == {1: (2, 20), 2: (2, 20)}

    def test_within_doc_repeat_is_not_cross_doc(self, spark):
        run = " ".join(f"r{i}" for i in range(10))
        docs = _docs(
            spark,
            [(1, f"{run} middleword {run}"), (2, "unrelated text entirely")],
        )
        assert duplicate_window_spans(docs, window=10).count() == 0

    def test_window_positions_are_dense(self, spark):
        docs = _docs(spark, [(1, " ".join(f"w{i}" for i in range(13)))])
        rows = window_hashes(docs, window=10).collect()
        assert sorted(r["pos"] for r in rows) == [0, 1, 2, 3]


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
