"""Semantic tests for the round-2 training-pipeline operators:
decontamination, repetition filters, incremental dedup, source mixing.

Oracle parity (test_oracle_parity.py) already locks cross-engine
value equality for the catalog forms; these tests pin the operator
SEMANTICS on constructed inputs where the right answer is known by
hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.decontam import ngram_overlap
from mapreducewordoccurences_spark.dedup.exact import incremental_new_unique
from mapreducewordoccurences_spark.functions.sampling import source_mix_weights
from mapreducewordoccurences_spark.functions.text import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestNgramOverlap:
    def test_planted_contamination_found(self, spark):
        bench = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
        train = _docs(
            spark,
            [
                # contains "quick brown fox" + "brown fox jumps" → 2 shared
                (1, "a quick brown fox jumps today"),
                (2, "entirely different words only here"),
            ],
        )
        got = {r["doc_id"]: r for r in ngram_overlap(train, bench, n=3).collect()}
        assert set(got) == {1}
        assert got[1]["n_shared"] == 2
        # "a quick brown", "quick brown fox", "brown fox jumps", "fox jumps today"
        assert got[1]["n_shingles"] == 4
        assert got[1]["overlap_ratio"] == pytest.approx(0.5)

    def test_short_docs_have_no_shingles(self, spark):
        bench = _docs(spark, [(100, "alpha beta gamma")])
        train = _docs(spark, [(1, "alpha beta")])  # < n tokens
        assert ngram_overlap(train, bench, n=3).count() == 0


class TestRepetitionStats:
    def test_degenerate_doc_flagged_clean_doc_not(self, spark):
        df = _docs(
            spark,
            [
                (1, "spam spam spam spam spam spam"),
                (2, "one two three four five six seven eight nine ten"),
            ],
        )
        got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert got[1]["top_token_frac"] == pytest.approx(1.0)
        assert got[1]["dup_2gram_frac"] == pytest.approx(4 / 5)
        assert got[1]["dup_3gram_frac"] == pytest.approx(3 / 4)
        assert got[1]["flagged"] == 1
        assert got[2]["top_token_frac"] == pytest.approx(0.1)
        assert got[2]["dup_2gram_frac"] == 0.0
        assert got[2]["flagged"] == 0

    def test_single_token_doc(self, spark):
        got = repetition_stats(_docs(spark, [(1, "word")])).collect()[0]
        assert got["top_token_frac"] == pytest.approx(1.0)
        # no 2-gram slots → defined as 0, not NaN/null
        assert got["dup_2gram_frac"] == 0.0
        assert got["dup_3gram_frac"] == 0.0


class TestIncrementalDedup:
    def test_batch_and_corpus_rules(self, spark):
        corpus = _docs(spark, [(1, "seen before"), (2, "old news")])
        new = _docs(
            spark,
            [
                (10, "seen before"),          # dup of corpus → dropped
                (11, "fresh content"),        # unique → kept
                (12, "fresh content"),        # in-batch dup of 11 → dropped
                (13, "Seen   BEFORE "),       # normalized dup of corpus → dropped
            ],
        )
        kept = incremental_new_unique(new, corpus)
        assert [r["doc_id"] for r in kept.collect()] == [11]

    def test_empty_corpus_keeps_batch_uniques(self, spark):
        corpus = _docs(spark, []).where(F.lit(False))
        new = _docs(spark, [(1, "a b"), (2, "a b"), (3, "c d")])
        kept = incremental_new_unique(new, corpus)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


class TestChunkDocuments:
    def test_non_overlapping_exact_cover(self, spark):
        from mapreducewordoccurences_spark.functions.text import chunk_documents

        df = _docs(spark, [(1, "t0 t1 t2 t3 t4 t5 t6")])  # 7 tokens
        got = chunk_documents(df, chunk_tokens=3, stride=3).collect()
        rows = sorted((r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"]) for r in got)
        assert rows == [
            (0, 3, "t0 t1 t2"),
            (1, 3, "t3 t4 t5"),
            (2, 1, "t6"),  # ragged tail kept
        ]

    def test_sliding_overlap(self, spark):
        from mapreducewordoccurences_spark.functions.text import chunk_documents

        df = _docs(spark, [(1, "a b c d e")])
        got = sorted(
            (r["chunk_id"], r["chunk_text"])
            for r in chunk_documents(df, chunk_tokens=4, stride=2).collect()
        )
        assert got == [(0, "a b c d"), (1, "c d e"), (2, "e")]

    def test_empty_doc_yields_no_chunks(self, spark):
        from mapreducewordoccurences_spark.functions.text import chunk_documents

        df = _docs(spark, [(1, "...!!!")])  # tokenizes to nothing
        assert chunk_documents(df).count() == 0

    def test_invalid_params_raise(self, spark):
        from mapreducewordoccurences_spark.functions.text import chunk_documents

        df = _docs(spark, [(1, "a b")])
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=0)
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=-1)


class TestSourceMixWeights:
    def test_uniform_target_weights(self, spark):
        df = _docs(spark, [(1, "a b c d e f"), (2, "a b"), (3, "a")]).withColumn(
            "source",
            F.when(F.col("doc_id") == 1, "big").otherwise("small"),
        )
        got = {r["source"]: r for r in source_mix_weights(df).collect()}
        # big: 6 tokens, small: 3 tokens, total 9, target 4.5 each
        assert got["big"]["n_docs"] == 1 and got["big"]["n_tokens"] == 6
        assert got["small"]["n_docs"] == 2 and got["small"]["n_tokens"] == 3
        assert got["big"]["token_share"] == pytest.approx(6 / 9)
        assert got["big"]["mix_weight"] == pytest.approx(4.5 / 6)
        assert got["small"]["mix_weight"] == pytest.approx(4.5 / 3)
        # weighted token mass is equal across sources after reweighting
        assert got["big"]["mix_weight"] * 6 == pytest.approx(
            got["small"]["mix_weight"] * 3
        )


class TestChunkDocumentsProperty:
    """Differential invariants for ANY text: chunks with stride ==
    chunk_tokens reconstruct the token stream exactly; sliding chunks
    cover every token; chunk ids are dense from 0."""

    def test_chunks_reconstruct_tokens(self, spark):
        import re

        from hypothesis import given, settings, strategies as st

        from mapreducewordoccurences_spark.functions.text import chunk_documents

        text_strategy = st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("Lu", "Ll", "Nd", "Po", "Zs")
            ),
            max_size=120,
        )

        @settings(max_examples=15, deadline=None)
        @given(st.lists(text_strategy, min_size=1, max_size=8))
        def run(texts):
            df = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            got = chunk_documents(df, chunk_tokens=4, stride=4).collect()
            by_doc = {}
            for r in got:
                by_doc.setdefault(r["doc_id"], []).append(
                    (r["chunk_id"], r["chunk_text"])
                )
            for i, t in enumerate(texts):
                toks = re.findall(r"[a-z0-9]+", t.lower())
                chunks = sorted(by_doc.get(i, []))
                # dense ids from 0
                assert [c for c, _ in chunks] == list(range(len(chunks)))
                rebuilt = " ".join(txt for _, txt in chunks).split()
                assert rebuilt == toks, (i, t)

        run()

    def test_sliding_covers_all_tokens(self, spark):
        from mapreducewordoccurences_spark.functions.text import chunk_documents

        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(23)))], "doc_id long, text string"
        )
        got = chunk_documents(df, chunk_tokens=8, stride=3).collect()
        covered = set()
        for r in got:
            covered.update(r["chunk_text"].split())
        assert covered == {f"t{i}" for i in range(23)}
