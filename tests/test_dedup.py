"""The dedup family's operator tests, grouped by family: portable
SimHash, the one Hamming ball, cache-scoped exact verification, the
edit-distance tier, the cross-source matrix and substring-level
duplicate spans. Hand-computed goldens and properties on inputs small
enough to check by hand or by brute force; oracle parity for the
catalog rows is in test_oracle_parity.py."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.pairs import hamming_ball_pairs
from mapreducewordoccurences_spark.dedup.substrings import (
    duplicate_window_spans,
    window_hashes,
)
from mapreducewordoccurences_spark.sources.readers import load_table

from tests.conftest import SF_DIR

_MASK64 = (1 << 64) - 1


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


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


class TestScopedVerifyCache:
    def test_unpruned_call_takes_no_persist(self, spark):
        """The gram table is corpus-sized: the verifier must not
        persist it (nor anything else)."""
        from mapreducewordoccurences_spark.dedup.verify import (
            exact_verify_pairs,
        )

        jsc = spark.sparkContext._jsc
        docs = load_table(spark, SF_DIR, "documents")
        cand = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
        base = jsc.getPersistentRDDs().size()
        out = exact_verify_pairs(docs, cand, threshold=0.0)
        assert out.count() >= 0
        assert jsc.getPersistentRDDs().size() == base


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
        documented cap semantics)."""
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


@st.composite
def _fingerprints(draw, bits: int, signed: bool):
    """(id, fingerprint) rows: a few random bases, each with up to two
    copies a few flipped bits away, so every distance tested has pairs
    inside and just outside its ball. Signed 64-bit values wrap into
    the negative BIGINT range, as dHash does."""
    bases = draw(
        st.lists(st.integers(0, (1 << bits) - 1), min_size=2, max_size=5)
    )
    values = []
    for b in bases:
        values.append(b)
        for flips in draw(
            st.lists(
                st.sets(st.integers(0, bits - 1), max_size=10), max_size=2
            )
        ):
            values.append(b ^ sum(1 << i for i in flips))
    if signed:
        values = [v - (1 << 64) if v >= 1 << 63 else v for v in values]
    return list(enumerate(values))


class TestHammingBall:
    @pytest.mark.parametrize(
        "bits,signed", [(60, False), (63, False), (64, True)]
    )
    @settings(
        max_examples=3,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def test_pairs_equal_brute_force(self, spark, bits, signed, data):
        """The pigeonhole join returns exactly the pairs a brute-force
        popcount puts within distance d, at the three widths it runs
        on: 60 (portable SimHash), 63 (SimHash) and 64 (signed dHash)."""
        rows = data.draw(_fingerprints(bits, signed))
        df = spark.createDataFrame(rows, "media_id bigint, h bigint")
        for d in (0, 3, 8):
            want = {}
            for ia, va in rows:
                for ib, vb in rows:
                    dist = bin((va ^ vb) & _MASK64).count("1")
                    if ia < ib and dist <= d:
                        want[(ia, ib)] = dist
            got = {
                (r["doc_a"], r["doc_b"]): r["hamming"]
                for r in hamming_ball_pairs(df, "media_id", "h", d, bits).collect()
            }
            assert got == want, (bits, d)


def test_operator_caches_stay_bounded(spark):
    """Operators persist their twice-read intermediates through
    ``bounded_persist``: called more often than the bound in one
    session, at most ``_MAX_LIVE_CACHES`` cached frames stay live (the
    session's CacheManager entries), and the newest stay cached."""
    from mapreducewordoccurences_spark.core.checkpointing import _MAX_LIVE_CACHES
    from mapreducewordoccurences_spark.dedup.minhash import minhash_band_index
    from mapreducewordoccurences_spark.dedup.prefix import prefix_filter_jaccard_pairs
    from mapreducewordoccurences_spark.dedup.simhash import simhash_near_dup_pairs
    from mapreducewordoccurences_spark.dedup.substrings import duplicate_window_spans

    def entries() -> int:
        return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()

    operators = [
        simhash_near_dup_pairs,
        minhash_band_index,
        prefix_filter_jaccard_pairs,
        duplicate_window_spans,
    ]
    spark.catalog.clearCache()
    try:
        for k in range(_MAX_LIVE_CACHES + 4):
            # a distinct input per call: Spark caches one plan only once
            docs = _docs(spark, [(1, "a b c d e"), (2, f"a b c d {k}")])
            operators[k % len(operators)](docs)
        assert entries() == _MAX_LIVE_CACHES
    finally:
        spark.catalog.clearCache()


def test_bounded_persist_holds_its_bound_across_threads(spark):
    """Concurrent callers share one bound: with more threads than
    cores persisting distinct frames, the live list and the session's
    CacheManager never end above ``_MAX_LIVE_CACHES``."""
    import sys
    import threading

    from mapreducewordoccurences_spark.core import checkpointing

    def work(t: int) -> None:
        for k in range(6):
            checkpointing.bounded_persist(spark.range(t * 100 + k + 1))

    spark.catalog.clearCache()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not any(th.is_alive() for th in threads)
        assert len(checkpointing._LIVE_CACHES) == checkpointing._MAX_LIVE_CACHES
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.numCachedEntries() == checkpointing._MAX_LIVE_CACHES
    finally:
        sys.setswitchinterval(switch)
        spark.catalog.clearCache()


def test_bounded_persist_keeps_a_replanned_frame_cached(spark):
    """Spark caches by plan: persisting a frame whose plan an older
    entry already holds, then filling the bound, must not evict the
    new frame's cache through the old entry."""
    from mapreducewordoccurences_spark.core.checkpointing import (
        _MAX_LIVE_CACHES,
        bounded_persist,
    )

    spark.catalog.clearCache()
    try:
        bounded_persist(spark.range(1000))
        spark.catalog.clearCache()  # as the harnesses do between runs
        again = bounded_persist(spark.range(1000))
        for k in range(_MAX_LIVE_CACHES - 1):
            bounded_persist(spark.range(k + 1))
        assert again.storageLevel.useMemory
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.numCachedEntries() == _MAX_LIVE_CACHES
    finally:
        spark.catalog.clearCache()
