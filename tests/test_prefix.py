"""Prefix-filtering Jaccard join: output must be IDENTICAL to the
uncapped posting-list join (exactness is the tier's whole claim), and
the indexed fraction must actually shrink."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.ngram import (
    _shingle_pair_counts,
    ngram_jaccard_pairs,
)
from mapreducewordoccurences_spark.dedup.prefix import (
    prefix_filter_containment_pairs,
    prefix_filter_jaccard_pairs,
)

from tests.conftest import SF_DIR


def pairs_of(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


@pytest.mark.parametrize("threshold", [0.5, 0.7, 0.8, 0.9])
def test_identical_to_uncapped_posting_join(spark, threshold):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = pairs_of(ngram_jaccard_pairs(docs, n=3, threshold=threshold))
    got = pairs_of(prefix_filter_jaccard_pairs(docs, n=3, threshold=threshold))
    assert got == want


def test_adversarial_small_corpus(spark):
    # shared hot shingles + one rare pivot; includes docs below n tokens
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),       # J high vs 1
        (3, "a b c d q r s t"),       # J moderate vs 1/2
        (4, "z z"),                   # < n tokens → empty shingle set
        (5, "a b c d e f g h"),       # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6, 0.99):
        want = pairs_of(ngram_jaccard_pairs(docs, n=3, threshold=t))
        got = pairs_of(prefix_filter_jaccard_pairs(docs, n=3, threshold=t))
        assert got == want, t


def test_bad_threshold_rejected(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        prefix_filter_jaccard_pairs(docs, threshold=0.0)


def test_random_corpora_match_python_reference(spark):
    """Randomized differential: prefix-filter output must equal a
    pure-Python all-pairs shingle Jaccard on random word soups
    (heavy shared vocabulary + planted near-dups + tiny docs)."""
    import itertools
    import random

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = rng.randrange(2, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups: copy with a one-word tweak
    for i in range(40, 50):
        base = docs[i - 40][1]
        words = base.split()
        if len(words) > 4:
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words)))

    def shingles(text):
        toks = text.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    for t in (0.4, 0.8):
        expect = {}
        sh = {i: shingles(s) for i, s in docs}
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sh.items()), 2):
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            j = inter / (len(sa) + len(sb) - inter)
            if j >= t:
                expect[(ia, ib)] = j
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = pairs_of(prefix_filter_jaccard_pairs(df, n=3, threshold=t))
        assert got == expect, (t, len(got), len(expect))


def uncapped_containment_pairs(docs, n, threshold):
    """Reference containment join: every pair sharing a shingle, scored
    from the uncapped posting self-join, C = |A∩B| / min(|A|,|B|)."""
    counts = _shingle_pair_counts(docs, "doc_id", "text", n, None)
    cont = F.col("__inter") / F.least(F.col("__na"), F.col("__nb"))
    return counts.select(
        "doc_a", "doc_b", cont.alias("containment"),
        F.col("__na").alias("n_shingles_a"),
        F.col("__nb").alias("n_shingles_b"),
    ).where(F.col("containment") >= threshold)


def cont_pairs_of(df):
    return {
        (r["doc_a"], r["doc_b"]): (
            r["containment"], r["n_shingles_a"], r["n_shingles_b"]
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("threshold", [0.7, 0.9])
def test_containment_identical_to_uncapped_posting_join(spark, threshold):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = cont_pairs_of(uncapped_containment_pairs(docs, 3, threshold))
    got = cont_pairs_of(
        prefix_filter_containment_pairs(docs, n=3, threshold=threshold)
    )
    assert got == want


def test_containment_adversarial_small_corpus(spark):
    rows = [
        (1, "a b c d e f g h i j k l m n o p"),   # long host
        (2, "a b c d e"),                          # fully contained in 1
        (3, "a b c d x"),                          # partially contained
        (4, "z z"),                                # < n tokens
        (5, "a b c d e"),                          # dup of 2 (equal sizes)
        (6, "q r s t u v w"),                      # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6, 0.9, 1.0):
        want = cont_pairs_of(uncapped_containment_pairs(docs, 3, t))
        got = cont_pairs_of(
            prefix_filter_containment_pairs(docs, n=3, threshold=t)
        )
        assert got == want, t


def test_containment_random_differential(spark):
    """Randomized differential vs pure-Python all-pairs containment —
    equal-size pairs, tiny docs, and heavy shared vocabulary all
    stress the asymmetric probe/index split."""
    import itertools
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(25)]
    docs = []
    for i in range(35):
        n = rng.randrange(2, 25)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted containments: substring excerpts of longer docs
    for i in range(35, 45):
        base = docs[i - 35][1].split()
        if len(base) > 6:
            lo = rng.randrange(0, len(base) - 5)
            docs.append((i, " ".join(base[lo:lo + 6])))
        else:
            docs.append((i, docs[i - 35][1]))

    def shingles(text):
        toks = text.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    for t in (0.5, 0.9):
        expect = {}
        sh = {i: shingles(s) for i, s in docs}
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sh.items()), 2):
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            c = inter / min(len(sa), len(sb))
            if c >= t:
                expect[(ia, ib)] = (c, len(sa), len(sb))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = cont_pairs_of(prefix_filter_containment_pairs(df, n=3, threshold=t))
        assert got == expect, (t, len(got), len(expect))
