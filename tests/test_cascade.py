"""Dedup cascade: the two near-dup tiers (exact prefix-filter Jaccard
vs MinHash-LSH candidates + exact verification) must produce identical
keep-set semantics and schema wherever LSH recall is 1.0."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.cascade import dedup_cascade
from mapreducewordoccurences_spark.queries import QUERIES

from tests.conftest import SF_DIR


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def test_tiers_agree_on_testdata(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pre = dedup_cascade(docs, near_tier="jaccard_prefix")
    lsh = dedup_cascade(docs, near_tier="minhash_lsh")
    assert pre.columns == lsh.columns == [
        "source", "n_docs", "n_dropped_exact", "n_dropped_near", "n_kept"
    ]
    assert rows_of(pre) == rows_of(lsh)


def test_tiers_agree_on_planted_corpus(spark):
    """Synthetic corpus with byte-dups, a transitive near-dup chain,
    and unrelated docs: both tiers must make the same keep/drop calls."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, "a", base),
        (2, "a", base),                      # byte-dup of 1 → drop_exact
        (3, "b", base + " extra"),           # near-dup of 1 (high J)
        (4, "b", base + " extra more"),      # near-dup of 3 → transitive
        (5, "a", "completely different text about spark query planning "
                 "and distributed shuffles with no overlap at all here"),
        (6, "b", "short no"),                # < n tokens of overlap, unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pre = dedup_cascade(docs, near_tier="jaccard_prefix", threshold=0.5)
    lsh = dedup_cascade(docs, near_tier="minhash_lsh", threshold=0.5)
    got = {r["source"]: r for r in pre.collect()}
    assert got["a"]["n_dropped_exact"] == 1          # doc 2
    assert got["a"]["n_kept"] == 2                   # docs 1, 5
    assert got["b"]["n_dropped_near"] == 2           # docs 3, 4 fold into 1's comp
    assert got["b"]["n_kept"] == 1                   # doc 6
    assert rows_of(pre) == rows_of(lsh)


def test_catalog_entries_match_each_other(spark):
    a = QUERIES["near_dedup_keepset"](spark, SF_DIR)
    b = QUERIES["near_dedup_keepset_lsh"](spark, SF_DIR)
    assert rows_of(a) == rows_of(b)


def test_unknown_tier_raises(spark):
    docs = spark.createDataFrame([(1, "a", "x y z")],
                                 "doc_id long, source string, text string")
    try:
        dedup_cascade(docs, near_tier="bogus")
    except ValueError as e:
        assert "near_tier" in str(e)
    else:
        raise AssertionError("expected ValueError")
