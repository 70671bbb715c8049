"""Bloom-filter pre-filter tier (dedup/bloom.py): sizing math,
no-false-negative invariant, candidate-slice reduction, and exact
parity with the plain anti-join path it accelerates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.bloom import (
    bloom_bitmap,
    bloom_incremental_new_unique,
    bloom_params,
    with_bloom_contains,
)
from mapreducewordoccurences_spark.dedup.exact import incremental_new_unique

from tests.conftest import SF_DIR


def test_bloom_params_textbook_sizing():
    m, k = bloom_params(1_000_000, fpr=0.01)
    # ~9.59 bits/key and ~7 hashes at 1% FPR
    assert m % 64 == 0
    assert 9.0 <= m / 1_000_000 <= 10.5
    assert k == 7
    with pytest.raises(ValueError):
        bloom_params(100, fpr=1.5)


def test_bitmap_no_false_negatives_and_fpr(spark):
    present = spark.range(0, 2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    absent = spark.range(0, 4000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    m, k = bloom_params(2000, fpr=0.01)
    bm = bloom_bitmap(present, "k", m, k)
    assert bm.count() <= m // 64

    flagged_in = with_bloom_contains(present, "k", bm, m, k)
    # Bloom filters NEVER miss an inserted key
    assert flagged_in.where(~F.col("bloom_maybe")).count() == 0

    flagged_out = with_bloom_contains(absent, "k", bm, m, k)
    fp = flagged_out.where(F.col("bloom_maybe")).count()
    # 1% nominal FPR; allow generous slack for a 4000-probe sample
    assert fp / 4000 <= 0.05


def test_bloom_incremental_matches_exact_path(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new_b = docs.where(F.col("doc_id") % 5 == 1)
    corpus = docs.where(F.col("doc_id") % 5 != 1)
    got = sorted(
        bloom_incremental_new_unique(new_b, corpus).collect(),
        key=lambda r: r.doc_id,
    )
    want = sorted(
        incremental_new_unique(new_b, corpus).collect(), key=lambda r: r.doc_id
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_bloom_prefilter_shrinks_corpus_probe(spark):
    """The point of the tier: most definitely-new batch rows must be
    routed around the corpus anti-join."""
    base = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("corpus text "), F.col("id")).alias("text"),
    )
    # batch: 50 true dups of the corpus + 950 brand-new docs
    batch = spark.range(0, 1000).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.when(F.col("id") < 50, F.concat(F.lit("corpus text "), F.col("id")))
        .otherwise(F.concat(F.lit("fresh text "), F.col("id")))
        .alias("text"),
    )
    from mapreducewordoccurences_spark.functions.text import doc_fingerprint

    m, k = bloom_params(1000, fpr=0.01)
    corpus_fp = base.select(doc_fingerprint("text").alias("fingerprint")).distinct()
    bm = bloom_bitmap(corpus_fp, "fingerprint", m, k)
    batch_fp = batch.select(
        doc_fingerprint("text").alias("fingerprint"), "doc_id"
    )
    flagged = with_bloom_contains(batch_fp, "fingerprint", bm, m, k)
    maybe = flagged.where(F.col("bloom_maybe")).count()
    # candidate slice ≈ 50 true dups + ~1% FP of the 950 new
    assert 50 <= maybe <= 50 + math.ceil(950 * 0.05)

    out = bloom_incremental_new_unique(batch, base, fpr=0.01)
    assert out.count() == 950


def test_cms_never_undercounts(spark):
    """CMS one-sided error: estimate >= exact for EVERY key."""
    import collections

    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.functions.cms import (
        cms_build,
        cms_estimate,
    )

    rows1 = [(f"k{i % 37}",) for i in range(500)]
    rows2 = [(f"k{i % 11}",) for i in range(300)]
    a = spark.createDataFrame(rows1, "w string")
    b = spark.createDataFrame(rows2, "w string")
    union = a.unionByName(b)

    exact = collections.Counter(w for w, in rows1 + rows2)
    probes = spark.createDataFrame([(k,) for k in exact], "w string")

    # small width forces collisions — the bound must still hold
    width, depth = 64, 4
    direct = cms_build(union, "w", width, depth)

    import math

    n = 800
    eps = math.e / width
    est = {
        r["w"]: r["cms_estimate"]
        for r in cms_estimate(direct, probes, "w", width, depth).collect()
    }
    for k, c in exact.items():
        assert est[k] >= c, f"{k}: undercount {est[k]} < {c}"
        assert est[k] <= c + eps * n * 4  # loose sanity ceiling
