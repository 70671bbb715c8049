"""Accuracy tests for sketch-based queries (not oracle-comparable:
sketch internals are engine-specific) and semantic checks that the
rows-only queries produce sane results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.queries import QUERIES
from mapreducewordoccurences_spark.sources.readers import load_table

from tests.conftest import SF_DIR


def test_approx_distinct_within_tolerance(spark):
    rows = QUERIES["approx_distinct_users"](spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["exact"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        assert r["n_exact_users"] == exact[r["event_type"]]
        assert r["approx_ok"] is True, r


def test_approx_percentiles_ordered(spark):
    rows = QUERIES["approx_value_percentiles"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["p50"] <= r["p90"] <= r["p99"]
        assert r["p50_ok"] and r["p90_ok"] and r["p99_ok"], r


def test_language_id_tie_break_deterministic(spark):
    out1 = {r["doc_id"]: r["lang_guess"] for r in QUERIES["language_id"](spark, SF_DIR).collect()}
    out2 = {r["doc_id"]: r["lang_guess"] for r in QUERIES["language_id"](spark, SF_DIR).collect()}
    assert out1 == out2


def test_simhash_pairs_overlap_exact_jaccard(spark):
    """SimHash near-dups should substantially overlap the exact-Jaccard
    near-dup set (both detect the planted duplicates)."""
    sim = QUERIES["dedup_simhash_pairs"](spark, SF_DIR)
    jac = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    sim_pairs = {(r["doc_a"], r["doc_b"]) for r in sim.collect()}
    jac_pairs = {(r["doc_a"], r["doc_b"]) for r in jac.collect()}
    if jac_pairs:
        recall = len(sim_pairs & jac_pairs) / len(jac_pairs)
        assert recall >= 0.8, (recall, len(sim_pairs), len(jac_pairs))


def test_ngram_jaccard_capped_path_semantics(spark):
    """The posting-list capped path must (a) equal the uncapped
    self-join when the cap doesn't bind, (b) drop hot shingles from
    both intersections AND set sizes when it does."""
    from mapreducewordoccurences_spark.dedup.ngram import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "w1 w2 w3 w4 w5 w6"),   # exact dup of 1
            (3, "w1 w2 w3 x y z"),       # shares prefix shingle only
        ],
        "doc_id long, text string",
    )

    def pairs(**kw):
        return {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=0.0, **kw).collect()
        }

    uncapped = pairs()
    loose = pairs(max_shingle_df=10)
    assert loose == uncapped  # cap above every df: identical output

    # 'w1 w2 w3' appears in all 3 docs; cap=2 drops it. Docs 1,2 still
    # share 3 surviving shingles (J=1.0); pair (1,3)/(2,3) lose their
    # only shared shingle and vanish at threshold 0 denominator>0.
    tight = pairs(max_shingle_df=2)
    assert set(tight) == {(1, 2)}
    assert tight[(1, 2)] == pytest.approx(1.0)


def test_redact_pii_order_and_counts(spark):
    """Email must be scrubbed before ipv4 so dotted domains can't be
    re-matched; counts measure the original text per kind."""
    from mapreducewordoccurences_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [("reach me at a.b@x9.io or 10.0.0.1, call 555-0100 or 555-123-4567",),
         ("no pii here",)],
        "t string",
    )
    c = pii_counts("t")
    out = df.select(
        redact_pii("t").alias("rt"),
        c["email"].alias("e"), c["phone"].alias("p"), c["ipv4"].alias("i"),
    ).collect()
    assert out[0]["e"] == 1 and out[0]["i"] == 1 and out[0]["p"] == 2
    assert out[0]["rt"] == "reach me at [PII] or [PII], call [PII] or [PII]"
    assert out[1]["rt"] == "no pii here"
    assert (out[1]["e"], out[1]["p"], out[1]["i"]) == (0, 0, 0)
