"""Acceptance invariants: the sweep's rows where a DuckDB oracle is
infeasible at the decade's scale.

Each invariant is ``fn(spark, sf_dir) -> (ok, checks)`` and is
registered under its sweep row name together with the catalog rows it
gates (``INVARIANTS[name].gates``). A catalog row counts as gated at
scale only when some invariant declares it; ``tests/test_sweep.py``
holds the sf30 manifest to that.

Two families, layered:

- **closure invariants** (sf3): the pair sets are cross-checked against
  DuckDB at sf3 → components are validated by closure invariants over
  those checked pairs → keepsets by tier agreement, mass conservation
  and planted duplicates. ``near_dedup_keepset``'s recursive-CTE oracle
  measured 161 s at sf1 and grows superlinearly, so these replace it.
- **reference invariants** (sf10/sf30): full-result comparisons against
  the pure-Python reference oracle (``tools/sf10_expected.py``), which
  computes the exact pair set / exact-dup classes / cascade audit /
  component list of a ``tools/gen_sf1.py --copies N`` replica from its
  base corpus (the ``source`` its ``MANIFEST.json`` records) plus the
  generator's own vocabulary algebra. Naive "everything x100" does NOT
  hold: five base docs are written (almost) entirely in the
  verbatim-kept vocabulary half and so stay near-identical ACROSS
  copies, and salted renames can collide
  (copy 159 renders both 'the' and 'dup' as 'dup'). At copies=10 the
  reference reproduces the engine's DuckDB-verified sf1 results
  bit-for-bit; only then is a larger comparison meaningful.

Rows deliberately left without a reference invariant, with reasons:

- ngram posting-list rows (``dedup_ngram_jaccard``, the CC input of
  ``dedup_clusters``): the df cap (1000) genuinely BINDS at sf10 —
  verbatim-kept shingles reach df ~= 25x100 = 2500 — which is the cap
  doing its scale job, not a bug; the lossless prefix SSJoin is the
  acceptance vehicle, and the CC operator is gated over ITS pair set.
- ``substring_dedup_spans``: an L-token window of all-verbatim words is
  duplicated ACROSS copies by construction, so span counts are
  legitimately superlinear in copies (cross-engine at sf3 instead).
- hash-seeded sketch PAIR SETS (minhash/simhash signatures change under
  renaming); their recall-vs-exact CONTRACTS are gated instead.
- ``dedup_edit_distance_pairs``: Levenshtein is not invariant under word
  renaming (cross-engine at sf3, where DuckDB is still affordable).
- embedding rows: 32k vectors put the max cross-copy cosine (~N(0, 1/8)
  tails) above the catalog's 0.4 demo threshold, so pair counts are
  legitimately not 16x.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter
from typing import Callable, NamedTuple

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_oracle_parity import assert_frames_match  # noqa: E402
from tools.gen_sf1 import vocab_map  # noqa: E402
from tools.sf10_expected import BaseCorpus  # noqa: E402

WORD = re.compile(r"[A-Za-z0-9]+")


class Invariant(NamedTuple):
    fn: Callable[..., tuple[bool, dict]]
    gates: tuple[str, ...]


INVARIANTS: dict[str, Invariant] = {}


def invariant(name: str, *gates: str):
    """Register ``fn`` as sweep row ``name`` gating catalog ``gates``."""

    def register(fn):
        INVARIANTS[name] = Invariant(fn, gates)
        return fn

    return register


def _frames_equal(a, b) -> bool:
    try:
        assert_frames_match("invariant", a, b)
    except AssertionError:
        return False
    return True


# ---------------------------------------------------------------------------
# closure invariants (sf3)
# ---------------------------------------------------------------------------


@invariant(
    "near_dedup_keepset_tier_agreement",
    "near_dedup_keepset",
    "near_dedup_keepset_lsh",
)
def _inv_tier_agreement(spark, sf_dir: str) -> tuple[bool, dict]:
    """The prefix-SSJoin and MinHash-LSH cascades must produce the
    IDENTICAL per-source keepset — two independent candidate-generation
    paths converging."""
    from mapreducewordoccurences_spark.queries import QUERIES

    a = QUERIES["near_dedup_keepset"](spark, sf_dir).toPandas()
    b = QUERIES["near_dedup_keepset_lsh"](spark, sf_dir).toPandas()
    same = _frames_equal(a, b)
    return bool(same), {"n_sources": len(a), "tiers_identical": bool(same)}


@invariant("near_dedup_keepset_mass_conservation", "near_dedup_keepset")
def _inv_mass_conservation(spark, sf_dir: str) -> tuple[bool, dict]:
    """Per source dropped_exact + dropped_near + kept == docs; totals
    match the corpus count; the exact tier's drop count equals
    n_docs − n_distinct_fingerprints (recomputed independently)."""
    from mapreducewordoccurences_spark.dedup.exact import doc_fingerprint
    from mapreducewordoccurences_spark.queries import QUERIES
    from mapreducewordoccurences_spark.sources.readers import load_table

    pdf = QUERIES["near_dedup_keepset"](spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_distinct_fp = (
        docs.select(doc_fingerprint("text").alias("f")).distinct().count()
    )
    per_source = bool(
        (
            (pdf["n_dropped_exact"] + pdf["n_dropped_near"] + pdf["n_kept"])
            == pdf["n_docs"]
        ).all()
    )
    totals = int(pdf["n_docs"].sum()) == n_docs
    exact_tier = int(pdf["n_dropped_exact"].sum()) == n_docs - n_distinct_fp
    checks = {
        "per_source_mass": per_source,
        "totals_match_corpus": bool(totals),
        "exact_drops_match_fingerprints": bool(exact_tier),
        "n_docs": n_docs,
        "n_distinct_fingerprints": n_distinct_fp,
    }
    return per_source and totals and exact_tier, checks


@invariant("near_dedup_keepset_planted_duplicates", "near_dedup_keepset")
def _inv_planted_duplicates(spark, sf_dir: str) -> tuple[bool, dict]:
    """Running the cascade on corpus ∪ (id-shifted copy of itself) must
    keep EXACTLY the same documents per source and drop every planted
    copy in the exact tier — a closed-form ground truth at any scale."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.dedup.cascade import dedup_cascade
    from mapreducewordoccurences_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    doubled = docs.unionByName(shifted)
    base = (
        dedup_cascade(docs, near_tier="jaccard_prefix", n=3, threshold=0.8)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    dbl = (
        dedup_cascade(doubled, near_tier="jaccard_prefix", n=3, threshold=0.8)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    # every planted copy (id-shifted, so never the min of its
    # fingerprint group) dies in the exact tier; the surviving set —
    # and hence the near tier's whole universe — is unchanged
    checks = {
        "same_sources": bool((base.index == dbl.index).all()),
        "docs_doubled": bool((dbl["n_docs"] == 2 * base["n_docs"]).all()),
        "kept_unchanged": bool((dbl["n_kept"] == base["n_kept"]).all()),
        "near_drops_unchanged": bool(
            (dbl["n_dropped_near"] == base["n_dropped_near"]).all()
        ),
        "exact_drops_gain_copies": bool(
            (
                dbl["n_dropped_exact"]
                == base["n_dropped_exact"] + base["n_docs"]
            ).all()
        ),
    }
    return all(checks.values()), checks


@invariant("dedup_clusters_pair_closure", "dedup_clusters")
def _inv_clusters_pair_closure(spark, sf_dir: str) -> tuple[bool, dict]:
    """Over the pair set that IS cross-engine-verified at sf3
    (dedup_ngram_jaccard), the components must satisfy min-label
    canonicality, both endpoints of every pair in one component, and
    Σ size == |touched docs|."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.dedup.clusters import (
        connected_components,
        dup_clusters,
    )
    from mapreducewordoccurences_spark.dedup.ngram import ngram_jaccard_pairs
    from mapreducewordoccurences_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8).persist()
    try:
        summary = dup_clusters(pairs).toPandas()
        cc = connected_components(pairs).persist()
        # (a) min-label canonicality: the summary's keep_id IS the
        # component label
        min_label = bool((summary["component"] == summary["keep_id"]).all())
        # (b) closure over the cross-engine-verified pair set: both
        # endpoints of every pair land in the same component
        ca = cc.select(
            F.col("node").alias("doc_a"), F.col("component").alias("__c_a")
        )
        cb = cc.select(
            F.col("node").alias("doc_b"), F.col("component").alias("__c_b")
        )
        split_edges = (
            pairs.join(ca, "doc_a")
            .join(cb, "doc_b")
            .where(F.col("__c_a") != F.col("__c_b"))
            .count()
        )
        # (c) partition: Σ size == |docs touched by any pair|
        n_touched = (
            pairs.select(F.col("doc_a").alias("d"))
            .unionByName(pairs.select(F.col("doc_b").alias("d")))
            .distinct()
            .count()
        )
        sizes_ok = int(summary["size"].sum()) == n_touched
        checks = {
            "min_label_canonical": min_label,
            "pairs_split_across_components": int(split_edges),
            "sizes_partition_touched_docs": bool(sizes_ok),
            "n_components": len(summary),
            "n_touched_docs": n_touched,
        }
        return min_label and split_edges == 0 and sizes_ok, checks
    finally:
        pairs.unpersist()


# ---------------------------------------------------------------------------
# reference invariants (sf10/sf30)
# ---------------------------------------------------------------------------

_BC_CACHE: dict[tuple[int, str], BaseCorpus] = {}


def _manifest(sf_dir: str) -> dict:
    with open(os.path.join(sf_dir, "MANIFEST.json")) as f:
        return json.load(f)


def _copies(sf_dir: str) -> int:
    return int(_manifest(sf_dir)["copies"])


def _source(sf_dir: str) -> str:
    """The base directory the replica was generated from, as
    ``tools/gen_sf1.py`` records it: every expected value derives
    from it."""
    manifest = _manifest(sf_dir)
    if "source" not in manifest:
        raise KeyError(f"{sf_dir}/MANIFEST.json records no 'source'")
    return manifest["source"]


def _base_corpus(sf_dir: str) -> BaseCorpus:
    key = (_copies(sf_dir), _source(sf_dir))
    if key not in _BC_CACHE:
        _BC_CACHE[key] = BaseCorpus(key[0], src=key[1])
    return _BC_CACHE[key]


def _docs_base_count(sf_dir: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM '{_source(sf_dir)}/documents.parquet'"
    ).fetchone()[0]


@invariant("wordcount_closed_form", "wordcount")
def _inv_wordcount_closed_form(spark, sf_dir: str) -> tuple[bool, dict]:
    """EXACT full-result oracle for the replica's wordcount, computed in
    pure Python: push the base corpus's per-word counts through each
    copy's vocabulary map (the generator's own vocab_map) and sum. Also
    records every copy whose map is not injective — the premise the
    pair-replicating invariants below stand on."""
    from mapreducewordoccurences_spark.queries import QUERIES

    rows = duckdb.sql(
        f"SELECT text FROM '{_source(sf_dir)}/documents.parquet'"
    ).fetchall()
    base = Counter()
    vocab: set[str] = set()
    for (t,) in rows:
        ws = WORD.findall(t)
        base.update(ws)
        vocab.update(ws)
    copies = _copies(sf_dir)
    expected = Counter(base)  # copy 0 is verbatim
    noninjective = []
    for k in range(1, copies):
        vm = vocab_map(vocab, k)
        if len(set(vm.values())) != len(vocab):
            noninjective.append(k)
        # the count push-through is exact whether or not the copy's
        # map is injective (colliding words simply pool their counts,
        # exactly as the rendered corpus does) — injectivity only
        # matters for PAIR replication, which tools/sf10_expected.py
        # handles separately
        for w, c in base.items():
            expected[vm[w]] += c
    got = {
        r["word"]: r["cnt"]
        for r in QUERIES["wordcount"](spark, sf_dir).collect()
    }
    checks = {
        "noninjective_copies": noninjective,
        "n_distinct_expected": len(expected),
        "n_distinct_got": len(got),
        "total_expected": sum(expected.values()),
        "total_got": sum(got.values()),
        "full_dict_equal": got == dict(expected),
    }
    return checks["full_dict_equal"], checks


@invariant("prefix_pairs_vs_reference", "dedup_jaccard_prefix_filter")
def _inv_prefix_pairs_vs_reference(spark, sf_dir: str) -> tuple[bool, dict]:
    """The lossless exact SSJoin's FULL pair set — ids and Jaccard
    values — must equal the pure-Python reference exactly. Also
    confirms the prefix tier stays lossless when the verbatim-shared
    shingles' df grows with the copies (rarity ordering pushes them OUT
    of prefixes — the design property that keeps candidate volume
    linear)."""
    from mapreducewordoccurences_spark.dedup.prefix import (
        prefix_filter_jaccard_pairs,
    )
    from mapreducewordoccurences_spark.sources.readers import load_table

    bc = _base_corpus(sf_dir)
    expected = {
        (a, b, round(j, 9)) for a, b, j in bc.expected_pairs_explicit(0.8)
    }
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in prefix_filter_jaccard_pairs(
            docs, n=3, threshold=0.8
        ).collect()
    }
    checks = {
        "n_expected": len(expected),
        "n_got": len(got),
        "missing": len(expected - got),
        "unexpected": len(got - expected),
        "full_pair_set_equal": got == expected,
    }
    return checks["full_pair_set_equal"], checks


@invariant("near_dedup_keepset_vs_reference", "near_dedup_keepset")
def _inv_keepset_vs_reference(spark, sf_dir: str) -> tuple[bool, dict]:
    """The end-to-end cascade's per-source audit (exact tier → prefix
    near tier → components → min-id survivorship) must equal the
    reference cascade computed in Python."""
    from mapreducewordoccurences_spark.queries import QUERIES

    bc = _base_corpus(sf_dir)
    expected = bc.expected_keepset(0.8)
    got = {
        r["source"]: {
            k: r[k]
            for k in ("n_docs", "n_dropped_exact", "n_dropped_near", "n_kept")
        }
        for r in QUERIES["near_dedup_keepset"](spark, sf_dir).collect()
    }
    mismatched = sorted(
        s
        for s in set(expected) | set(got)
        if expected.get(s) != got.get(s)
    )
    checks = {
        "n_sources": len(got),
        "mismatched_sources": mismatched,
        "audit_equal": not mismatched and len(got) == len(expected),
        "n_docs_total": sum(r["n_docs"] for r in got.values()),
    }
    return checks["audit_equal"], checks


@invariant("dup_clusters_vs_reference", "dedup_clusters")
def _inv_clusters_vs_reference(spark, sf_dir: str) -> tuple[bool, dict]:
    """Connected components over the LOSSLESS pair tier: the full
    (component, size, keep_id) result must equal the reference
    union-find. Gates the iterative min-label operator itself —
    labels, not just counts."""
    from mapreducewordoccurences_spark.dedup.clusters import dup_clusters
    from mapreducewordoccurences_spark.dedup.prefix import (
        prefix_filter_jaccard_pairs,
    )
    from mapreducewordoccurences_spark.sources.readers import load_table

    bc = _base_corpus(sf_dir)
    expected = bc.expected_components(0.8)
    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.8)
    got = sorted(
        (r["component"], r["size"], r["keep_id"])
        for r in dup_clusters(pairs).collect()
    )
    checks = {
        "n_expected_components": len(expected),
        "n_got_components": len(got),
        "full_component_list_equal": got == expected,
    }
    return checks["full_component_list_equal"], checks


def _sketch_recall_row(
    spark, sf_dir: str, row: str, threshold: float
) -> tuple[bool, dict]:
    """The sketch tiers' acceptance contracts, evaluated on the replica:
    the exact-pair denominator must equal the reference count and the
    recall gate must hold (the sketch signatures themselves are
    hash-seeded and legitimately differ per copy — their CONTRACT is
    what scales)."""
    from mapreducewordoccurences_spark.queries import QUERIES

    bc = _base_corpus(sf_dir)
    expected_n = len(bc.expected_pairs_explicit(threshold))
    big = QUERIES[row](spark, sf_dir).collect()[0].asDict()
    checks = {
        "expected_n_exact_pairs": expected_n,
        "sf10_n_exact_pairs": int(big["n_exact_pairs"]),
        "denominator_matches_reference": int(big["n_exact_pairs"])
        == expected_n,
        "recall_ok_at_sf10": bool(big["recall_ok"]),
    }
    return (
        checks["denominator_matches_reference"]
        and checks["recall_ok_at_sf10"]
    ), checks


@invariant("minhash_lsh_recall_at_sf10", "dedup_minhash_lsh")
def _inv_minhash_recall(spark, sf_dir: str) -> tuple[bool, dict]:
    return _sketch_recall_row(spark, sf_dir, "dedup_minhash_lsh", 0.7)


@invariant("simhash_recall_at_sf10", "dedup_simhash")
def _inv_simhash_recall(spark, sf_dir: str) -> tuple[bool, dict]:
    return _sketch_recall_row(spark, sf_dir, "dedup_simhash", 0.8)


@invariant(
    "per_doc_metrics_copy_consistent",
    "repetition_filter_stats",
    "text_stats",
)
def _inv_per_doc_metrics_copy_consistent(
    spark, sf_dir: str
) -> tuple[bool, dict]:
    """Per-document metrics (Gopher repetition gate + text stats) are
    functions of the doc alone, and the bijection preserves token
    counts, distinct counts, n-gram repeat structure, and lengths —
    so every copy of a base doc must agree on every metric, and
    copy 0 must equal the base corpus run row-for-row. Catches any
    partition- or corpus-size-dependence sneaking into a map-only
    operator."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.queries import QUERIES

    stride = _docs_base_count(sf_dir)
    out = {}
    ok = True
    for row in ("repetition_filter_stats", "text_stats"):
        big = QUERIES[row](spark, sf_dir)
        metrics = [c for c in big.columns if c != "doc_id"]
        agg = big.groupBy((F.col("doc_id") % stride).alias("base_id")).agg(
            F.countDistinct(F.struct(*metrics)).alias("n_variants"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        disagree = agg.where(F.col("n_variants") != 1).count()
        n_base = agg.count()
        base = (
            QUERIES[row](spark, _source(sf_dir))
            .toPandas()
            .sort_values("doc_id")
        )
        copy0 = (
            big.where(F.col("doc_id") < stride)
            .toPandas()
            .sort_values("doc_id")
        )
        copy0_equal = _frames_equal(base, copy0)
        out[row] = {
            "n_base_docs": n_base,
            "copies_disagreeing": disagree,
            "copy0_equals_base": bool(copy0_equal),
        }
        ok &= disagree == 0 and n_base == stride and copy0_equal
    return ok, out
