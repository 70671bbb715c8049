"""sf10 acceptance: the correctness ladder THREE decades past the
driver's 0.01 gate (0.01 → 0.1 → 1 → 3 → 10).

``.localdata/sf10`` (tools/gen_sf1.py --copies 100 --emb-copies 16)
holds 500k docs / 60M lineitem / 10M events — 100x the driver's bench
scale. Two row kinds, same artifact contract as the sf3 tool:

- **oracle rows**: full DuckDB cross-engine hash compares, kept to
  the rows whose oracle stays affordable at 30M corpus tokens
  (md5-groupBy exact dedup, the reference wordcount, sessionization,
  the planted-triangle and planted-image-pair closed forms).

- **invariant rows**: full-result comparisons against the pure-Python
  reference oracle (tools/sf10_expected.py), which computes the EXACT
  expected pair set / exact-dup classes / cascade audit / component
  list from the sf0.1 base corpus plus the generator's own vocabulary
  algebra. Naive "everything x100" does NOT hold — five base docs are
  written (almost) entirely in the verbatim-kept vocabulary half and
  so stay near-identical ACROSS copies (2 exact clones, 5 with
  cross-copy J >= 0.8), and two salted-rename collisions exist at 100
  copies (vm_23('part')=='part', vm_36('key')==vm_52('the')); the
  reference enumerates all of it combinatorially. Validation contract:
  at copies=10 the reference reproduces the engine's DuckDB-verified
  sf1 results bit-for-bit (2785 pairs @0.8, 2875 @0.7, 2324
  components, the 20-source keepset audit) — only then is the sf10
  comparison meaningful.

Rows deliberately EXCLUDED from reference-oracle claims, with reasons:
- ngram posting-list rows (``dedup_ngram_jaccard``, the
  ``dedup_clusters`` catalog row): the df cap (1000) genuinely BINDS
  at sf10 — verbatim-kept shingles reach df ~= 25x100 = 2500 — which
  is the cap doing its scale job, not a bug; the lossless prefix
  SSJoin is the acceptance vehicle here, and the CC operator is
  gated over ITS pair set instead.
- ``substring_dedup_spans``: an L-token window of all-verbatim words
  is duplicated ACROSS copies by construction, so span counts are
  legitimately superlinear in copies (cross-engine-verified at sf3
  instead).
- hash-seeded sketch PAIR SETS (minhash/simhash signatures change
  under renaming); their recall-vs-exact CONTRACTS are gated here
  instead (recall_ok at sf10 + exact-denominator x100).
- ``dedup_edit_distance_pairs``: Levenshtein is not invariant under
  word renaming (cross-engine-verified at sf3, where DuckDB is still
  affordable).
- embedding rows: 32k vectors put the max cross-copy cosine
  (~N(0, 1/8) tails) above the catalog's 0.4 demo threshold, so
  pair counts are legitimately not 16x (the ANN family's scale
  evidence is the sf1 sweep + matryoshka/IVF probes).

Usage: python tools/sf10_acceptance.py [round] [sf_dir] [out_path]
       SPARK_GRAFT_SWEEP_ONLY=row1,row2 ... — partial re-run, merged
       into an existing out_path (same knob as the sf1/sf3 tools).
Don't overlap with other heavy jobs (24g Spark driver + 40GB DuckDB).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.full_correctness_sweep import (  # noqa: E402
    TABLES,
    dtype_mismatches,
    values_match,
)
from tools.gen_sf1 import vocab_map  # noqa: E402
from tools.sf10_expected import BaseCorpus  # noqa: E402

SF01 = "/root/testdata/sf0.1"
WORD = re.compile(r"[A-Za-z0-9]+")

_BC_CACHE: dict[int, BaseCorpus] = {}


def _base_corpus(sf_dir: str) -> BaseCorpus:
    copies = _copies(sf_dir)
    if copies not in _BC_CACHE:
        _BC_CACHE[copies] = BaseCorpus(copies)
    return _BC_CACHE[copies]

ORACLE_ROWS = [
    "dedup_exact",
    "wordcount",
    "sessionize_events",
    "triangles_planted_acceptance",
    "media_image_dhash_pairs",
]


def _copies(sf_dir: str) -> int:
    with open(os.path.join(sf_dir, "MANIFEST.json")) as f:
        return int(json.load(f)["copies"])


def _docs_base_count() -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM '{SF01}/documents.parquet'"
    ).fetchone()[0]


def _inv_wordcount_closed_form(spark, sf_dir: str) -> tuple[bool, dict]:
    """EXACT full-result oracle for sf10 wordcount, computed in pure
    Python: push the sf0.1 per-word counts through each copy's
    vocabulary bijection (the generator's own vocab_map) and sum.
    Also proves the bijection's injectivity for every copy — the
    premise every other x100 invariant in this file stands on."""
    from mapreducewordoccurences_spark.queries import QUERIES

    rows = duckdb.sql(
        f"SELECT text FROM '{SF01}/documents.parquet'"
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


def _inv_prefix_pairs_vs_reference(spark, sf_dir: str) -> tuple[bool, dict]:
    """The lossless exact SSJoin's FULL pair set at sf10 — ids and
    Jaccard values — must equal the pure-Python reference exactly.
    Also confirms the prefix tier stays lossless when the
    verbatim-shared shingles' df grows 100x (rarity ordering pushes
    them OUT of prefixes — the design property that keeps candidate
    volume linear)."""
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


def _inv_clusters_vs_reference(spark, sf_dir: str) -> tuple[bool, dict]:
    """Connected components over the LOSSLESS pair tier: the full
    (component, size, keep_id) result must equal the reference
    union-find. Gates the iterative min-label operator itself at
    sf10 — labels, not just counts."""
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
    """The sketch tiers' acceptance contracts, evaluated AT sf10: the
    exact-pair denominator must equal the reference count and the
    recall gate must hold on the 100x corpus (the sketch signatures
    themselves are hash-seeded and legitimately differ per copy —
    their CONTRACT is what scales)."""
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


def _inv_minhash_recall(spark, sf_dir: str) -> tuple[bool, dict]:
    return _sketch_recall_row(spark, sf_dir, "dedup_minhash_lsh", 0.7)


def _inv_simhash_recall(spark, sf_dir: str) -> tuple[bool, dict]:
    return _sketch_recall_row(spark, sf_dir, "dedup_simhash", 0.8)


def _inv_per_doc_metrics_copy_consistent(
    spark, sf_dir: str
) -> tuple[bool, dict]:
    """Per-document metrics (Gopher repetition gate + text stats) are
    functions of the doc alone, and the bijection preserves token
    counts, distinct counts, n-gram repeat structure, and lengths —
    so all 100 copies of a base doc must agree on every metric, and
    copy 0 must equal the sf0.1 run row-for-row. Catches any
    partition- or corpus-size-dependence sneaking into a map-only
    operator at 30M tokens."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.queries import QUERIES

    stride = _docs_base_count()
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
        base = QUERIES[row](spark, SF01).toPandas().sort_values("doc_id")
        copy0 = (
            big.where(F.col("doc_id") < stride)
            .toPandas()
            .sort_values("doc_id")
        )
        copy0_equal = len(base) == len(copy0) and values_match(base, copy0)
        out[row] = {
            "n_base_docs": n_base,
            "copies_disagreeing": disagree,
            "copy0_equals_sf01": bool(copy0_equal),
        }
        ok &= disagree == 0 and n_base == stride and copy0_equal
    return ok, out


INVARIANTS = {
    "wordcount_closed_form": _inv_wordcount_closed_form,
    "prefix_pairs_vs_reference": _inv_prefix_pairs_vs_reference,
    "near_dedup_keepset_vs_reference": _inv_keepset_vs_reference,
    "dup_clusters_vs_reference": _inv_clusters_vs_reference,
    "minhash_lsh_recall_at_sf10": _inv_minhash_recall,
    "simhash_recall_at_sf10": _inv_simhash_recall,
    "per_doc_metrics_copy_consistent": _inv_per_doc_metrics_copy_consistent,
}


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_ROUND", "9"
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".localdata/sf10"
    out_path = (
        sys.argv[3]
        if len(sys.argv) > 3
        else f"artifacts/CORRECTNESS_sf10_r{int(rnd):02d}.json"
    )

    from mapreducewordoccurences_spark.queries import ORACLES, QUERIES
    from mapreducewordoccurences_spark.session import get_spark

    spark = get_spark(
        "sf10-acceptance",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.driver.memory": "24g",
            # sessionize's full-result compare collects ~28.6M rows at
            # sf30 — the default 1g maxResultSize kills the collect,
            # not the operator
            "spark.driver.maxResultSize": "8g",
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        },
    )
    con = duckdb.connect()
    con.sql("SET memory_limit='40GB'")
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    only_env = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    only = (
        {q.strip() for q in only_env.split(",") if q.strip()}
        if only_env
        else None
    )
    if only:
        unknown = only - set(ORACLE_ROWS) - set(INVARIANTS)
        if unknown:
            print(f"unknown sf10 rows: {sorted(unknown)}", file=sys.stderr)
            return 2

    results: dict[str, dict] = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("queries", {})

    for name in [n for n in ORACLE_ROWS if only is None or n in only]:
        rec: dict = {"kind": "oracle", "hash_match": None, "err": None}
        try:
            t0 = time.perf_counter()
            sdf = QUERIES[name](spark, sf_dir)
            spark_dtypes = sdf.dtypes
            spdf = sdf.toPandas()
            rec["spark_sec"] = round(time.perf_counter() - t0, 3)
            rec["spark_rows"] = len(spdf)
            t0 = time.perf_counter()
            rel = con.sql(ORACLES[name])
            oracle_cols, oracle_types = list(rel.columns), list(rel.types)
            ddf = rel.df()
            rec["oracle_sec"] = round(time.perf_counter() - t0, 3)
            rec["oracle_rows"] = len(ddf)
            bad_types = dtype_mismatches(
                spark_dtypes, oracle_cols, oracle_types
            )
            if bad_types:
                rec["dtype_mismatches"] = bad_types
            rec["hash_match"] = (
                len(spdf) == len(ddf)
                and sorted(spdf.columns) == sorted(ddf.columns)
                and not bad_types
                and values_match(spdf, ddf)
            )
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        spark.catalog.clearCache()
        results[name] = rec
        print(
            f"{name}: {'green' if rec.get('hash_match') else 'FAIL'} "
            f"(spark {rec.get('spark_sec')}s, duck {rec.get('oracle_sec')}s)",
            file=sys.stderr,
            flush=True,
        )

    for name, fn in INVARIANTS.items():
        if only is not None and name not in only:
            continue
        rec = {"kind": "invariant", "hash_match": None, "err": None}
        try:
            t0 = time.perf_counter()
            ok, checks = fn(spark, sf_dir)
            rec["spark_sec"] = round(time.perf_counter() - t0, 3)
            rec["hash_match"] = bool(ok)
            rec["checks"] = checks
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        spark.catalog.clearCache()
        results[name] = rec
        print(
            f"{name}: {'green' if rec.get('hash_match') else 'FAIL'} "
            f"({rec.get('spark_sec')}s) {rec.get('checks')}",
            file=sys.stderr,
            flush=True,
        )

    n_green = sum(1 for r in results.values() if r.get("hash_match"))
    out = {
        "summary": {
            "sf_dir": sf_dir,
            "copies": _copies(sf_dir),
            "n_checked": len(results),
            "n_green": n_green,
            "n_fail": len(results) - n_green,
        },
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["summary"]))
    return 0 if n_green == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
