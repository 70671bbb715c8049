"""sf3 correctness: the dedup family verified TWO decades past the
driver's correctness scale (VERDICT r8 ask #5).

``.localdata/sf3`` (tools/gen_sf1.py --copies 30) holds 150k docs /
3M events / 8k embeddings. The sf1 sweep already gates the full
catalog one decade out; this tool pushes the DEDUP family — the
operators whose candidate volume is the first thing to go superlinear
— one decade further, with two verification modes:

- **oracle rows** (ORACLE_ROWS): the same three-gate cross-engine
  compare as the sf0.01/sf1 sweeps (rows, dtype-strict schema,
  order-insensitive values vs DuckDB), for the rows whose oracle
  stays affordable at sf3.
- **invariant rows** (registered in INVARIANTS): where the DuckDB
  oracle is the bottleneck — ``near_dedup_keepset``'s recursive-CTE
  oracle measured 161 s at sf1 and grows superlinearly —
  acceptance-style invariants replace it (the planted-triangle
  pattern generalized):

  * ``near_dedup_keepset_tier_agreement``: the prefix-SSJoin and
    MinHash-LSH cascades must produce the IDENTICAL per-source
    keepset — two independent candidate-generation paths converging.
  * ``near_dedup_keepset_mass_conservation``: per source
    dropped_exact + dropped_near + kept == docs; totals match the
    corpus count; the exact tier's drop count equals
    n_docs − n_distinct_fingerprints (recomputed independently).
  * ``near_dedup_keepset_planted_duplicates``: running the cascade on
    corpus ∪ (id-shifted copy of itself) must keep EXACTLY the same
    documents per source and drop every planted copy in the exact
    tier — a closed-form ground truth at any scale.
  * ``dedup_clusters_pair_closure``: over the pair set that IS
    cross-engine-verified at sf3 (dedup_ngram_jaccard), the
    components must satisfy min-label canonicality, both endpoints
    of every pair in one component, and Σ size == |touched docs|.

The layered argument: pair sets are cross-checked against DuckDB at
sf3 → components are validated by closure invariants over those
checked pairs → keepsets are validated by tier agreement, mass
conservation, and planted duplicates.

Usage: python tools/sf3_correctness.py [round] [sf_dir] [out_path]
       SPARK_GRAFT_SWEEP_ONLY=row1,row2 ... — re-run just those rows
       (oracle or invariant names) and merge into an existing
       out_path, recomputing the summary (same contract as the sf1
       sweep's partial re-run knob).
       (defaults: $SPARK_GRAFT_ROUND; .localdata/sf3)
Don't overlap with other heavy jobs (24g Spark driver + 40GB DuckDB).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.full_correctness_sweep import (  # noqa: E402
    TABLES,
    dtype_mismatches,
    values_match,
)

# cross-engine rows: oracle measured affordable at sf3 (the pair
# oracles are the slowest at ~1-6 min each; the recursive-CTE keepset
# / clusters oracles are NOT run here — see INVARIANTS)
ORACLE_ROWS = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "substring_dedup_spans",
    "dedup_incremental_minhash",
    "dedup_edit_distance_pairs",
    "semantic_dedup_clusters_fixedk",
    # the multimodal near-dup tier: 150k planted-pattern PNGs decode +
    # dHash per doc (map-only), closed-form planted-pair oracle
    "media_image_dhash_pairs",
    "media_audio_fingerprint_pairs",
    "media_video_clip_dhash_pairs",
    # non-dedup anchors whose inputs actually GROW at sf3 (documents
    # ×3, events ×3; the embeddings table stops at 8k rows past sf1,
    # so the ANN family gains nothing from this decade): the
    # reference workload, sessionization, the iterative fixed-point
    # surface, and both triangle shapes (closed-form planted truth +
    # the panel-scoped exact tier)
    "wordcount",
    "sessionize_events",
    "pagerank_event_transitions",
    "triangles_planted_acceptance",
    "triangles_session_overlap_users",
]


def _inv_tier_agreement(spark, sf_dir: str) -> tuple[bool, dict]:
    from mapreducewordoccurences_spark.queries import QUERIES

    a = QUERIES["near_dedup_keepset"](spark, sf_dir).toPandas()
    b = QUERIES["near_dedup_keepset_lsh"](spark, sf_dir).toPandas()
    same = len(a) == len(b) and values_match(a, b)
    return bool(same), {"n_sources": len(a), "tiers_identical": bool(same)}


def _inv_mass_conservation(spark, sf_dir: str) -> tuple[bool, dict]:
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


def _inv_planted_duplicates(spark, sf_dir: str) -> tuple[bool, dict]:
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


def _inv_clusters_pair_closure(spark, sf_dir: str) -> tuple[bool, dict]:
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


INVARIANTS = {
    "near_dedup_keepset_tier_agreement": _inv_tier_agreement,
    "near_dedup_keepset_mass_conservation": _inv_mass_conservation,
    "near_dedup_keepset_planted_duplicates": _inv_planted_duplicates,
    "dedup_clusters_pair_closure": _inv_clusters_pair_closure,
}


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_ROUND", "9")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".localdata/sf3"
    out_path = (
        sys.argv[3] if len(sys.argv) > 3 else f"artifacts/CORRECTNESS_sf3_r{int(rnd):02d}.json"
    )

    from mapreducewordoccurences_spark.queries import ORACLES, QUERIES
    from mapreducewordoccurences_spark.session import get_spark

    spark = get_spark(
        "sf3-correctness",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": "24g",
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        },
    )
    con = duckdb.connect()
    con.sql("SET memory_limit='40GB'")
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    only_env = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    only = (
        {q.strip() for q in only_env.split(",") if q.strip()}
        if only_env
        else None
    )
    if only:
        unknown = only - set(ORACLE_ROWS) - set(INVARIANTS)
        if unknown:
            print(f"unknown sf3 rows: {sorted(unknown)}", file=sys.stderr)
            return 2

    results: dict[str, dict] = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("queries", {})
    oracle_rows = [n for n in ORACLE_ROWS if only is None or n in only]
    invariant_rows = {
        n: fn for n, fn in INVARIANTS.items() if only is None or n in only
    }
    for name in oracle_rows:
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
            bad_types = dtype_mismatches(spark_dtypes, oracle_cols, oracle_types)
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
            file=sys.stderr, flush=True,
        )

    for name, fn in invariant_rows.items():
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
            file=sys.stderr, flush=True,
        )

    n_green = sum(1 for r in results.values() if r.get("hash_match"))
    summary = {
        "sf_dir": sf_dir,
        "n_checked": len(results),
        "n_green": n_green,
        "n_fail": len(results) - n_green,
        "n_oracle_rows": len(ORACLE_ROWS),
        "n_invariant_rows": len(INVARIANTS),
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "queries": results}, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    return 0 if summary["n_fail"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
