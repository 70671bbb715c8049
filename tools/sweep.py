"""One correctness sweep for every decade of the scale ladder.

    python tools/sweep.py <decade> <data_dir> --out PATH [--only a,b]

Runs the decade's rows (``DECADES``) on the parquet tables in
``data_dir`` and writes one JSON artifact: ``summary``, one record per
row under ``queries`` and, where the decade curates its rows, the
``excluded`` map with every other catalog row's written reason. A row
is one of:

- an **oracle row**: ``QUERIES[name]`` against its DuckDB
  ``ORACLES[name]`` over the same files, through the tier-1 compare in
  ``tests/test_oracle_parity.py`` (engine type classes, row count,
  column names, order-insensitive exact values);
- an **invariant row**: ``INVARIANTS[name].fn(spark, data_dir) ->
  (ok, checks)`` from ``tools/invariants.py``, where the DuckDB oracle
  is infeasible at that scale.

``--only`` re-runs the named rows of the decade and merges them into
the artifact already at ``--out``; the summary is recomputed over the
merged set. A single re-run row is timed in a cold session, so lead
with a cheap row (``--only dedup_exact,<row>``) when its time matters.
Exit status: 0 when no row in the artifact failed, 1 otherwise, 2 on an
unknown row.

The decades past sf0.1 are ``tools/gen_sf1.py`` replicas of sf0.1
(deterministic, gitignored under ``.localdata/``): sf1 ``--copies 10``,
sf3 ``--copies 30``, sf10 ``--copies 100 --emb-copies 16``, sf30
``--copies 300``, sf100 ``--copies 1000``. The session runs on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) and is sized by the
decade's entry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass, field

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducewordoccurences_spark.queries import ORACLES, QUERIES  # noqa: E402
from tests.test_oracle_parity import (  # noqa: E402
    assert_frames_match,
    assert_types_match,
)
from tools.invariants import INVARIANTS  # noqa: E402
from tools.sf30_manifest import EXCLUDED, WIDE  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@dataclass(frozen=True)
class Decade:
    rows: tuple[str, ...]
    shuffle_partitions: int
    # None: the driver-scale session (Spark's driver defaults, DuckDB
    # uncapped). Set, the compare collects both sides of the biggest
    # rows (sessionize at sf30: ~28M sessions, past the 1g default
    # maxResultSize) and DuckDB is capped so it does not co-OOM with
    # the Spark driver on the heavy pair oracles.
    driver_mem: str | None = None
    excluded: dict[str, str] = field(default_factory=dict)


CATALOG = tuple(sorted(QUERIES))

DECADES = {
    "sf0.01": Decade(CATALOG, 8),
    "sf1": Decade(CATALOG, 32, "24g"),
    # the dedup family two decades out, plus the non-dedup anchors
    # whose inputs grow here (the embeddings table stops at 8k rows
    # past sf1, so the ANN family gains nothing from this decade);
    # the recursive-CTE keepset / clusters oracles give way to the
    # closure invariants
    "sf3": Decade(
        (
            "dedup_exact", "dedup_ngram_jaccard", "dedup_jaccard_prefix_filter",
            "dedup_minhash_lsh_pairs", "dedup_simhash_pairs",
            "substring_dedup_spans", "dedup_incremental_minhash",
            "dedup_edit_distance_pairs", "semantic_dedup_clusters_fixedk",
            "media_image_dhash_pairs", "media_audio_fingerprint_pairs",
            "media_video_clip_dhash_pairs", "wordcount", "sessionize_events",
            "pagerank_event_transitions", "triangles_planted_acceptance",
            "triangles_session_overlap_users",
            "near_dedup_keepset_tier_agreement",
            "near_dedup_keepset_mass_conservation",
            "near_dedup_keepset_planted_duplicates",
            "dedup_clusters_pair_closure",
        ),
        32,
        "24g",
    ),
    # the rows whose DuckDB oracle stays affordable at 30M corpus
    # tokens, plus the reference invariants
    "sf10": Decade(
        (
            "dedup_exact", "wordcount", "sessionize_events",
            "triangles_planted_acceptance", "media_image_dhash_pairs",
            "wordcount_closed_form", "prefix_pairs_vs_reference",
            "near_dedup_keepset_vs_reference", "dup_clusters_vs_reference",
            "minhash_lsh_recall_at_sf10", "simhash_recall_at_sf10",
            "per_doc_metrics_copy_consistent",
        ),
        64,
        "24g",
    ),
    # the manifest's WIDE rows cross-engine, plus the reference
    # invariants whose oracle stays tractable at 300 copies
    "sf30": Decade(
        tuple(sorted(WIDE))
        + (
            "wordcount_closed_form", "prefix_pairs_vs_reference",
            "near_dedup_keepset_vs_reference", "dup_clusters_vs_reference",
        ),
        64,
        "24g",
        EXCLUDED,
    ),
    # one row per family; 32 partitions put ~19M lineitem rows in each
    # join task here and 32 concurrent tasks OOM one local JVM (q5)
    "sf100": Decade(
        (
            "wordcount", "q1_pricing_summary", "q5_region_revenue",
            "q18_large_order_customers", "dedup_exact",
            "asof_join_purchase_signup", "rollup_orders",
            "date_functions_orders", "dataset_split_counts",
            "funnel_signup_view_purchase", "embedding_cosine_topk",
            "embedding_ivf_topk", "media_image_dhash_pairs",
        ),
        256,
        "48g",
    ),
}


def _oracle_row(spark, con, name: str, data_dir: str, rec: dict) -> None:
    t0 = time.perf_counter()
    sdf = QUERIES[name](spark, data_dir)
    spdf = sdf.toPandas()
    rec["spark_sec"] = round(time.perf_counter() - t0, 3)
    rec["spark_rows"] = len(spdf)
    t0 = time.perf_counter()
    rel = con.sql(ORACLES[name])
    ddf = rel.df()
    rec["oracle_sec"] = round(time.perf_counter() - t0, 3)
    rec["oracle_rows"] = len(ddf)
    assert_types_match(name, sdf.dtypes, rel.columns, rel.types)
    assert_frames_match(name, spdf, ddf)


def run_row(spark, con, name: str, data_dir: str) -> dict:
    rec: dict = {"hash_match": False, "err": None}
    try:
        if name in INVARIANTS:
            t0 = time.perf_counter()
            ok, rec["checks"] = INVARIANTS[name].fn(spark, data_dir)
            rec["spark_sec"] = round(time.perf_counter() - t0, 3)
            rec["hash_match"] = bool(ok)
        else:
            _oracle_row(spark, con, name, data_dir, rec)
            rec["hash_match"] = True
    except Exception as exc:  # noqa: BLE001
        rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
    # drop per-row persists (dedup indexes, edge sets) before the next
    # row — 255 rows would otherwise accumulate cache
    spark.catalog.clearCache()
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("decade", choices=DECADES)
    ap.add_argument("data_dir")
    ap.add_argument("--out", required=True)
    ap.add_argument("--only", default="", help="comma-separated rows to re-run")
    args = ap.parse_args()
    decade = DECADES[args.decade]

    only = [n.strip() for n in args.only.split(",") if n.strip()]
    unknown = sorted(set(only) - set(decade.rows))
    if unknown:
        print(f"not {args.decade} rows: {unknown}", file=sys.stderr)
        return 2
    to_run = only or list(decade.rows)

    from mapreducewordoccurences_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    extra_conf = {}
    if decade.driver_mem:
        extra_conf = {
            "spark.driver.memory": decade.driver_mem,
            "spark.driver.maxResultSize": "8g",
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        }
    spark = get_spark(
        f"sweep-{args.decade}",
        master=f"local[{cpus}]",
        shuffle_partitions=decade.shuffle_partitions,
        extra_conf=extra_conf,
    )
    con = duckdb.connect()
    if decade.driver_mem:
        con.sql("SET memory_limit='40GB'")
    for table in TABLES:
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM '{args.data_dir}/{table}.parquet'"
        )

    results: dict[str, dict] = {}
    if only and os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)["queries"]
    for name in to_run:
        rec = run_row(spark, con, name, args.data_dir)
        results[name] = rec
        timing = f"spark {rec.get('spark_sec')}s"
        if "oracle_sec" in rec:
            timing += f", duck {rec['oracle_sec']}s"
        print(
            f"{name}: {'green' if rec['hash_match'] else 'FAIL'} ({timing}) "
            f"{rec['err'] or rec.get('checks') or ''}",
            file=sys.stderr,
            flush=True,
        )

    n_green = sum(1 for r in results.values() if r["hash_match"])
    summary = {
        "decade": args.decade,
        "sf_dir": args.data_dir,
        "n_checked": len(results),
        "n_green": n_green,
        "n_fail": len(results) - n_green,
    }
    artifact: dict = {"summary": summary, "queries": results}
    if decade.excluded:
        summary["n_excluded"] = len(decade.excluded)
        artifact["excluded"] = dict(sorted(decade.excluded.items()))
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    return 0 if summary["n_fail"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
