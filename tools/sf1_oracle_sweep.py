"""sf1 oracle sweep: the heaviest catalog queries verified against
DuckDB at ONE DECADE past the driver's correctness scale.

The driver gates correctness at sf0.01 and the scaling probe times
(but does not verify) sf1 — so a scale-dependent wrong answer
(int overflow, skew-dependent tie-break, cap that silently starts
binding) would go unnoticed. This tool closes that gap (VERDICT r6
ask #5): run the ~25 heaviest / most scale-sensitive queries at
``.localdata/sf1`` (tools/gen_sf1.py) with the same three-gate
compare as the driver (rows, schema, order-insensitive values) and
write ``artifacts/CORRECTNESS_sf1_r{N}.json``.

The EXCLUDE set is EMPTY as of round 9 — every r8 exclusion was
closed rather than carried:

- ``semantic_dedup_clusters``: its oracle now derives k from the data
  with the same GREATEST(8, n // 150) rule the engine runs (k=53 at
  sf1) instead of pinning the k the rule yields at driver scale.
- the six streaming rows: wordcount parity's complete-mode memory
  sink became a foreachBatch parquet sink + one-row digest, and
  measuring the other five showed 3-8 s each at sf1 with 1-15k-row
  results — the old "materialization dominates" rationale did not
  survive measurement.
- the two triangle rows (VERDICT r8 ask #4):
  ``triangles_session_overlap_users`` computes over a deterministic
  ≈600-user panel, wedge-feasible on both engines at any sf; the
  exact-anchored ``triangles_approx_session_graph`` row was retired
  outright, superseded by ``triangles_planted_acceptance``'s
  closed-form planted truth.
- ``semantic_dedup_recall_audit``: now audits a deterministic
  ≈500-vector panel (its own docstring always said the O(n²) exact
  denominator belongs on a sampled slice) — constant ~6 s at every
  sf through sf3.

The empty set stays in the code path so a future row with a genuine
sf1-infeasibility has a documented place to live — with a written
reason, like every entry above had.

Round 8 (VERDICT r7 ask #5): the sweep now runs the FULL catalog
minus a documented exclusion set, instead of a 27-name curated core —
scale-dependent wrong answers (overflow, tie-breaks, caps that start
binding) hide in the long tail. It also applies the same engine-level
type-class gate as the sf0.01 sweep (Spark double vs oracle bigint =
FAIL), mirroring the driver's type-sensitive value hash.

Usage: python tools/sf1_oracle_sweep.py [round] [sf_dir] [out_path]
       SPARK_GRAFT_SWEEP_ONLY=q1,q2 ... — re-run just those queries
       and merge into an existing out_path (post-fix partial re-sweep;
       the summary is recomputed over the merged record set).
       SPARK_GRAFT_SWEEP_SHUFFLE_PARTITIONS / SPARK_GRAFT_SWEEP_DRIVER_MEM
       — scale the session to the decade being swept. The defaults
       (32 / 24g) are sized for sf1-sf30; at sf100 a 32-partition
       shuffle puts ~19M lineitem rows in every join task and 32
       concurrent tasks OOM the single local JVM (first observed on
       q5 at sf100). 256 partitions / 48g is the proven sf100 shape —
       the same partitions-sized-to-data rule a real cluster follows.
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

# rows excluded at sf1 only (each would need a written reason and
# would remain gated at sf0.01 by the full sweep / driver) — EMPTY
# since r9, see the module docstring for how each entry was closed
EXCLUDE: set[str] = set()


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_ROUND", "7")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".localdata/sf1"
    out_path = (
        sys.argv[3] if len(sys.argv) > 3 else f"artifacts/CORRECTNESS_sf1_r{int(rnd):02d}.json"
    )

    from mapreducewordoccurences_spark.queries import ORACLES, QUERIES
    from mapreducewordoccurences_spark.session import get_spark

    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    wide_manifest = "sf30" in out_path or "sf30" in sf_dir
    if only:
        to_run = [q.strip() for q in only.split(",") if q.strip()]
    elif wide_manifest:
        # sf30-wide: run exactly the manifest's WIDE set; the artifact
        # embeds the per-row exclusion reasons (VERDICT r10 ask #5 —
        # no silent curation; tests/test_sf30_manifest.py asserts the
        # manifest covers the catalog exactly)
        from tools.sf30_manifest import WIDE  # noqa: PLC0415

        to_run = sorted(WIDE)
    else:
        to_run = sorted(n for n in QUERIES if n in ORACLES and n not in EXCLUDE)
    missing = [n for n in to_run if n not in QUERIES or n not in ORACLES]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    # same memory headroom the scaling probe uses at sf1 (pair-emitting
    # dedup queries materialize millions of rows in one driver JVM)
    spark = get_spark(
        "sf1-sweep",
        master="local[32]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SWEEP_SHUFFLE_PARTITIONS") or "32"
        ),
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_SWEEP_DRIVER_MEM"
            )
            or "24g",
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
            # the compare COLLECTS both sides; at sf30 the biggest
            # row (sessionize: ~28M sessions) serializes past the 1g
            # default and fails the row spuriously (r10 finding)
            "spark.driver.maxResultSize": "8g",
        },
    )
    con = duckdb.connect()
    # DuckDB defaults to ~80% of RAM; uncapped it co-OOMs with the
    # 24g Spark driver on the heavy pair oracles (r7 sweep was
    # OOM-killed at 112 GB RSS). Cap it well under the headroom.
    con.sql("SET memory_limit='40GB'")
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    results: dict[str, dict] = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("queries", {})
    for name in to_run:
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "spark_sec": None,
            "oracle_sec": None,
            "err": None,
        }
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
            rec["rows_match"] = len(spdf) == len(ddf)
            bad_types = dtype_mismatches(spark_dtypes, oracle_cols, oracle_types)
            if bad_types:
                rec["dtype_mismatches"] = bad_types
            rec["schema_match"] = (
                sorted(spdf.columns) == sorted(ddf.columns) and not bad_types
            )
            rec["hash_match"] = (
                rec["rows_match"] and rec["schema_match"] and values_match(spdf, ddf)
            )
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        # drop per-query persists (dedup indexes, edge sets) before the
        # next entry — 220+ queries would otherwise accumulate cache
        spark.catalog.clearCache()
        results[name] = rec
        print(f"{name}: {'green' if rec['hash_match'] else 'FAIL'} "
              f"(spark {rec['spark_sec']}s, duck {rec['oracle_sec']}s)",
              file=sys.stderr)

    n_green = sum(1 for r in results.values() if r.get("hash_match"))
    n_fail = len(results) - n_green
    summary = {
        "sf_dir": sf_dir,
        "n_checked": len(results),
        "n_green": n_green,
        "n_fail": n_fail,
    }
    artifact: dict = {"summary": summary, "queries": results}
    if wide_manifest:
        from tools.sf30_manifest import EXCLUDED  # noqa: PLC0415

        artifact["excluded"] = dict(sorted(EXCLUDED.items()))
        summary["n_excluded"] = len(EXCLUDED)
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
