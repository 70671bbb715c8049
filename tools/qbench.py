"""Per-query dev harness for the optimization rounds: time individual
catalog queries (noop sink, warm best-of-N) and optionally dump their
``explain("formatted")`` plans.

Usage:
    python tools/qbench.py [-n RUNS] [--explain DIR] [--sf DIR] q1 q2 ...

Each query's plan is built on a cleared cache. Expression ids
(``#123``), exchange plan ids and RDD ids in the dumped plans are
renumbered in order of first appearance, so the dumps of two trees
compare with ``diff -r``.

Keeps the bench.py methodology (noop sink, clearCache between runs,
local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus) so numbers are
directly comparable with BENCH_local records, without paying for the
full 165-query sweep while iterating on one operator.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

# session-global counters that differ between two builds of one plan
_IDS = re.compile(r"(#|plan_id=|RDD\[)(\d+)")


def stable_ids(plan: str) -> str:
    """``plan`` with each id ``_IDS`` matches renumbered in order of
    first appearance."""
    seen: dict[tuple[str, str], int] = {}
    return _IDS.sub(lambda m: f"{m[1]}{seen.setdefault(m.groups(), len(seen))}", plan)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", "--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir to write <q>.txt plans")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mapreducewordoccurences_spark.queries import QUERIES
    from mapreducewordoccurences_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        "qbench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
            "spark.ui.enabled": "false",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    for name in args.queries:
        fn = QUERIES[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(stable_ids(plan))
            spark.catalog.clearCache()
        if args.runs <= 0:
            print(f"   plan-only  {name}", flush=True)
            continue
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"qbench:{name}")
            t = time.monotonic()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            samples.append(round(time.monotonic() - t, 3))
            spark.catalog.clearCache()
        print(f"{min(samples):8.3f}  {name}  samples={samples}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
