"""Planted-skew probe: MEASURE the skew mitigations SCALE.md argues.

Builds a pathologically skewed key on the sf10 events table (~10M
rows; a deterministic 80% of all rows remapped to key 0, the rest
keep their ~150k distinct user ids) and times:

1. **Aggregation, algebraic (sum/count)** — naive groupBy vs
   `salted_agg` (operators/skew.py). EXPECTED RESULT: a wash. Spark's
   partial→final HashAggregate pre-combines the hot key map-side, so
   the reducer sees at most one partial row per (key, map task) and
   salting buys nothing. This is the honest negative control — the
   repo's own SCALE.md claims algebraic aggs are skew-immune by plan
   shape, and this probe is the measurement behind the claim.

2. **Shuffle join against a non-broadcastable dim** — the real skew
   victim. Four variants, identical results (digest-asserted):
   - naive sort-merge join, AQE OFF: the hot key's ~5M rows land in
     ONE reducer task — the straggler baseline;
   - naive join, AQE ON with skewJoin: the runtime splits the
     oversized partition (spark.sql.adaptive.skewJoin);
   - `salted_join` (salt left × replicate right), AQE OFF: the manual
     mitigation for engines/versions without AQE;
   - broadcast hint: the trivial fix whenever the dim fits (control).

All variants are forced through a full execution by a one-row digest
aggregate (count + two sums) collected at the driver; digests must
agree across variants or the probe exits nonzero — a mitigation that
changes answers is worse than a straggler. Timing: one warm-up, then
best of 2 per variant.

Writes artifacts/SKEW_r{NN}.json. Local[32] caveat: a single-box "straggler" is
one busy thread while 31 idle, so the naive-vs-mitigated gap here is
a LOWER bound on the cluster-scale gap (where the straggler also
serializes a network shuffle partition).

Usage: python tools/skew_probe.py [round] [sf_dir]
       (defaults: $SPARK_GRAFT_ROUND; .localdata/sf10)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_ROUND", "9"
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".localdata/sf10"
    out_path = f"artifacts/SKEW_r{int(rnd):02d}.json"

    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.operators.skew import (
        key_skew_stats,
        salted_agg,
        salted_join,
    )
    from mapreducewordoccurences_spark.session import get_spark
    from mapreducewordoccurences_spark.sources.readers import load_table

    spark = get_spark(
        "skew-probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "24g"},
    )

    events = load_table(spark, sf_dir, "events")
    # deterministic planted skew: 80% of all rows -> key 0 (one
    # reducer-partition's load is ~50x the rest combined — visible
    # even on a single-box shuffle). Values carried as DECIMAL so
    # every digest is order-independent and variants compare EXACTLY.
    skewed = events.select(
        F.when(F.pmod(F.xxhash64("event_id"), F.lit(5)) < 4, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.col("value").cast("decimal(20,6)").alias("value"),
    ).persist()
    n_rows = skewed.count()  # materialize so variants time compute, not scan

    stats = key_skew_stats(skewed, ["k"], top_n=3).collect()
    hot = stats[0].asDict()

    # The dim is materialized to a PLAIN local DataFrame rather than
    # persisted: a cached dim carries its hashpartitioning through the
    # cache, the join side then has no ShuffleQueryStage, and AQE's
    # OptimizeSkewedJoin — which needs BOTH children to be shuffle
    # stages it can split/duplicate — silently never fires. (Found by
    # this probe's first run: skewJoin showed zero effect until the
    # cache was removed. On a real cluster: caching a dim aligned to
    # the join key can DISABLE the skew mitigation — worth knowing.)
    dim_rows = (
        skewed.select("k")
        .distinct()
        .withColumn(
            "weight",
            (F.pmod(F.col("k"), F.lit(97)) + 1).cast("decimal(20,6)"),
        )
        .collect()
    )
    dim = spark.createDataFrame(dim_rows, "k long, weight decimal(20,6)")
    n_dim = len(dim_rows)

    def digest(df, val_col: str, wcol: str):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(val_col).alias("sv"),
            F.sum(wcol).alias("sw"),
        ).collect()[0]
        return (int(row["n"]), str(row["sv"]), str(row["sw"]))

    def timed(fn, reps: int = 2):
        fn()  # warm-up
        best, result = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            result = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3), result

    def set_conf(aqe: bool, broadcast: bool):
        c = spark.conf
        c.set("spark.sql.adaptive.enabled", str(aqe).lower())
        c.set("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
        # The DEFAULT skew threshold (256MB) is sized for multi-GB
        # cluster partitions; this probe's hot partition compresses to
        # ~240MB and silently stays "not skewed" under it — the first
        # probe run measured ZERO AQE effect for exactly that reason.
        # Production lesson: the threshold is relative to your
        # advisory partition size, not an absolute you can ignore.
        c.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64MB",
        )
        c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")
        c.set(
            "spark.sql.autoBroadcastJoinThreshold",
            "10485760" if broadcast else "-1",
        )

    results: dict[str, dict] = {}

    # -- probe 1: algebraic aggregation (expected wash) ------------------
    set_conf(aqe=False, broadcast=False)

    def agg_naive():
        out = skewed.groupBy("k").agg(
            F.sum("value").alias("sv"), F.count(F.lit(1)).alias("n")
        )
        r = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("sv").alias("sv"),
            F.sum("n").alias("sw"),
        ).collect()[0]
        return (int(r["n"]), str(r["sv"]), str(r["sw"]))

    def agg_salted():
        out = salted_agg(
            skewed, ["k"],
            {"sv": ("value", "sum"), "n": ("value", "count")},
            n_salts=32,
        )
        r = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("sv").alias("sv"),
            F.sum("n").alias("sw"),
        ).collect()[0]
        return (int(r["n"]), str(r["sv"]), str(r["sw"]))

    sec, d1 = timed(agg_naive)
    results["agg_naive_mapside_combine"] = {"sec": sec, "digest": d1}
    sec, d2 = timed(agg_salted)
    results["agg_salted_two_stage"] = {"sec": sec, "digest": d2}

    # -- probe 2: shuffle join against the dim ---------------------------
    def join_digest():
        return digest(skewed.join(dim, "k"), "value", "weight")

    set_conf(aqe=False, broadcast=False)
    sec, dj1 = timed(join_digest)
    results["join_naive_aqe_off"] = {"sec": sec, "digest": dj1}

    set_conf(aqe=True, broadcast=False)
    sec, dj2 = timed(join_digest)
    results["join_naive_aqe_skewjoin"] = {"sec": sec, "digest": dj2}

    set_conf(aqe=False, broadcast=False)

    def join_salted():
        return digest(salted_join(skewed, dim, "k", n_salts=32), "value",
                      "weight")

    sec, dj3 = timed(join_salted)
    results["join_salted_32"] = {"sec": sec, "digest": dj3}

    set_conf(aqe=False, broadcast=True)

    def join_broadcast():
        return digest(skewed.join(F.broadcast(dim), "k"), "value", "weight")

    sec, dj4 = timed(join_broadcast)
    results["join_broadcast_dim"] = {"sec": sec, "digest": dj4}

    set_conf(aqe=True, broadcast=True)  # restore defaults

    agg_agree = d1 == d2
    join_agree = dj1 == dj2 == dj3 == dj4
    out = {
        "sf_dir": sf_dir,
        "n_rows": n_rows,
        "n_distinct_keys": n_dim,
        "hot_key": {
            "key": hot.get("k"),
            "rows": hot.get("n_rows") or hot.get("count"),
            "ratio_to_mean": hot.get("ratio_to_mean"),
        },
        "results": results,
        "digests_agree": {"agg": agg_agree, "join": join_agree},
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if agg_agree and join_agree else 1


if __name__ == "__main__":
    sys.exit(main())
