"""SparkSession factory.

Replaces the reference CLI's ``num_threads`` knob (reference
src/main.c:53-70): Spark owns parallelism via input splits and shuffle
partitions, so the knob becomes optional tuning rather than a required
argument.

Defaults are chosen for the 100 TB design point:
- AQE on (runtime coalescing, skew-join splitting, join re-planning)
- Arrow on (vectorized Python interop for the pandas-UDF operators)
- UTC session timezone (deterministic timestamp semantics)
- 2 MiB file open cost (``spark.sql.files.openCostInBytes``; Spark's
  default is 4 MiB). Spark sizes file splits as
  ``min(maxPartitionBytes, max(openCostInBytes, bytes / cores))``, so
  the open cost is a floor on the split size: at 4 MiB an 8.8 MB text
  file scans as 4+4+0.8 MB splits and leaves one of 4 cores idle; at
  2 MiB it scans as four splits of at most 2.7 MB. Inputs split at 128 MB
  (``maxPartitionBytes``) are unaffected, and a single file under
  2 MiB stays one split. Only the session conf is honoured: the
  per-read ``maxPartitionBytes``/``openCostInBytes`` options are
  ignored by ``spark.read`` on Spark 4.1.

Skew: AQE's skew-join split is ON here but its 256MB
``skewedPartitionThresholdInBytes`` default can silently not fire
(the planted-skew probe's ~240MB hot partition measured ZERO AQE
effect — SKEW_r09.json). For skew-heavy jobs pass
``extra_conf=operators.skew.skew_safe_confs()``, which pins the
threshold to 4x the advisory partition size and documents the two
non-conf lessons (never persist a dim aligned to the join key;
algebraic aggs don't need salting). Not folded into _DEFAULTS:
retuning advisory sizes globally would reshape every query's AQE
coalescing, and the right advisory size is job- and scale-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # propagate the numpy THP opt-out (see package __init__) to
    # executor-side Python workers on real clusters, where the driver
    # process env is not inherited; local mode inherits it anyway
    "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE": os.environ.get(
        "NUMPY_MADVISE_HUGEPAGE",
        "1" if os.environ.get("SPARK_GRAFT_NUMPY_HUGEPAGE") == "1" else "0",
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small-dim broadcast: region/nation/supplier-class tables stay well
    # under this even at SF large; customer/orders never should be hinted.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": "128m",
    # split-size floor; see the module docstring
    "spark.sql.files.openCostInBytes": str(2 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Push MIN/MAX/COUNT aggregates down to parquet/ORC footer statistics
    # when no filter intervenes: a full-table count/min/max becomes a
    # metadata-only scan instead of a 100 TB read.
    "spark.sql.parquet.aggregatePushDown": "true",
    "spark.sql.orc.aggregatePushDown": "true",
    # Let Python DataSources (sources/pydatasource.py) receive
    # pushFilters() — off by default in Spark 4; required for the
    # synthetic_corpus source to prune generation to the filtered range.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "mapreducewordoccurences-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch the active) SparkSession with engine defaults.

    ``shuffle_partitions`` should be sized so post-shuffle partitions fit
    executor memory at the target scale; AQE coalesces down at runtime,
    so erring high is safe.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
