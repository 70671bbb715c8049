"""What each metric means: name -> meaning. Units, which direction is
better and the bounds are in ``BENCHMARK.json``.

``END_TO_END`` is what a user of the engine sees; every workload
reports every one of them in an untraced run. ``PER_LAYER`` comes
from the traced run. Per-layer values are per pass (one pass runs
each of the workload's operations once; on ``woc_corpus`` a pass is
one operation), taken as the median over the traced passes of a run,
unless the meaning says otherwise.

``MOVES`` records, before anything is optimised, which end-to-end
metric each layer metric should move and on which workload, so a later
change can name the pairing it claims. On every other pairing the
prediction is no change; in particular ``woc_corpus`` reads text, not
parquet, and truncates no lineage, so the ``sources`` and
``checkpointing`` metrics should not move it.
"""

from __future__ import annotations

END_TO_END: dict[str, str] = {
    "setup_s":
        "get_spark plus the warm-up action; median of 12 in-JVM rebuilds after the passes",
    "first_pass_s": "summed latency of the first pass, right after the JVM-launching set-up",
    "queries_per_s": "queries in a pass over the sum of their median warm latencies",
    "query_p50_s": "median of the per-query median warm latencies",
    "query_p90_s": "90th percentile of the per-query median warm latencies",
    "input_mb_per_s": "input MB of one pass over the sum of the median warm latencies",
    "peak_rss_mb": "peak RSS (VmHWM) of the Python driver plus its JVM",
}

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "get_spark, median of the 12 in-JVM rebuilds",
    "session.warmup_s": "warm-up action, median of the 12 in-JVM rebuilds",
    "session.cold_start_s": "first set-up of the run, which launches the JVM",
    "sources.load_table.calls": "load_table calls",
    "sources.load_table.s": "time inside load_table",
    "sources.load_table.jobs": "Spark jobs submitted inside load_table",
    "queries.build_s": "building the DataFrame, before its final action",
    "queries.build_self_s": "build time not covered by load_table or truncation",
    "queries.build_jobs": "Spark jobs submitted while building",
    "checkpointing.truncations": "localCheckpoint/checkpoint calls",
    "checkpointing.truncate_s": "time inside localCheckpoint/checkpoint",
    "catalyst.analysis_ms": "analysis of the final DataFrame, paid while building it",
    "catalyst.optimization_ms":
        "optimization in the execution the final action ran (catalog: the noop write)",
    "catalyst.planning_ms":
        "physical planning in the execution the final action ran (catalog: the noop write)",
    "spark.jobs": "jobs in the operations' job groups",
    "spark.stages": "completed stages of those jobs",
    "spark.tasks": "completed tasks of those stages",
    "spark.job_idle_s": "operation wall time during which none of its jobs ran",
    "spark.executor_run_s": "summed task run time",
    "spark.busy_frac": "executor run time over (operation wall x cores)",
    "spark.shuffle_write_bytes": "shuffle bytes written",
    "spark.shuffle_read_bytes": "shuffle bytes read",
    "spark.spill_bytes": "bytes spilled to disk",
    "spark.replication_rate": "shuffle bytes written over input bytes read",
    "woc.first_row_s": "woc_corpus: operation start to the first delivered line",
    "woc.deliver_s": "woc_corpus: first delivered line to the last",
    "woc.distinct_words": "woc_corpus: lines delivered",
    "core.wordcount.combine_ratio":
        "woc_corpus: shuffle records written by the input-scanning stage over words generated",
    "ops.attempted": "timed operations in the run, first pass included",
    "ops.failed": "operations that raised or returned a wrong result",
    "trace.untraced_queries_per_s": "queries_per_s of the run's untraced passes",
    "trace.traced_queries_per_s": "queries_per_s of the run's traced passes",
    "trace.overhead_frac": "1 - traced / untraced queries_per_s",
}

# layer metric -> [(end-to-end metric, workload it should move on)];
# a layer metric should leave every other pairing unchanged
MOVES: dict[str, list[tuple[str, str]]] = {
    "session.get_spark_s": [("setup_s", "*")],
    "session.warmup_s": [("setup_s", "*")],
    "session.cold_start_s": [],
    # the short queries set the catalog median; each load_table fires a
    # schema-inference job
    "sources.load_table.calls": [("query_p50_s", "catalog")],
    "sources.load_table.s": [("query_p50_s", "catalog")],
    "sources.load_table.jobs": [("query_p50_s", "catalog")],
    # build-time jobs of the iterative queries dominate a catalog pass
    "queries.build_s": [("queries_per_s", "catalog")],
    "queries.build_self_s": [("queries_per_s", "catalog")],
    "queries.build_jobs": [("queries_per_s", "catalog")],
    "checkpointing.truncations": [("queries_per_s", "catalog")],
    "checkpointing.truncate_s": [("queries_per_s", "catalog")],
    "catalyst.analysis_ms": [("query_p50_s", "catalog")],
    "catalyst.optimization_ms": [("query_p50_s", "catalog")],
    "catalyst.planning_ms": [("query_p50_s", "catalog")],
    "spark.jobs": [("queries_per_s", "catalog"), ("query_p50_s", "catalog")],
    "spark.stages": [("queries_per_s", "catalog"), ("query_p50_s", "catalog")],
    "spark.tasks": [("queries_per_s", "catalog"), ("query_p50_s", "catalog")],
    "spark.job_idle_s": [("queries_per_s", "catalog"), ("query_p50_s", "catalog")],
    "spark.executor_run_s": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "spark.busy_frac": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "spark.shuffle_write_bytes": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "spark.shuffle_read_bytes": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "spark.spill_bytes": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "spark.replication_rate": [("input_mb_per_s", "woc_corpus"), ("query_p90_s", "catalog")],
    "woc.first_row_s": [("input_mb_per_s", "woc_corpus")],
    "woc.deliver_s": [("input_mb_per_s", "woc_corpus")],
    "woc.distinct_words": [("input_mb_per_s", "woc_corpus")],
    "core.wordcount.combine_ratio": [("input_mb_per_s", "woc_corpus")],
    "ops.attempted": [],
    "ops.failed": [],
    "trace.untraced_queries_per_s": [],
    "trace.traced_queries_per_s": [],
    "trace.overhead_frac": [],
}
