"""Run one workload of the engine benchmark and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run

1. writes the workload's inputs under ``.perfbench/`` (not timed);
2. sets up a Spark session (``get_spark`` plus a warm-up action),
   which launches the JVM (``session.cold_start_s``);
3. runs one pass of the workload (``first_pass_s``), then whole passes
   back to back until ``--seconds`` have passed and at least
   ``MIN_WARM_PASSES`` have run;
4. checks every operation's output;
5. stops the session and sets it up again in the same JVM
   ``WARM_SETUPS`` times; ``setup_s`` is the median of these set-ups,
   which the JVM's warm-up before them keeps from trending;
6. prints a context line, then as the last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``, each with its unit from ``BENCHMARK.json``.

With ``--trace 1`` the warm passes alternate between traced and
untraced, traced first. A traced pass runs each operation under its own
job group with the span wrappers installed; the spans are written to
``.perfbench/`` when the run ends. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WARM_SETUPS = 12
# Warm passes keep getting faster as the JVM compiles the hot paths, so
# a run that fits one more pass in ``--seconds`` would read faster for
# that reason alone. Every run measures at least this many, which on
# ``catalog`` (8-12 s a pass on 4 cores) is more than ``--seconds``, so
# the number of passes does not depend on the host's speed. A traced
# run measures one more, so that its untraced pass (the odd one) sits
# between two traced ones in JVM warmth.
MIN_WARM_PASSES = 2
# stop starting passes once the process has run this long, so a run on
# a slow host still ends within about three minutes
MAX_PROCESS_S = 110.0

if sys.path[0] != ROOT:
    sys.path.insert(0, ROOT)


@dataclass
class OpRecord:
    name: str
    pass_index: int
    seconds: float
    error: str | None = None
    traced: bool = False
    layer: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None


def run_pass(wl, spark, pass_index: int, names: list[str], tracer=None) -> list[tuple]:
    """One pass: each named operation once, in order. A failing
    operation is recorded and the pass goes on. Returns
    (record, DataFrame or None) per operation."""
    out = []
    for name in names:
        rec = OpRecord(name, pass_index, 0.0, traced=tracer is not None)
        span = tracer.recorder.span if tracer else (lambda _name: contextlib.nullcontext())
        df = output = None
        if tracer:
            tracer.begin(f"p{pass_index}-{name}")
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            with span("op"):
                with span("queries.build"):
                    df = wl.build(spark, name)
                with span(wl.action_span):
                    output = wl.execute(df)
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            rec.error = f"{type(exc).__name__}: {exc}"[:300]
        rec.seconds = time.perf_counter() - t0
        if tracer:
            tracer.end()
            if rec.ok:
                rec.layer = tracer.layer(df, t_wall, t_wall + rec.seconds)
                rec.layer.update(wl.layer_extras(t0, rec.seconds, output))
        if rec.ok:
            rec.error = wl.check_op(name, output)
        wl.after_op(spark)
        out.append((rec, df))
    return out


def closed_loop(do_pass, seconds: float, deadline: float, min_passes: int = 1) -> list[tuple]:
    """Whole passes back to back until ``seconds`` have elapsed and at
    least ``min_passes`` ran, or the process deadline is reached."""
    results = []
    start = time.perf_counter()
    i = 0
    while True:
        results += do_pass(i)
        i += 1
        done = time.perf_counter() - start >= seconds and i >= min_passes
        if done or time.monotonic() >= deadline:
            return results


def tally(records: list[OpRecord], verdicts: dict[str, str | None]) -> tuple[int, int]:
    """(attempted, failed). An operation fails when it raised or its
    output was wrong; a query whose once-per-run check failed makes
    every operation of that query wrong."""
    failed = sum(1 for r in records if not r.ok or verdicts.get(r.name))
    return len(records), failed


def percentile(values: list[float], q: int) -> float:
    """q-th percentile, linear between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def query_medians(records: list[OpRecord]) -> dict[str, float]:
    """Each query's median latency over its successful operations."""
    by_name: dict[str, list[float]] = {}
    for r in records:
        if r.ok:
            by_name.setdefault(r.name, []).append(r.seconds)
    return {name: statistics.median(v) for name, v in by_name.items()}


def end_to_end(wl, setups: list[float], first: list[OpRecord], warm: list[OpRecord],
               rss_mb: float) -> dict[str, float]:
    """Warm latencies are summarised per query first: each query's
    median over the run's passes. Throughput is that of a median pass,
    and the percentiles are taken over the query medians, so one slow
    sample moves neither."""
    medians = query_medians(warm)
    pass_s = sum(medians.values())
    return {
        "setup_s": statistics.median(setups),
        "first_pass_s": sum(r.seconds for r in first),
        "queries_per_s": len(medians) / pass_s,
        "query_p50_s": statistics.median(medians.values()),
        "query_p90_s": percentile(list(medians.values()), 90),
        "input_mb_per_s": sum(wl.input_bytes(n) for n in medians) / 1e6 / pass_s,
        "peak_rss_mb": rss_mb,
    }


class Tracer:
    """Spans, boundary wrappers and the job ledger for traced passes."""

    def __init__(self, spark, action_span: str) -> None:
        from perfbench.ledger import Ledger
        from perfbench.spans import Patches, Recorder

        self.action_span = action_span
        self.recorder = Recorder()
        self.patches = Patches(self.recorder)
        self.ledger = Ledger(spark)

    def begin(self, op: str) -> None:
        self.recorder.op = op
        self.ledger.begin(op)
        self.patches.install()

    def end(self) -> None:
        self.patches.remove()
        self.ledger.end()

    def layer(self, df, start: float, end: float) -> dict:
        """Per-operation layer values, read after the operation ended."""
        from perfbench.spans import self_time, union_length

        op = self.recorder.op
        spans = [s for s in self.recorder.spans if s.op == op]
        led = self.ledger.collect(op, start, end)

        def within(name: str) -> tuple[int, float, int]:
            sel = [s for s in spans if s.name == name]
            # REST submission times are truncated to the millisecond
            jobs = sum(
                any(s.start - 0.001 <= t <= s.end for s in sel) for t in led["job_submit_times"]
            )
            return len(sel), union_length([(s.start, s.end) for s in sel]), jobs

        lt_calls, lt_s, lt_jobs = within("sources.load_table")
        tr_calls, tr_s, _ = within("checkpointing.truncate")
        _, build_s, build_jobs = within("queries.build")
        build = next(s for s in spans if s.name == "queries.build")
        # Analysis runs when the final DataFrame is built. Optimization
        # and planning belong to the execution the action ran: the last
        # one reported after the action started (a noop write plans a
        # command of its own) or, when the action reported none, the
        # DataFrame's own (toLocalIterator runs it without a report).
        from perfbench.ledger import phase_ms

        action = next(s for s in spans if s.name == self.action_span)
        own = phase_ms(df._jdf.queryExecution())
        ran = [p for t, p in self.ledger.listener.executions if t >= action.start]
        planned = ran[-1] if ran else own
        return {
            "sources.load_table.calls": lt_calls,
            "sources.load_table.s": lt_s,
            "sources.load_table.jobs": lt_jobs,
            "queries.build_s": build_s,
            "queries.build_self_s": self_time(build, spans),
            "queries.build_jobs": build_jobs,
            "checkpointing.truncations": tr_calls,
            "checkpointing.truncate_s": tr_s,
            "catalyst.analysis_ms": own["analysis"],
            "catalyst.optimization_ms": planned["optimization"],
            "catalyst.planning_ms": planned["planning"],
            "spark.jobs": led["jobs"],
            "spark.stages": led["stages"],
            "spark.tasks": led["tasks"],
            "spark.job_idle_s": led["job_idle_s"],
            "spark.executor_run_s": led["executor_run_s"],
            "spark.shuffle_write_bytes": led["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": led["shuffle_read_bytes"],
            "spark.spill_bytes": led["spill_bytes"],
            "_input_bytes": led["input_bytes"],
            "_scan_shuffle_write_records": led["scan_shuffle_write_records"],
            "_wall_s": end - start,
        }


def per_layer(cores: int, cold: tuple[float, float], setups: list[tuple[float, float]],
              warm: list[OpRecord], attempted: int, failed: int) -> dict[str, float]:
    """Per-pass sums over traced passes, median over those passes."""
    passes: dict[int, list[OpRecord]] = {}
    for r in warm:
        if r.traced and r.ok:
            passes.setdefault(r.pass_index, []).append(r)
    sums = []
    for recs in passes.values():
        s: dict[str, float] = {}
        for r in recs:
            for k, v in r.layer.items():
                s[k] = s.get(k, 0) + v
        s["spark.busy_frac"] = s["spark.executor_run_s"] / (s["_wall_s"] * cores)
        s["spark.replication_rate"] = s["spark.shuffle_write_bytes"] / max(1, s["_input_bytes"])
        s["core.wordcount.combine_ratio"] = (
            s["_scan_shuffle_write_records"] / s["_words_generated"]
            if s["_words_generated"] else 0.0
        )
        sums.append(s)
    out = {k: statistics.median(s[k] for s in sums) for k in sums[0] if not k.startswith("_")}
    untraced = query_medians([r for r in warm if not r.traced])
    traced = query_medians([r for r in warm if r.traced])
    u_qps = len(untraced) / sum(untraced.values())
    t_qps = len(traced) / sum(traced.values())
    out.update({
        "session.get_spark_s": statistics.median(g for g, _ in setups),
        "session.warmup_s": statistics.median(w for _, w in setups),
        "session.cold_start_s": sum(cold),
        "ops.attempted": attempted,
        "ops.failed": failed,
        "trace.untraced_queries_per_s": u_qps,
        "trace.traced_queries_per_s": t_qps,
        "trace.overhead_frac": 1 - t_qps / u_qps,
    })
    return out


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("spark-local", "tmp", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # hsperfdata would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )


def _import_program() -> None:
    """The engine package of this checkout; refuse an installed copy."""
    import mapreducewordoccurences_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {pkg.__file__}, not from {ROOT}")


def _setup(master: str) -> tuple:
    from mapreducewordoccurences_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, (t1 - t0, time.perf_counter() - t1)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the first set-up launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + MAX_PROCESS_S

    _import_program()
    from perfbench import host, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}

    _prepare_env()
    wl = workloads.make(args.workload, ROOT, WORK, args.seed)
    wl.prepare()
    cores = host.cpus()
    master = f"local[{cores}]"
    before = host.snapshot(None)

    setups = []
    spark = None
    try:
        spark, cold = _setup(master)
        jvm_pid = _jvm_pid()
        ctx = host.context(master, spark._jvm.System.getProperty("java.version"),
                           args.seed, wl.name, args.seconds, bool(args.trace))
        tracer = Tracer(spark, wl.action_span) if args.trace else None
        rng = random.Random(args.seed)

        first = run_pass(wl, spark, -1, workloads.pass_order(wl.op_names(), rng))

        def do_pass(i: int) -> list[tuple]:
            traced = tracer if (tracer and i % 2 == 0) else None
            return run_pass(wl, spark, i, workloads.pass_order(wl.op_names(), rng), traced)

        warm = closed_loop(do_pass, args.seconds, deadline,
                           min_passes=MIN_WARM_PASSES + (1 if tracer else 0))
        rss_kb = {"python": host.vm_hwm_kb("self"), "jvm": host.vm_hwm_kb(jvm_pid)}
        rss_mb = sum(rss_kb.values()) / 1024
        ctx["peak_rss_kb"] = rss_kb
        ctx["jvm_gc_s"] = host.jvm_gc_s(spark._jvm)
        verdicts = wl.check_all(spark, {r.name: df for r, df in first if r.ok})
        records = [r for r, _ in first] + [r for r, _ in warm]
        attempted, failed = tally(records, verdicts)
        for _ in range(WARM_SETUPS):
            spark.stop()
            spark, times = _setup(master)
            setups.append(times)

        warm_recs = [r for r, _ in warm]
        if args.trace:
            metrics = per_layer(cores, cold, setups, warm_recs, attempted, failed)
            tracer.recorder.write(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(wl, [g + w for g, w in setups], [r for r, _ in first],
                                 warm_recs, rss_mb)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        wl.cleanup()
    errors = {f"{r.name}: {r.error}" for r in records if r.error}
    errors |= {f"{k}: {v}" for k, v in verdicts.items() if v}
    ctx.update({"before": before, "after": host.snapshot(jvm_pid),
                "warm_ops": len(warm_recs), "errors": sorted(errors)})
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    with open(os.path.join(WORK, "results",
                           f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"context": ctx, "result": result, "cold_setup": cold, "setups": setups,
                   "latencies": [(r.name, r.pass_index, r.seconds) for r in records]}, f)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
