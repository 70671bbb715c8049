"""Per-operation job ledger for the traced run.

Each operation runs under its own Spark job group. After it finishes,
the ledger reads the group's job ids from ``statusTracker`` and the
jobs and stages themselves from the Spark driver's REST status API, which
serves the numbers the Spark UI shows. Jobs fired from the program's
helper threads carry the group too: ``_run_concurrent_jobs`` starts
them with ``inheritable_thread_target``.

While an operation runs, a ``QueryExecutionListener`` registered through
the py4j callback server receives every SQL execution that finishes,
with the ``QueryExecution`` that ran it, so the Catalyst phases of the
operation's final action can be read from the execution that action
actually planned. A ``noop`` write, for one, plans a command of its
own, not the DataFrame's ``queryExecution()``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime

from perfbench.spans import covered

# how long to wait for the status store to record a finished job
JOBS_TIMEOUT_S = 10.0
PHASES = ("analysis", "optimization", "planning")


def parse_spark_time(text: str) -> float:
    """Epoch seconds from a REST timestamp such as
    ``2026-10-16T23:48:13.512GMT``."""
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def phase_ms(qe) -> dict[str, float]:
    """Catalyst phase durations recorded by a JVM ``QueryExecution``;
    a phase it has not run is 0."""
    phases = qe.tracker().phases()
    return {p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
            for p in PHASES}


class ExecutionListener:
    """Phase times of each SQL execution that finished, with the
    wall-clock time at which the listener heard of it."""

    def __init__(self) -> None:
        self.executions: list[tuple[float, dict[str, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - JVM interface
        self.executions.append((time.time(), phase_ms(qe)))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - JVM interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Ledger:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        ensure_callback_server_started(self.sc._gateway)
        self.listeners = spark._jsparkSession.listenerManager()
        self.listener = ExecutionListener()
        # py4j wraps a Python object in a new JVM proxy each time it is
        # passed, and unregister matches by identity: keep one proxy
        holder = self.sc._jvm.java.util.ArrayList()
        holder.add(self.listener)
        self._proxy = holder.get(0)

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def begin(self, group: str) -> None:
        self.listener.executions.clear()
        self.listeners.register(self._proxy)
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        """Close the operation once every listener has seen its events."""
        self.sc._jsc.clearJobGroup()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.listeners.unregister(self._proxy)

    def jobs(self, group: str) -> list[dict]:
        """The group's jobs once the status store has recorded all of
        them as finished."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + JOBS_TIMEOUT_S
        while True:
            mine = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            done = {j["jobId"] for j in mine if j["status"] != "RUNNING" and "completionTime" in j}
            if want <= done or time.monotonic() > deadline:
                return mine
            time.sleep(0.05)

    def collect(self, group: str, start: float, end: float) -> dict:
        """Counts, bytes and times of the operation that ran in
        ``group`` over the wall-clock interval [start, end]."""
        jobs = self.jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete") if s["stageId"] in stage_ids]
        intervals = [
            (parse_spark_time(j["submissionTime"]), parse_spark_time(j["completionTime"]))
            for j in jobs if "completionTime" in j
        ]
        return {
            "jobs": len(jobs),
            "job_submit_times": sorted(parse_spark_time(j["submissionTime"]) for j in jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "job_idle_s": (end - start) - covered(start, end, intervals),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            # the stages that scan the input: on woc_corpus, the map side
            # of the aggregation exchange, whose output map-side combining
            # shrinks
            "scan_shuffle_write_records": sum(
                s["shuffleWriteRecords"] for s in stages if s["inputBytes"] > 0
            ),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
        }
