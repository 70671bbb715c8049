"""The benchmark's workloads.

Each workload names a list of operations. One pass runs every
operation once, in an order drawn from the seed; passes run back to
back as a closed loop with one client, so each operation starts when
the previous one has finished. An operation is ``build`` (construct
the DataFrame, including every job the program fires while doing so)
followed by ``execute`` (its final action); both are timed together.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time


def _run_module(root: str, *args: str) -> str:
    """Run one of the benchmark's generators in a child process, so its
    memory does not count in this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, "-m", *args], cwd=root, check=True, capture_output=True, text=True,
    )
    return out.stdout


class WocCorpus:
    """The reference's one query, delivered the way ``cli.main`` does:
    ``count_words_in_file`` -> ``format_kv_lines`` -> ``toLocalIterator``."""

    name = "woc_corpus"
    action_span = "woc.deliver"

    def __init__(self, root: str, work_dir: str, seed: int) -> None:
        self.root, self.seed = root, seed
        self.path = os.path.join(work_dir, f"corpus-{seed}.txt")
        self.first_row_at = 0.0

    def prepare(self) -> None:
        meta = json.loads(_run_module(self.root, "perfbench.corpus", self.path, str(self.seed)))
        self.n_words = meta["n_words"]
        self.n_bytes = meta["n_bytes"]
        with open(self.path + ".expected") as f:
            self.expected = f.read().split("\n")

    def op_names(self) -> list[str]:
        return ["woc"]

    def input_bytes(self, name: str) -> int:
        return self.n_bytes

    def build(self, spark, name: str):
        from mapreducewordoccurences_spark.core import count_words_in_file, format_kv_lines

        return format_kv_lines(count_words_in_file(spark, self.path))

    def execute(self, df) -> list[str]:
        lines = []
        for row in df.toLocalIterator():
            if not lines:
                self.first_row_at = time.perf_counter()
            lines.append(row["line"])
        return lines

    def layer_extras(self, t0: float, seconds: float, output: list[str]) -> dict:
        first_row = self.first_row_at - t0
        return {
            "woc.first_row_s": first_row,
            "woc.deliver_s": seconds - first_row,
            "woc.distinct_words": len(output),
            "_words_generated": self.n_words,
        }

    def check_op(self, name: str, output: list[str]) -> str | None:
        if output == self.expected:
            return None
        return f"{len(output)} lines, {len(self.expected)} expected"

    def after_op(self, spark) -> None:
        pass

    def check_all(self, spark, outputs: dict) -> dict[str, str | None]:
        return {}

    def cleanup(self) -> None:
        for p in (self.path, self.path + ".expected"):
            if os.path.exists(p):
                os.remove(p)


class Catalog:
    """Catalog queries on the seed-42 dataset through the noop sink. The
    benchmark seed only orders the queries within a pass."""

    name = "catalog"
    action_span = "spark.action"
    # Short queries first: fixed per-query costs are a large share of
    # their wall time (plan construction, Catalyst, job scheduling, the
    # schema-inference job of every load_table call). Then two iterative
    # queries, where most of the wall time is jobs fired while the
    # DataFrame is built: Lloyd training rounds (k-means) and per-round
    # truncation of a fixed-point iteration (pagerank).
    queries = [
        "q1_pricing_summary",
        "q5_region_revenue",
        "window_topk_orders_per_cust",
        "sessionize_events",
        "json_extract_event_stats",
        "text_stats",
        "kmeans_cluster_profile",
        "pagerank_event_transitions",
    ]

    def __init__(self, root: str, work_dir: str) -> None:
        self.root, self.work_dir = root, work_dir

    def prepare(self) -> None:
        from perfbench import catalog_data

        self.data_dir = _run_module(self.root, "perfbench.catalog_data", self.work_dir).strip()
        from mapreducewordoccurences_spark.queries import ORACLES, QUERIES

        missing = [q for q in self.queries if q not in QUERIES or q not in ORACLES]
        if missing:
            raise SystemExit(f"queries or oracles missing from the catalog: {missing}")
        import duckdb

        con = duckdb.connect()
        # a query reads the tables its oracle reads
        self._bytes = {
            q: sum(catalog_data.table_bytes(self.data_dir, t)
                   for t in con.get_table_names(ORACLES[q]))
            for q in self.queries
        }

    def op_names(self) -> list[str]:
        return list(self.queries)

    def input_bytes(self, name: str) -> int:
        return self._bytes[name]

    def build(self, spark, name: str):
        from mapreducewordoccurences_spark.queries import QUERIES

        return QUERIES[name](spark, self.data_dir)

    def execute(self, df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def check_op(self, name: str, output) -> str | None:
        return None

    def layer_extras(self, t0: float, seconds: float, output) -> dict:
        return dict.fromkeys(
            ("woc.first_row_s", "woc.deliver_s", "woc.distinct_words", "_words_generated"), 0
        )

    def after_op(self, spark) -> None:
        # operators that persist() shared subtrees would otherwise carry
        # their caches into the next operation
        spark.catalog.clearCache()

    def check_all(self, spark, outputs: dict) -> dict[str, str | None]:
        """Each query's result against its DuckDB oracle, once per run."""
        from mapreducewordoccurences_spark.queries import ORACLES
        from mapreducewordoccurences_spark.sources.readers import TABLES

        from perfbench import checks

        con = checks.oracle_connection(self.data_dir, list(TABLES))
        verdicts = {}
        for name, df in outputs.items():
            try:
                verdicts[name] = checks.mismatch(df, con, ORACLES[name])
            except Exception as exc:  # noqa: BLE001 - a failed check is a failed op
                verdicts[name] = f"{type(exc).__name__}: {exc}"[:300]
        return verdicts

    def cleanup(self) -> None:
        pass


def make(name: str, root: str, work_dir: str, seed: int):
    if name == "woc_corpus":
        return WocCorpus(root, work_dir, seed)
    if name == "catalog":
        return Catalog(root, work_dir)
    raise SystemExit(f"unknown workload {name!r}")


def pass_order(names: list[str], rng: random.Random) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order
