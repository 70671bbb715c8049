"""Unit tests for the per-query bench regression gate (tools/bench_diff.py).

Pure-Python (no Spark session): the gate runs at the end of every bench
invocation and must be cheap and side-effect-free to test.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.bench_diff import (  # noqa: E402
    comparable,
    diff_records,
    latest_local_record,
    record_round,
)


def _rec(queries, extra=None, sf=0.1, runs=7, cpus=32):
    return {
        "queries": dict(queries),
        "extra_queries": dict(extra or {}),
        "sf": sf,
        "runs_per_query": runs,
        "cpus": cpus,
    }


def test_flags_only_above_ratio_and_floor():
    prev = _rec({"a": 1.0, "b": 0.1, "c": 2.0})
    cur = _rec({"a": 1.6, "b": 0.25, "c": 2.2})
    regs = diff_records(prev, cur)
    # a: 1.6x and +0.6s -> flagged; b: 2.5x but only +0.15s (< floor);
    # c: +0.2s and 1.1x -> neither
    assert [r["query"] for r in regs] == ["a"]
    assert regs[0]["ratio"] == 1.6


def test_sorted_worst_ratio_first_and_extras_included():
    prev = _rec({"a": 1.0}, extra={"x": 0.5})
    cur = _rec({"a": 1.9}, extra={"x": 1.6})
    regs = diff_records(prev, cur)
    assert [r["query"] for r in regs] == ["x", "a"]


def test_additions_and_removals_ignored():
    prev = _rec({"gone": 1.0, "kept": 1.0})
    cur = _rec({"new": 9.0, "kept": 1.0})
    assert diff_records(prev, cur) == []


def test_incomparable_records_yield_no_flags():
    warm = _rec({"a": 1.0}, sf=0.1, runs=7)
    cold = _rec({"a": 9.0}, sf=0.001, runs=1)
    assert not comparable(cold, warm)
    assert diff_records(cold, warm) == []
    # same sf, different warm-up protocol is also incomparable
    assert not comparable(_rec({}, runs=1), _rec({}, runs=7))
    assert comparable(_rec({"a": 1}), _rec({"b": 2}))


def test_records_at_different_core_counts_are_incomparable():
    # an 8-core record diffed against a 32-core one reads the core-count
    # difference as per-query "regressions"
    wide = _rec({"a": 1.0}, cpus=32)
    narrow = _rec({"a": 2.0}, cpus=8)
    assert not comparable(wide, narrow)
    assert diff_records(wide, narrow) == []
    assert [r["query"] for r in diff_records(wide, _rec({"a": 2.0}))] == ["a"]


def test_latest_local_record_filters_by_comparability(tmp_path):
    for n, sf in ((3, 0.1), (4, 0.001), (5, 0.1)):
        (tmp_path / f"BENCH_local_r{n}.json").write_text(
            json.dumps(_rec({"a": 1.0}, sf=sf))
        )
    like = _rec({}, sf=0.1)
    assert latest_local_record(str(tmp_path)).endswith("r5.json")
    assert latest_local_record(str(tmp_path), like=like).endswith("r5.json")
    assert latest_local_record(
        str(tmp_path), like=_rec({}, sf=1.0)
    ) is None
    assert latest_local_record(
        str(tmp_path), like=_rec({}, sf=0.1, cpus=8)
    ) is None
    assert record_round(str(tmp_path / "BENCH_local_r5.json")) == 5


def test_latest_local_record_is_found_under_artifacts():
    # bench.py reads its regression baseline from, and writes its
    # record to, the repo's artifacts/ dir; the root holds none
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = latest_local_record()
    assert latest is not None
    assert os.path.dirname(latest) == os.path.join(root, "artifacts")
    assert record_round(latest) >= 30  # the newest record on file
    assert latest_local_record(root) is None


def test_latest_sf1_record_before_round_excludes_self(tmp_path):
    # ADVICE r9 #3: a re-run within round N must baseline against the
    # newest artifact from a round < N, never the file it overwrites.
    from tools.bench_sf1 import latest_sf1_record

    for n in (7, 8, 9):
        (tmp_path / f"BENCH_sf1_r{n:02d}.json").write_text("{}")
    assert latest_sf1_record(str(tmp_path)).endswith("r09.json")
    assert latest_sf1_record(str(tmp_path), before_round=9).endswith("r08.json")
    assert latest_sf1_record(str(tmp_path), before_round=7) is None


def test_compact_record_carries_per_query_seconds():
    """bench.py's last line keeps the headline per-query seconds, so a
    tail capture can be diffed query by query, and stays under 2 KB."""
    from bench import HEADLINE, compact_record

    record = {
        "metric": "headline_queries_total_sec",
        "value": 1234.567,
        "unit": "sec",
        "queries": {q: 123.4567 for q in HEADLINE},
        "extra_queries": {f"extra_{i}": 1.0 for i in range(145)},
        "extra_total_sec": 145.0,
        "sf": 0.1,
        "startup_sec": 20.123,
        "cold_total_sec": 2000.0,
        "runs_per_query": 7,
        "cpus": 4,
        "errors": {},
        "noise_band": {
            "headline_best_sec": 1234.567,
            "headline_median_sec": 1300.123,
            "headline_worst_sec": 1400.456,
            "median_over_best": 1.0531,
            "per_query_rel_spread_p90": 0.2345,
        },
        "load_context": {"loadavg_1m": 3.21, "loadavg_5m": 2.98, "co_jvms": 1},
        "regressions": [
            {"query": "dedup_ngram_jaccard", "prev": 1.0, "cur": 2.0},
            {"query": "text_stats", "prev": 1.0, "cur": 2.0},
        ],
    }
    line = json.dumps(compact_record(record))
    got = json.loads(line)
    assert got["queries"] == {q: 123.457 for q in HEADLINE}
    assert len(got["queries"]) == 20
    assert got["value"] == 1234.567
    assert got["regressions"] == ["dedup_ngram_jaccard", "text_stats"]
    assert len(line.encode()) < 2048
