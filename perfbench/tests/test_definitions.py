import json
import os

from perfbench import metrics, workloads
from perfbench.host import comparable

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_setup_has_the_largest_bound():
    e2e = _bench()["end_to_end"]
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_every_workload_is_defined_and_every_layer_pairing_is_known():
    b = _bench()
    names = [w["name"] for w in b["workloads"]]
    assert names == ["woc_corpus", "catalog"]
    for name in names:
        assert workloads.make(name, ROOT, "/nonexistent", 1).name == name
    assert set(metrics.MOVES) == {m["name"] for m in b["per_layer"]}
    e2e_names = {m["name"] for m in b["end_to_end"]}
    for layer, pairs in metrics.MOVES.items():
        for e2e, workload in pairs:
            assert e2e in e2e_names
            assert workload == "*" or workload in names


def test_results_at_other_core_counts_are_not_comparable():
    ctx = {"cpus": 4, "master": "local[4]", "workload": "woc_corpus",
           "seconds": 8, "trace": False}
    assert comparable(ctx, dict(ctx)) is None
    assert "cpus" in comparable(ctx, {**ctx, "cpus": 8})
    assert "master" in comparable(ctx, {**ctx, "master": "local[8]"})
