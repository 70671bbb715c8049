import time

from perfbench.run import closed_loop, run_pass, tally


class FakeWorkload:
    """Operations that are plain Python; ``bad`` raises."""

    action_span = "spark.action"

    def __init__(self):
        self.ran = []

    def build(self, spark, name):
        if name == "bad":
            raise RuntimeError("injected failure")
        return name

    def execute(self, df):
        self.ran.append(df)
        return df.upper()

    def check_op(self, name, output):
        return None if output == name.upper() else "wrong"

    def after_op(self, spark):
        pass


def test_failing_operation_is_counted_and_the_run_continues():
    wl = FakeWorkload()
    out = run_pass(wl, None, 0, ["a", "bad", "b"])
    recs = [r for r, _ in out]
    assert [r.name for r in recs] == ["a", "bad", "b"]
    assert wl.ran == ["a", "b"]
    assert recs[1].error.startswith("RuntimeError: injected failure")
    assert tally(recs, {}) == (3, 1)


def test_wrong_output_counts_as_failed():
    class Wrong(FakeWorkload):
        def execute(self, df):
            return "nope"

    recs = [r for r, _ in run_pass(Wrong(), None, 0, ["a", "b"])]
    assert tally(recs, {}) == (2, 2)


def test_failed_check_fails_every_op_of_that_query():
    wl = FakeWorkload()
    recs = [r for r, _ in run_pass(wl, None, 0, ["a", "b"])]
    recs += [r for r, _ in run_pass(wl, None, 1, ["b", "a"])]
    assert tally(recs, {"a": "values differ", "b": None}) == (4, 2)


def test_closed_loop_runs_whole_passes_until_time_is_up():
    calls = []

    def do_pass(i):
        calls.append(i)
        time.sleep(0.02)
        return [i]

    assert closed_loop(do_pass, seconds=0.05, deadline=time.monotonic() + 60) == calls
    assert 2 <= len(calls) <= 5
    calls.clear()
    closed_loop(do_pass, seconds=0, deadline=time.monotonic() + 60, min_passes=2)
    assert calls == [0, 1]
    calls.clear()
    # the process deadline ends the loop even before min_passes
    closed_loop(do_pass, seconds=0, deadline=time.monotonic(), min_passes=3)
    assert calls == [0]
