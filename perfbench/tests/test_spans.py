import threading

from perfbench.spans import Recorder, Span, covered, self_time, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    # overlapping jobs, as _run_concurrent_jobs produces, count once
    assert union_length([(0, 4), (1, 2), (3, 6)]) == 6
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_covered_clips_to_the_window():
    assert covered(1, 5, [(0, 2), (4, 10)]) == 2
    assert covered(1, 5, [(6, 7)]) == 0


def test_job_idle_is_wall_minus_job_union():
    # op from 0 to 10; jobs at [1,3] and [2,5] overlap; [8,12] ends after the op
    jobs = [(1, 3), (2, 5), (8, 12)]
    assert 10 - covered(0, 10, jobs) == 10 - (4 + 2)


def test_self_time_subtracts_children_once():
    root = Span(0, "op", "o", None, 0.0, 10.0)
    build = Span(1, "queries.build", "o", 0, 0.0, 6.0)
    load = Span(2, "sources.load_table", "o", 1, 1.0, 2.0)
    t1 = Span(3, "checkpointing.truncate", "o", 1, 3.0, 5.0)
    t2 = Span(4, "checkpointing.truncate", "o", 1, 4.0, 5.5)  # concurrent with t1
    action = Span(5, "spark.action", "o", 0, 6.0, 9.0)
    spans = [root, build, load, t1, t2, action]
    assert self_time(build, spans) == 6.0 - (1.0 + 2.5)
    assert self_time(root, spans) == 10.0 - 9.0
    # grandchildren are not subtracted from the root a second time
    assert self_time(load, spans) == 1.0


def test_recorder_nests_and_adopts_helper_threads():
    rec = Recorder()
    rec.op = "o"
    with rec.span("op") as op:
        with rec.span("queries.build") as build:
            seen = {}

            def work():
                with rec.span("checkpointing.truncate") as s:
                    seen["parent"] = s.parent

            t = threading.Thread(target=work)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    assert build.parent == op.id
    assert seen["parent"] == build.id
    assert all(s.end is not None and s.op == "o" for s in rec.spans)
