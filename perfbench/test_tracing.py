"""Self-time and reconciliation arithmetic of the traced run.

    python3 -m pytest perfbench/test_tracing.py -q
"""

import threading

from tracing import Tracer, self_time, spark_for_interval, unaccounted, union_length


def span(t0, t1):
    return {"t0": t0, "t1": t1}


def test_union_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-2, 1), (9, 12)], 0, 10) == 2
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_counts_overlapping_children_once():
    # three compaction units on pool threads: [1,4], [2,6], [3,5] overlap;
    # their union is [1,6], so the parent's own time is 10 - 5, not 10 - 9
    parent = span(0, 10)
    units = [span(1, 4), span(2, 6), span(3, 5)]
    assert self_time(parent, units) == 5
    assert sum(u["t1"] - u["t0"] for u in units) == 9


def test_self_time_with_extra_intervals_and_clipping():
    parent = span(0, 10)
    kids = [span(1, 2), span(9, 14)]  # the second outlives the parent
    assert self_time(parent, kids) == 8
    # a Spark job interval covering [2, 5] reduces the unaccounted rest
    assert self_time(parent, kids, [(2, 5)]) == 5


def test_unaccounted_looks_through_the_entry_point_span():
    # merge_into spans the whole op; only the manifest write under it and
    # one Spark job explain time, and they overlap on [3, 4]
    op = span(0, 10)
    below = [dict(span(0.1, 9.9), name="merge.merge_into"),
             dict(span(2, 4), name="manifest.write_partitioned_with_stats")]
    assert unaccounted(op, below, [(3, 6)]) == 6
    assert self_time(op, below, [(3, 6)]) < 0.3


def test_pool_thread_span_is_parented_to_the_open_op():
    tr = Tracer()
    tr.enabled = True
    seen = {}

    def unit():
        with tr.span("compaction.compact_partition") as s:
            seen["parent"] = s["parent"]

    with tr.span("op:compact", root=True) as op:
        t = threading.Thread(target=unit)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert seen["parent"] == op["id"]
    assert {s["name"] for s in tr.spans} == {"op:compact", "compaction.compact_partition"}


def test_wrapper_records_only_when_enabled():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer()
    tr.wrap(Box, "f", "box.f", post=lambda sp, a, k, out, c: sp["attrs"].update(out=out))
    assert Box().f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert Box().f(2) == 3
    assert [(s["name"], s["attrs"]["out"]) for s in tr.spans] == [("box.f", 3)]
    assert Box.f.__name__ == "f"


def test_spark_interval_dead_time_and_stage_totals():
    log = {
        "jobs": {
            0: {"t0": 1.0, "t1": 3.0, "stages": [0, 1]},
            1: {"t0": 2.0, "t1": 4.0, "stages": [2]},
            2: {"t0": 20.0, "t1": 21.0, "stages": [3]},  # outside the op
        },
        "stages": {
            0: {"completed": True, "task_s": 2.0, "shuffle_write_b": 1e6, "spill_b": 0,
                "input_b": 3e6},
            1: {"completed": False, "task_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
                "input_b": 0},
            2: {"completed": True, "task_s": 1.5, "shuffle_write_b": 0, "spill_b": 2e6,
                "input_b": 0},
        },
    }
    out = spark_for_interval(log, 0.0, 10.0)
    assert out["jobs"] == 2 and out["stages"] == 2
    assert out["task_s"] == 3.5
    assert out["dead_s"] == 7.0  # jobs cover [1, 4] of [0, 10]
    assert (out["shuffle_write_mb"], out["spill_mb"], out["input_mb"]) == (1.0, 2.0, 3.0)
