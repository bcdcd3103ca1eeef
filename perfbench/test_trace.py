"""Span and self-time arithmetic of the traced run. Needs no Spark:

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import threading

import pytest

from run import tail
from spans import (Span, Tracer, concurrent_ids, layer_table,
                   parse_sql_metric, self_times, union_length)


def test_union_length_merges_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 2), (2, 3)]) == 3.0
    assert union_length([(1, 4), (0, 10)]) == 10.0
    # clipped to [2, 5]: (0,3) -> (2,3), (4,9) -> (4,5), (6,7) vanishes
    assert union_length([(0, 3), (4, 9), (6, 7)], 2, 5) == 2.0


def _op_tree():
    """An op [0, 10] with a serial child [0.5, 1.5] and two concurrent
    children [2, 6] and [3, 8], the second with a child of its own."""
    return [Span(1, "op", 0.0, 10.0, None, "main"),
            Span(2, "mentions", 0.5, 1.5, 1, "main"),
            Span(3, "idf", 2.0, 6.0, 1, "t1"),
            Span(4, "pairs", 3.0, 8.0, 1, "t2"),
            Span(5, "pairs.write", 4.0, 7.0, 4, "t2")]


def test_self_time_counts_concurrent_children_once():
    st = self_times(_op_tree())
    # children cover [0.5, 1.5] and [2, 8]: 7 s, not 1 + 4 + 5 = 10 s
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(2.0)
    assert st[5] == pytest.approx(3.0)
    # idf and pairs share [3, 6]: the tree's self times exceed the root
    # wall by exactly that overlap
    assert sum(st.values()) == pytest.approx(10.0 + 3.0)


def test_self_times_add_up_to_root_wall_without_concurrency():
    spans = [Span(1, "op", 0.0, 10.0, None, "main"),
             Span(2, "a", 1.0, 4.0, 1, "main"),
             Span(3, "b", 4.0, 9.0, 1, "main"),
             Span(4, "b.inner", 5.0, 6.0, 3, "main")]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_child_outside_parent_is_clipped():
    spans = [Span(1, "op", 0.0, 4.0, None, "main"),
             Span(2, "late", 3.0, 9.0, 1, "main")]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_concurrent_siblings_are_marked():
    assert concurrent_ids(_op_tree()) == {3, 4}
    rows = {r["span"]: r for r in layer_table(_op_tree())}
    assert rows["idf"]["concurrent"] and rows["pairs"]["concurrent"]
    assert not rows["mentions"]["concurrent"]
    assert not rows["op"]["concurrent"]
    assert rows["op"]["self_s"] == pytest.approx(3.0)
    assert rows["pairs"]["wall_s"] == pytest.approx(5.0)


class FakeContext:
    """Per-thread local properties, as SparkContext keeps them."""

    def __init__(self):
        self._local = threading.local()

    def _props(self):
        if not hasattr(self._local, "p"):
            self._local.p = {}
        return self._local.p

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value


def test_tracer_records_threads_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    seen = {}
    barrier = threading.Barrier(2, timeout=10)

    def branch(name, parent):
        with tr.span(name, parent=parent, group=f"op0:{name}"):
            barrier.wait()  # both children open at once
            seen[name] = sc.getLocalProperty("spark.jobGroup.id")
        seen[name + ".after"] = sc.getLocalProperty("spark.jobGroup.id")

    with tr.span("op", group="op0") as root:
        threads = [threading.Thread(target=branch, args=(n, root), name=n)
                   for n in ("idf", "pairs")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
        assert sc.getLocalProperty("spark.jobGroup.id") == "op0"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert seen == {"idf": "op0:idf", "pairs": "op0:pairs",
                    "idf.after": None, "pairs.after": None}
    by_name = {s.name: s for s in tr.spans}
    assert by_name["idf"].parent == by_name["pairs"].parent == root
    assert by_name["idf"].thread == "idf"
    assert concurrent_ids(tr.spans) == {by_name["idf"].id,
                                        by_name["pairs"].id}
    st = self_times(tr.spans)
    op = by_name["op"]
    covered = union_length([(by_name[n].start, by_name[n].end)
                            for n in ("idf", "pairs")])
    assert st[op.id] == pytest.approx(op.wall - covered)


def test_parse_sql_metric():
    per_task = ("total (min, med, max (stageId: taskId))\n"
                "11.8 s (254 ms, 2.5 s, 2.6 s (stage 0.0: task 2))")
    assert parse_sql_metric(per_task) == pytest.approx(11.8)
    assert parse_sql_metric("25 ms") == pytest.approx(0.025)
    assert parse_sql_metric("1,024.0 KiB") == pytest.approx(1.048576)
    assert parse_sql_metric("0.0 B") == 0.0
    with pytest.raises(ValueError):
        parse_sql_metric("100,000")


def test_tail_percentile():
    assert tail([4.0]) == (4.0, 75.0)
    assert tail([3.0, 1.0, 2.0, 4.0, 5.0]) == (4.0, 75.0)
    assert tail([1.0, 2.0]) == (1.75, 75.0)
    # below forty samples no percentile above p75 has ten beyond it
    xs = [float(i) for i in range(1, 21)]
    assert tail(xs) == (pytest.approx(15.25), 75.0)
    xs = [float(i) for i in range(1, 41)]
    assert tail(xs) == (30.0, 75.0)   # ten samples (31..40) beyond it
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0)
