"""Tests of the benchmark's own arithmetic, on synthetic numbers and spans.

No Spark is started. Run from the checkout root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench import datagen, procfs, stats
from perfbench.run import dominant_layer, first_error_line, layer_metric_names
from perfbench.stats import Span


def test_median_and_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 5.8, 9.7]
    assert stats.median(values) == statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q1, q3)
    assert stats.spread(values) == pytest.approx((q3 - q1) / statistics.median(values))


def test_spread_of_constant_values_is_zero():
    assert stats.spread([2.0] * 10) == 0.0
    assert stats.spread([0.0] * 4) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def _tree() -> list[Span]:
    # lane [0, 10] -> build [0, 6] -> algo [1, 5] -> load [2, 3]
    #             -> action [6, 10]
    return [
        Span("lane", "lane", 0.0, 10.0),
        Span("build", "plans.build", 0.0, 6.0, parent=0),
        Span("kcore", "graph.algorithms", 1.0, 5.0, parent=1),
        Span("load_table", "sources.load", 2.0, 3.0, parent=2),
        Span("action", "exec.action", 6.0, 10.0, parent=0),
    ]


def test_self_time_subtracts_direct_children_only():
    assert stats.self_times(_tree()) == [0.0, 2.0, 3.0, 1.0, 4.0]


def test_layer_totals_sum_self_time_and_count_spans():
    totals = stats.layer_totals(_tree())
    assert totals["plans.build"] == (2.0, 1)
    assert totals["graph.algorithms"] == (3.0, 1)
    assert totals["sources.load"] == (1.0, 1)
    assert totals["exec.action"] == (4.0, 1)
    # self times of all spans add up to the root's duration
    assert sum(t for t, _ in totals.values()) == pytest.approx(10.0)


def test_nested_same_layer_calls_count_once_inclusive():
    spans = [
        Span("outer", "graph.algorithms", 0.0, 4.0),
        Span("inner", "graph.algorithms", 1.0, 3.0, parent=0),
    ]
    assert stats.inclusive_totals(spans) == {"graph.algorithms": 4.0}
    assert stats.layer_totals(spans) == {"graph.algorithms": (4.0, 2)}


def test_slot_util_and_idle_slots():
    assert stats.slot_util(6.0, 3.0, 4) == pytest.approx(0.5)
    assert stats.idle_slot_s(6.0, 3.0, 4) == pytest.approx(6.0)
    assert stats.slot_util(1.0, 0.0, 4) == 0.0
    assert stats.idle_slot_s(20.0, 3.0, 4) == 0.0


def test_in_windows_is_inclusive():
    windows = [(1.0, 2.0), (5.0, 6.0)]
    assert stats.in_windows(1.0, windows) and stats.in_windows(6.0, windows)
    assert not stats.in_windows(3.0, windows)


def _layers(**kw) -> dict[str, float]:
    m = {"plans.build_s": 0.0, "exec.action_s": 0.0, "exec.jvm_cpu_s": 0.0, "seam.python_cpu_s": 0.0}
    m.update(kw)
    return m


def test_dominant_layer_rule():
    assert dominant_layer(_layers(**{"plans.build_s": 3.0, "exec.action_s": 1.0})) == "plans.build_s"
    assert dominant_layer(_layers(**{"exec.action_s": 2.0, "exec.jvm_cpu_s": 3.0})) == "exec.jvm_cpu_s"
    assert dominant_layer(_layers(**{"exec.action_s": 2.0, "seam.python_cpu_s": 1.2})) == "seam.python_cpu_s"
    assert dominant_layer(_layers(**{"exec.action_s": 2.0, "exec.jvm_cpu_s": 0.5})) == "exec.action_s"


def test_layer_metric_names():
    assert layer_metric_names("sources.load") == ("sources.load_s", "sources.load_calls")
    assert layer_metric_names("operators.dedup") == ("operators.dedup.s", "operators.dedup.calls")


def test_first_error_line_finds_the_worker_error():
    text = (
        "\n  An exception was thrown from the Python worker. Please see the stack trace below.\n"
        "Traceback (most recent call last):\n"
        '  File "/x/worker.py", line 1, in main\n'
        "ModuleNotFoundError: No module named 'leader_graph_spark'\n"
    )
    assert first_error_line(RuntimeError(text)) == "ModuleNotFoundError: No module named 'leader_graph_spark'"
    assert first_error_line(RuntimeError("plain message")) == "plain message"


def _proc(ppid, cpu, own=None, comm="python3", seam=False, hwm=100.0, jit=0.0, gc=0.0):
    threads = {"C# CompilerThre": jit, "GC Thread##": gc / 2, "G# Conc##": gc / 2, "Thread-#": 0.1}
    return procfs.Proc(ppid, cpu, cpu if own is None else own, comm, seam, hwm, threads if comm == "java" else {})


def test_cpu_between_counts_exited_workers_once(monkeypatch):
    me = 100
    monkeypatch.setattr(procfs.os, "getpid", lambda: me)
    before = {
        me: _proc(1, 1.0),
        200: _proc(me, 10.0, comm="java", jit=3.0, gc=1.0),
        300: _proc(200, 2.0, seam=True),  # daemon
        301: _proc(300, 0.5, seam=True),  # worker that exits
    }
    after = {
        me: _proc(1, 1.5),
        200: _proc(me, 14.0, comm="java", jit=4.5, gc=1.8),
        # the daemon reaped the worker, which had used 0.8 s in all
        300: _proc(300, 2.1 + 0.8, own=2.1, seam=True),
        302: _proc(300, 0.3, seam=True),  # worker started in the window
    }
    split = procfs.cpu_between(before, after)
    assert split.tree_s == pytest.approx(0.5 + 4.0 + 0.1 + 0.3 + 0.3)
    assert split.driver_py_s == pytest.approx(0.5)
    assert split.jvm_s == pytest.approx(4.0)
    assert split.jit_s == pytest.approx(1.5)
    assert split.gc_s == pytest.approx(0.8)
    assert split.seam_s == pytest.approx(0.1 + 0.3 + 0.3)
    assert split.seam_workers == 2
    assert split.peak_rss_mb == pytest.approx(400.0)


def test_datagen_is_deterministic_and_keeps_the_schema():
    a = datagen.make_tables(7, 0.001)
    b = datagen.make_tables(7, 0.001)
    c = datagen.make_tables(8, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["customer"].schema.field("c_nationkey").type) == "int32"
    texts = a["documents"].column("text").to_pylist()
    assert len(texts) == datagen.n_docs(0.001) == 500
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // 20
    assert datagen.n_docs(0.1) == 5000 and datagen.n_vecs(0.1) == 2000
