"""Fixed-round LPA semantics: two-clique splitting, min-label tie
order, bipartite round-parity oscillation, and a python model replay.

Every case runs both branches of ``label_propagation_fixed``: the
default driver solve (small graphs) and the distributed loop
(``DRIVER_CC_CONF=0``), and requires them to agree. Where the raw row
and symmetric pair counts differ, it also runs the driver solve at the
smallest limit one of them meets and the loop one below it, both
reached through the driver read's raw checkpoint."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.graph.algorithms import (
    DRIVER_CC_CONF,
    label_propagation_fixed,
)


def _model(edges: list[tuple[str, str]], rounds: int) -> dict[str, str]:
    sym = set()
    for s, d in edges:
        sym.add((s, d))
        sym.add((d, s))
    nbrs: dict[str, list[str]] = {}
    for s, d in sym:
        nbrs.setdefault(d, []).append(s)
        nbrs.setdefault(s, [])
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        new = {}
        for v in nbrs:
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            counts = Counter(labels[u] for u in nbrs[v])
            best = max(counts.values())
            new[v] = min(l for l, c in counts.items() if c == best)
        labels = new
    return labels


def _with_limit(spark, limit, run):
    spark.conf.set(DRIVER_CC_CONF, str(limit))
    try:
        return run()
    finally:
        spark.conf.unset(DRIVER_CC_CONF)


def _boundary_limit(edges) -> int | None:
    """The smallest driver limit one of the two observed counts meets,
    min(raw rows, symmetric pairs): at it the driver solves from the raw
    rows when they are fewer, and from the symmetric checkpoint when
    duplicates make them more. None when the counts are equal."""
    n_raw = len(edges)
    n_sym = len({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    return None if n_raw == n_sym else min(n_raw, n_sym)


def _both_branches(spark, df, rounds, limit=None):
    """(driver result, loop result) as id -> community dicts; with a
    ``limit`` the driver solve at it and the loop one below it must
    equal both."""
    def run():
        out = label_propagation_fixed(df, rounds=rounds)
        rows = out.collect()
        assert len({r.id for r in rows}) == len(rows)  # one row per vertex
        return {r.id: r.community for r in rows}, out

    via_driver = run()[0]
    via_loop = _with_limit(spark, 0, run)[0]
    if limit is not None:
        for at, on_driver in ((limit, True), (limit - 1, False)):
            got, out = _with_limit(spark, at, run)
            plan = out._jdf.queryExecution().analyzed()
            assert (plan.getClass().getSimpleName() == "LocalRelation") == on_driver, (
                f"driver limit {at} took the wrong branch"
            )
            assert got == via_loop, f"driver limit {at} disagrees with the loop"
    return via_driver, via_loop


def _run(spark, edges, rounds, ddl="src string, dst string"):
    via_driver, via_loop = _both_branches(
        spark, spark.createDataFrame(edges, ddl), rounds, _boundary_limit(edges)
    )
    assert via_driver == via_loop, "driver and loop branches disagree"
    return via_driver


def test_two_cliques_with_bridge_split(spark):
    # two triangles joined by one bridge edge: LPA must keep them as
    # two communities (CC would merge them into one).
    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
        ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
        ("a3", "b1"),
    ]
    got = _run(spark, edges, rounds=4)
    assert got == _model(edges, 4)
    # the a-clique's labels never leave the a-side (the bridge can pull
    # a-labels INTO b, not the reverse, under min tie-breaking).
    assert {got["a1"], got["a2"], got["a3"]} <= {"a1", "a2", "a3"}
    assert len(set(got.values())) >= 2  # still more than one community


def test_min_label_tie_break(spark):
    # v's neighbors carry labels {x, z} with equal count → min wins.
    edges = [("v", "x"), ("v", "z")]
    got = _run(spark, edges, rounds=1)
    assert got["v"] == "x"
    assert got == _model(edges, 1)


def test_bipartite_round_parity(spark):
    # star hub + leaves: labels oscillate — leaves take the hub's label
    # on odd rounds, the hub's old label flows back on even rounds.
    edges = [("hub", "l1"), ("hub", "l2"), ("hub", "l3")]
    r1 = _run(spark, edges, 1)
    r2 = _run(spark, edges, 2)
    assert r1 == _model(edges, 1)
    assert r2 == _model(edges, 2)
    assert r1["l1"] == "hub" and r2["l1"] == "l1"  # leaf: hub's label, then l1 flows back
    assert r1["hub"] == "l1" and r2["hub"] == "hub"  # hub: min leaf, then its own returns


def test_matches_model_on_random_graph(spark):
    rng = random.Random(5)
    nodes = [f"n{i:02d}" for i in range(24)]
    edges = list({(a, b) for a, b in (
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)
    )})
    for rounds in (1, 3):
        assert _run(spark, edges, rounds) == _model(edges, rounds)


def test_bigint_ids(spark):
    # ids past 2**53 compare exactly on both branches (no float detour)
    big = 2**62
    edges = [(big + 3, big + 1), (big + 3, big + 2), (7, big + 3), (7, 5)]
    for rounds in (1, 2):
        assert _run(spark, edges, rounds, "src bigint, dst bigint") == _model(
            edges, rounds
        )


def test_null_endpoint(spark):
    # A null endpoint is a vertex of its own that keeps its null label;
    # it casts no vote (null src never equi-joins) and a vote for it is
    # dropped, so "c", whose only neighbor is null, keeps its own label.
    edges = [("a", "b"), ("a", None), (None, "c")]
    got = _run(spark, edges, 1)
    assert got == {"a": "b", "b": "a", "c": "c", None: None}
    assert _run(spark, edges, 2) == {"a": "a", "b": "b", "c": "c", None: None}


def test_duplicate_reversed_and_self_loop_edges(spark):
    # The driver read de-duplicates in Python what the loop's distinct
    # does: a duplicated row, an edge given in both directions and a
    # self-loop (a vertex that votes for its own label) must count once.
    edges = [("a", "b")] * 3 + [("b", "a"), ("b", "c"), ("c", "c"), ("c", "c"), ("c", "d")]
    # raw rows 8 > pair count 7: at limit 7 the driver solves from the
    # symmetric checkpoint, at 6 the loop runs over it
    assert _boundary_limit(edges) == 7
    for rounds in (1, 2):
        assert _run(spark, edges, rounds) == _model(edges, rounds)


def test_empty_edge_set(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    out = label_propagation_fixed(df, rounds=2)
    assert out.schema.simpleString() == "struct<id:bigint,community:bigint>"
    assert _both_branches(spark, df, 2) == ({}, {})


@pytest.mark.parametrize("rounds", [1, 2, 3, 4])
def test_count_ties_on_random_graph(spark, rounds):
    # a sparse random graph (mean degree 2.5): most vertices see several
    # labels once each, so the min-label tie order decides many picks
    # (27 of 37 vertices in round 1, still 4 in round 4)
    rng = random.Random(17)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = list({tuple(sorted(rng.sample(nodes, 2))) for _ in range(50)})
    assert _run(spark, edges, rounds) == _model(edges, rounds)
    prev = _model(edges, rounds - 1)
    nbrs: dict[str, set] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    ties = 0
    for us in nbrs.values():
        counts = Counter(prev[u] for u in us)
        top = max(counts.values())
        ties += sum(c == top for c in counts.values()) > 1
    assert ties >= 4  # the round really is decided by tie-breaking


def test_small_graph_solves_on_driver(spark):
    """The driver branch submits only the raw edge checkpoint and one
    Arrow collect — two jobs of one stage each, no shuffle stage — then
    hands the labels back as an Arrow LocalRelation. Symmetrizing before
    the read (a shuffle-map job for its distinct), per-round checkpoints
    (12 jobs on this graph) or a createDataFrame(list) handoff (a
    LogicalRDD over Python workers) fail here."""
    sc = spark.sparkContext
    edges = spark.range(30).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 30).alias("dst")
    )
    group = "test_lpa_small_graph_jobs"
    sc.setJobGroup(group, "label_propagation_fixed on a 30-cycle")
    try:
        out = label_propagation_fixed(edges, rounds=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) <= 2, jobs
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(stages) <= 2, stages
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    cycle = [(v, (v + 1) % 30) for v in range(30)]
    assert {r.id: r.community for r in out.collect()} == _model(cycle, 3)
