"""Unit fixtures for reference-exact derived-edge semantics
(src/mysql2neo4j.py:255-489) and the DataFrame graph algorithms."""

from __future__ import annotations

import re
from unittest import mock

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.graph import algorithms as alg
from leader_graph_spark.graph.algorithms import (
    CKPT_SER_CONF,
    connected_components,
    degrees,
    label_propagation_fixed,
    merge_components,
)
from leader_graph_spark.graph.derived import (
    current_colleague_edges,
    historical_colleague_edges,
    same_group_pairs,
    schoolmate_edges,
)
from leader_graph_spark.operators.intervals import (
    interval_overlap_self_join,
    interval_overlap_self_join_bucketed,
)


def test_schoolmates_null_semantics(spark):
    rows = [
        # p1/p2: same school, clear overlap (2000-2004 vs 2002-2006)
        ("p1", "S", 2000, 9, 2004, 6),
        ("p2", "S", 2002, None, 2006, None),  # null months → Jan/Dec
        # p3: missing end year → at_same_time must be FALSE (not null)
        ("p3", "S", 2001, 3, None, None),
        # p4: excluded school
        ("p4", "PARTY_SCHOOL", 2000, 1, 2005, 1),
        # p5: disjoint interval
        ("p5", "S", 2010, 1, 2012, 1),
    ]
    df = spark.createDataFrame(
        rows, "person_id string, school string, start_year int, start_month int, end_year int, end_month int"
    )
    out = schoolmate_edges(df, exclude_schools=["PARTY_SCHOOL"]).collect()
    by_pair = {(r.person_id_1, r.person_id_2): r for r in out}
    # excluded school never appears
    assert all("p4" not in k for k in by_pair)
    r12 = by_pair[("p1", "p2")]
    assert r12.at_same_time is True
    # overlap: max(2000*12+9, 2002*12+1)=2002.01 .. min(2004*12+6, 2006*12+12)=2004.06
    assert r12.overlap_period == "2002.01-2004.06"
    # null end year → collapsed to False with null period
    r13 = by_pair[("p1", "p3")]
    assert r13.at_same_time is False and r13.overlap_period is None
    # disjoint → false
    r15 = by_pair[("p1", "p5")]
    assert r15.at_same_time is False and r15.overlap_period is None
    # pair order: every pair has id1 < id2
    assert all(k[0] < k[1] for k in by_pair)


def test_historical_colleagues_requires_complete_dates(spark):
    rows = [
        ("p1", "ORG", 2000, 1, 2005, 12),
        ("p2", "ORG", 2003, 6, 2010, 1),
        ("p3", "ORG", 2004, None, 2009, 2),  # incomplete → dropped
    ]
    df = spark.createDataFrame(
        rows, "person_id string, workplace string, start_year int, start_month int, end_year int, end_month int"
    )
    out = historical_colleague_edges(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.person_id_1, r.person_id_2) == ("p1", "p2")
    assert r.overlap_period == "2003.06-2005.12"


def test_current_colleagues_till_now(spark):
    df = spark.createDataFrame(
        [("p1", "O1", "boss"), ("p2", "O1", "worker"), ("p3", "O2", "x"), ("p4", None, "y")],
        "person_id string, org string, position string",
    )
    out = current_colleague_edges(
        df, org_col="org", id_col="person_id", position_col="position"
    ).collect()
    assert len(out) == 1
    assert out[0].overlap_period == "till now"
    assert out[0].position_1 == "boss" and out[0].position_2 == "worker"


def test_same_group_pairs_excludes_null_and_empty(spark):
    df = spark.createDataFrame(
        [("p1", "H"), ("p2", "H"), ("p3", ""), ("p4", None), ("p5", "H")],
        "person_id string, birth_place string",
    )
    out = same_group_pairs(df, group_col="birth_place", id_col="person_id").collect()
    pairs = {(r.person_id_1, r.person_id_2) for r in out}
    assert pairs == {("p1", "p2"), ("p1", "p5"), ("p2", "p5")}


def test_bucketed_interval_join_matches_naive(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(80):
        start = rng.randint(24000, 24240)
        rows.append((f"p{i}", f"k{rng.randint(0, 3)}", start, start + rng.randint(0, 60)))
    df = spark.createDataFrame(rows, "id string, key string, start_m int, end_m int")
    naive = interval_overlap_self_join(df, key_cols=["key"], id_col="id")
    bucketed = interval_overlap_self_join_bucketed(
        df, key_cols=["key"], id_col="id", bucket_months=24
    )
    n = {tuple(r) for r in naive.collect()}
    b = {tuple(r) for r in bucketed.collect()}
    assert n == b
    assert len(n) > 0


def test_connected_components_two_islands(spark):
    # duplicate vertex rows (a and the isolated g) label the vertex set:
    # one row per id
    vertices = spark.createDataFrame([(v,) for v in "abcdefgag"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "e")], "src string, dst string"
    )
    rows = connected_components(vertices, edges).collect()
    assert len(rows) == 7
    out = {r.id: r.component for r in rows}
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["d"] == out["e"] == out["f"] == "d"
    assert out["g"] == "g"


def test_degrees(spark):
    edges = spark.createDataFrame([("a", "b"), ("a", "c")], "src string, dst string")
    out = {r.id: r.degree for r in degrees(edges).collect()}
    assert out == {"a": 2, "b": 1, "c": 1}


def test_min_propagation_fixed_rounds_equals_converged(spark, sf_dir):
    from pyspark.sql import functions as F

    from leader_graph_spark.operators.dedup import minhash_near_duplicates
    from leader_graph_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, id_col="doc_id", text_col="text")
    ids = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
    fixed = {
        (r.id, r.component) for r in connected_components(ids, edges, max_iter=4).collect()
    }
    converged = {
        (r.id, r.component) for r in connected_components(ids, edges).collect()
    }
    # 4 rounds ≥ diameter of every near-dup cluster in this corpus.
    assert fixed == converged and len(fixed) == docs.count()


def test_khop_distance_strata(spark, sf_smoke):
    """BFS distances over the membership graph: regions are roots
    (dist 0), nations one hop, customers two; nothing is three hops
    out, and every reachable vertex appears exactly once."""
    from pyspark.sql import functions as F

    from leader_graph_spark.functions.scalar import md5_key
    from leader_graph_spark.graph.algorithms import khop_distances
    from leader_graph_spark.graph.build import build_membership_edges
    from leader_graph_spark.sources.tables import load_table

    edges = build_membership_edges(spark, sf_smoke)
    sources = load_table(spark, sf_smoke, "region").select(
        md5_key(F.lit("region"), "r_name").alias("id")
    )
    out = khop_distances(edges, sources, k=3)
    assert out.count() == out.select("id").distinct().count()
    by_dist = {r.dist: r.n for r in out.groupBy("dist").agg(F.count("*").alias("n")).collect()}
    assert set(by_dist) == {0, 1, 2}
    assert by_dist[0] == load_table(spark, sf_smoke, "region").count()
    assert by_dist[1] == load_table(spark, sf_smoke, "nation").select("n_name").distinct().count()


def _assert_min_propagation_labels(spark, edge_rows, rounds, want):
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    vertices = spark.createDataFrame([(i,) for i in want], "id long")
    got = {
        r.id: r.component
        for r in connected_components(vertices, edges, max_iter=rounds).collect()
    }
    assert got == want


def test_min_propagation_reaches_component_minimum(spark):
    """Fixed-round propagation with rounds >= the component diameter
    gives every vertex its TRUE component minimum on a path graph (worst
    case for propagation) with a triangle and an isolated vertex."""
    # path 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated 99
    _assert_min_propagation_labels(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        4,
        {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 99: 99},
    )


def test_min_propagation_adversarial_path(spark):
    """Adversarially ordered paths whose ids decrease away from the tail
    minimum (the counterexamples that split one component in two under
    the retired pointer-jump round count) still reach the true component
    minimum within diameter rounds."""
    # path 2-5-4-3-1 (diameter 4)
    _assert_min_propagation_labels(
        spark, [(2, 5), (5, 4), (4, 3), (3, 1)], 4, {i: 1 for i in range(1, 6)}
    )
    # 9-vertex path with ids decreasing away from the tail min
    _assert_min_propagation_labels(
        spark,
        [(2, 9), (9, 8), (8, 7), (7, 6), (6, 5), (5, 4), (4, 3), (3, 1)],
        8,
        {i: 1 for i in range(1, 10)},
    )


def test_khop_distances_dedupes_duplicate_sources(spark):
    """A source listed twice is one dist-0 row: k-hop returns one row
    per vertex, as its oracle's GROUP BY id and multi_source_distances
    do (the shared min-relaxation fold dedupes its seeds)."""
    from leader_graph_spark.graph.algorithms import khop_distances

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    sources = spark.createDataFrame([("a",), ("a",)], "id string")
    out = sorted(tuple(r) for r in khop_distances(edges, sources, k=2).collect())
    assert out == [("a", 0), ("b", 1), ("c", 2)]
    # with no hop at all, only the seed fold stands between the
    # duplicate and the result
    assert [tuple(r) for r in khop_distances(edges, sources, k=0).collect()] == [("a", 0)]


def test_relaxation_loops_take_one_checkpoint_per_round(spark, monkeypatch):
    """On the path v0 -> v6 with round budgets far past its length, BFS,
    SSSP, SCC's backward mark and ancestor_closure take one checkpoint
    per round actually run on top of their fixed prologue, and none
    after the first round that finds nothing new."""
    n = 7
    path = [(f"v{i}", f"v{i + 1}") for i in range(n - 1)]
    edges = spark.createDataFrame(path, "src string, dst string")
    seeds = spark.createDataFrame([("v0",)], "id string")
    calls, steps = [], []
    ckpt, step = alg._checkpoint_observed, alg._Loop.step
    monkeypatch.setattr(
        alg, "_checkpoint_observed", lambda df, **p: calls.append(1) or ckpt(df, **p)
    )
    monkeypatch.setattr(
        alg._Loop, "step", lambda loop, name, df, **p: steps.append(name) or step(loop, name, df, **p)
    )

    def checkpoints(run):
        calls.clear()
        steps.clear()
        run().collect()
        return len(calls)

    # prologue: the loop input and the seeds; rounds 1-6 each reach one
    # vertex more, round 7 reaches none
    assert checkpoints(lambda: alg.khop_distances(edges, seeds, k=20)) == 2 + n
    assert checkpoints(lambda: alg.multi_source_distances(edges, seeds, k=20)) == 2 + n
    weighted = edges.withColumn("w", F.lit(3).cast("long"))
    assert checkpoints(lambda: alg.weighted_sssp(weighted, seeds, rounds=20)) == 2 + n
    contacts = edges.withColumn("t", F.lit(3).cast("long"))
    assert checkpoints(lambda: alg.temporal_earliest_arrival(contacts, seeds, rounds=20)) == 2 + n
    # prologue: the parent table; rounds 2-6 add a level, round 7 none
    parents = edges.select(F.col("dst").alias("child"), F.col("src").alias("parent"))
    assert checkpoints(lambda: alg.ancestor_closure(parents, max_rounds=20)) == n
    # on the cycle v0 -> ... -> v6 -> v0 the mark checkpoints its root,
    # then runs rounds 1-6 that mark one vertex each and round 7 that
    # marks none; every checkpoint is a loop step
    cycle = spark.createDataFrame(path + [(f"v{n - 1}", "v0")], "src string, dst string")
    verts = cycle.select(F.col("src").alias("id"))
    assert checkpoints(lambda: alg.strongly_connected_components(verts, cycle)) == len(steps)
    assert steps.count(("assigned", 0)) == 1 + n


def test_two_phase_cc_matches_propagation(spark):
    """Large-star/small-star must produce exactly the converged
    min-reachable-id labels on adversarial shapes: long paths with
    hostile id orderings (the pointer-jump counterexample), cycles,
    multiple components, isolated vertices."""
    import random

    from leader_graph_spark.graph.algorithms import (
        connected_components,
        connected_components_two_phase,
    )

    rnd = random.Random(5)
    # 64-vertex path with shuffled ids (diameter 63), plus a triangle
    # and two isolated vertices
    ids = list(range(100, 164))
    rnd.shuffle(ids)
    path_edges = list(zip(ids, ids[1:]))
    tri = [(900, 901), (901, 902), (900, 902)]
    edges = spark.createDataFrame(path_edges + tri, "src long, dst long")
    vertices = spark.createDataFrame(
        [(i,) for i in ids + [900, 901, 902, 7777, 8888]], "id long"
    )
    want = {
        (r.id, r.component)
        for r in connected_components(vertices, edges, max_iter=70).collect()
    }
    got = {
        (r.id, r.component)
        for r in connected_components_two_phase(vertices, edges).collect()
    }
    assert got == want
    assert (7777, 7777) in got and (902, 900) in got
    assert {c for i, c in got if 100 <= i < 164} == {min(ids)}


def test_two_phase_cc_round_count_beats_diameter(spark, monkeypatch):
    """The point of the algorithm: on a 200-vertex path (diameter 199)
    whose ids descend along it, large-star/small-star converges on its
    own within 12 star rounds, while min-label propagation capped at
    the same 12 rounds (driver solve off) leaves the path unconverged —
    the O(log^2 n) vs O(diameter) separation, counted not argued."""
    ids = list(range(200))
    path = list(zip(ids[::-1], ids[::-1][1:]))
    edges = spark.createDataFrame(path, "src long, dst long")
    vertices = spark.createDataFrame([(i,) for i in ids], "id long")
    steps = []
    step = alg._Loop.step
    monkeypatch.setattr(
        alg._Loop, "step", lambda loop, name, df, **p: steps.append(name) or step(loop, name, df, **p)
    )

    out = alg.connected_components_two_phase(vertices, edges)
    assert {r.component for r in out.collect()} == {0}
    # steps: the loop input, its canonical edge set, then one per star
    # round (the last one finds the fingerprint unchanged)
    star_rounds = len(steps) - 2
    assert 1 <= star_rounds <= 12, star_rounds

    steps.clear()
    hops = []
    fold = alg._min_fold
    monkeypatch.setattr(alg, "_min_fold", lambda *a, **kw: hops.append(1) or fold(*a, **kw))
    monkeypatch.setattr(alg, "DRIVER_CC_MAX_EDGES", 0)
    out = connected_components(vertices, edges, max_iter=12)
    labels = {r.id: r.component for r in out.collect()}
    # 12 relaxation hops, two per checkpoint: every step's last hop
    # still changed a label
    assert len(hops) == 12 and steps.count("state") == 6
    # after 12 hops a vertex knows the minimum within 12 steps of it
    assert labels[199] == 187 and labels[12] == 0


def test_kcore_peels_tendrils_and_converges(spark):
    """k-core peeling: paths and tendrils cascade away, the triangle
    survives; extra rounds past convergence are no-ops (the fixed
    unroll contract)."""
    from leader_graph_spark.graph.algorithms import kcore_subgraph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7), (7, 8)],
        "src long, dst long",
    )
    out4 = {(r.id, r.degree) for r in kcore_subgraph(edges, k=2, rounds=4).collect()}
    assert out4 == {(5, 2), (6, 2), (7, 2)}
    out6 = {(r.id, r.degree) for r in kcore_subgraph(edges, k=2, rounds=6).collect()}
    assert out6 == out4
    # k=3: the triangle dies too
    assert kcore_subgraph(edges, k=3, rounds=4).count() == 0


def test_merge_components_chained_batches(spark):
    """Sequential delta batches must compose: merging batch after batch
    equals one full recompute over everything — including deltas that
    bridge previously separate components and introduce new vertices."""
    from pyspark.sql import functions as F  # noqa: F401

    from leader_graph_spark.graph.algorithms import (
        connected_components,
        merge_components,
    )

    base = spark.createDataFrame([(1, 2), (5, 6), (10, 11)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 5, 6, 10, 11)], "id long")
    labels = connected_components(verts, base)
    deltas = [
        [(2, 5)],            # bridge {1,2} and {5,6}
        [(20, 21), (21, 6)], # new vertices chained into the merged comp
        [(11, 20)],          # bridge everything except nothing remains
    ]
    all_edges = base
    for d in deltas:
        ddf = spark.createDataFrame(d, "src long, dst long")
        labels = merge_components(labels, ddf).localCheckpoint()
        all_edges = all_edges.unionByName(ddf)
        full_verts = all_edges.selectExpr("src AS id").unionByName(
            all_edges.selectExpr("dst AS id")
        ).distinct()
        want = {
            (r.id, r.component)
            for r in connected_components(full_verts, all_edges).collect()
        }
        got = {(r.id, r.component) for r in labels.collect()}
        assert got == want, d
    assert {c for _, c in got} == {1}


def test_merge_components_driver_path_equals_distributed(spark, monkeypatch):
    """The size-guarded driver solve of the quotient graph
    must be bit-identical to the distributed quotient CC it replaces
    (``cc.driverMaxEdges=0`` forces the loop, and the loop must run)."""
    from leader_graph_spark.graph import algorithms

    base = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    verts = spark.createDataFrame(
        [(v,) for v in "abcdxy"], "id string"
    )
    labels = connected_components(verts, base)
    # delta bridges two comps, chains new vertices, and carries a
    # redundant edge inside an already-merged pair
    delta = spark.createDataFrame(
        [("b", "c"), ("n1", "n2"), ("n2", "d"), ("a", "d")],
        "src string, dst string",
    )
    loops = []
    enter = algorithms._Loop.__enter__
    monkeypatch.setattr(
        algorithms._Loop, "__enter__", lambda loop: loops.append(loop) or enter(loop)
    )
    via_driver = {
        (r.id, r.component) for r in merge_components(labels, delta).collect()
    }
    assert not loops
    with mock.patch.object(algorithms, "DRIVER_CC_MAX_EDGES", 0):
        via_dist = {(r.id, r.component) for r in merge_components(labels, delta).collect()}
    assert loops
    assert via_driver == via_dist
    assert {c for i, c in via_driver if i in "abcd"} == {"a"}


def test_merge_components_loop_adds_no_quotient_checkpoint(spark, monkeypatch):
    """At ``DRIVER_CC_MAX_EDGES=0`` the quotient graph runs the loop and
    gets the driver's labels, and merge_components checkpoints nothing
    of its own: its checkpoint jobs are exactly those of connected
    components over the same quotient. A private quotient checkpoint in
    front of the gate would add one."""
    base = spark.createDataFrame([(1, 2), (3, 4), (7, 8)], "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in (1, 2, 3, 4, 7, 8)], "id long")
    labels = connected_components(verts, base).localCheckpoint()
    delta = spark.createDataFrame([(2, 3), (9, 10), (10, 4), (1, 4)], "src long, dst long")
    comp = {r.id: r.component for r in labels.collect()}
    quotient = {
        (comp.get(a, a), comp.get(b, b)) for a, b in delta.collect()
        if comp.get(a, a) != comp.get(b, b)
    }
    q_edges = spark.createDataFrame(
        sorted(quotient | {(b, a) for a, b in quotient}), "src long, dst long")
    q_verts = q_edges.select(F.col("src").alias("id")).distinct()

    jobs = []
    observed = alg._checkpoint_observed
    monkeypatch.setattr(
        alg, "_checkpoint_observed", lambda df, **p: jobs.append(1) or observed(df, **p))
    via_driver = {(r.id, r.component) for r in merge_components(labels, delta).collect()}
    assert len(jobs) == 1  # the gate's raw-edge checkpoint, then one collect
    jobs.clear()
    with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", 0):
        via_loop = {(r.id, r.component) for r in merge_components(labels, delta).collect()}
        merge_jobs = len(jobs)
        jobs.clear()
        connected_components(q_verts, q_edges).collect()
        cc_jobs = len(jobs)
    assert via_loop == via_driver
    assert {c for i, c in via_loop if i in (1, 2, 3, 4, 9, 10)} == {1}
    assert merge_jobs == cc_jobs > 0


def test_merge_components_loop_symmetrizes_the_quotient_once(spark, sf_dir):
    """Past ``DRIVER_CC_MAX_EDGES`` (patched to 0) the quotient graph of
    ``incremental_component_merge`` enters the loop symmetrized and
    de-duplicated once, by the gate: the optimized plan of the loop's
    base checkpoint holds as many Aggregate and Union nodes as the base
    CC's edge set, the bloom-filter aggregates of runtime join filters
    aside (a quotient built from ``symmetrize(new_edges)`` and ended in
    ``distinct()`` was symmetrized again: 5 and 3)."""
    from leader_graph_spark.plans import REGISTRY

    def nodes(plan: str, name: str) -> int:
        return len(re.findall(rf"(?m)^[\s:+|-]*{name} (?!\[bloom_filter_agg)", plan))

    bases = []
    enter = alg._Loop.__enter__

    def spy(loop):
        plan = loop._input._jdf.queryExecution().optimizedPlan().toString()
        bases.append((nodes(plan, "Aggregate"), nodes(plan, "Union")))
        return enter(loop)

    with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", 0), mock.patch.object(
        alg._Loop, "__enter__", spy
    ):
        REGISTRY["incremental_component_merge"].spark(spark, sf_dir)
    base_cc, quotient = bases
    assert quotient == base_cc == (1, 1), bases


def test_personalized_pagerank_decays_from_seeds(spark):
    """PPR semantics: teleport mass only on seeds ⇒ rank decays with
    distance from the seed set and unreachable vertices score 0 (plus
    nothing, since no teleport lands there)."""
    from pyspark.sql import functions as F  # noqa: F401

    from leader_graph_spark.graph.algorithms import personalized_pagerank_fixed_point

    # directed chain 1→2→3→4 plus isolated pair 8→9
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (8, 9)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    ranks = {
        r.id: r.rank
        for r in personalized_pagerank_fixed_point(edges, seeds, iterations=8).collect()
    }
    assert ranks[1] > ranks[2] > ranks[3] > ranks[4]
    assert ranks[8] == 0 and ranks[9] == 0


def test_link_prediction_ranked_path_matches_broadcast(spark, sf_dir):
    """The >limit negative-sampling path (equi-join against the
    two-phase ranked vertex table) must be BIT-IDENTICAL to the
    broadcast sorted-array path — same corruption for every edge, on
    both a toy graph and the driver-scale membership graph."""
    from leader_graph_spark.graph.algorithms import link_prediction_pairs, ranked_vertices
    from leader_graph_spark.plans.graph_queries import build_membership_edges

    toy = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)], "src long, dst long"
    )
    for edges in (toy, build_membership_edges(spark, sf_dir)):
        via_bcast = {
            tuple(r)
            for r in link_prediction_pairs(edges, broadcast_vertex_limit=10**9).collect()
        }
        via_rank = {
            tuple(r) for r in link_prediction_pairs(edges, broadcast_vertex_limit=0).collect()
        }
        assert via_rank == via_bcast
        assert any(lbl == 0 for *_, lbl in via_bcast)  # negatives exist

    # the rank helper itself: rank0 is the sorted position, and no
    # global single-reducer window appears in its plan
    vd = spark.range(0, 1000).selectExpr("CAST(id * 37 % 991 AS LONG) AS v").distinct()
    ranked = ranked_vertices(vd, n_partitions=8)
    rows = sorted((r.rank0, r.v) for r in ranked.collect())
    assert [v for _, v in rows] == sorted(v for _, v in rows)
    assert [r0 for r0, _ in rows] == list(range(len(rows)))


def test_symmetrize_disjoint_directions_identity(spark):
    """The disjoint-directions fast path must be value-identical to the
    distinct form whenever its precondition holds (bipartite distinct
    edges) — and the test also documents the precondition by building
    exactly the co-purchase shape."""
    from leader_graph_spark.graph.algorithms import symmetrize

    edges = spark.createDataFrame(
        [("c1", "p1"), ("c1", "p2"), ("c2", "p1"), ("c3", "p3")],
        ["src", "dst"],
    )
    base = symmetrize(edges)
    fast = symmetrize(edges, disjoint_directions=True)
    assert base.exceptAll(fast).count() == 0
    assert fast.exceptAll(base).count() == 0
    assert fast.count() == 8


def test_iterative_loops_release_superseded_checkpoints(spark):
    """The round-7 checkpoint-lifecycle fix, pinned for every loop:
    after an iterative algorithm completes, only its LIVE states (final
    labels + any lookup tables its returned lazy plan references) may
    remain persisted — superseded round states must be gone WITHOUT
    waiting for the async ContextCleaner (whose periodic GC defaults to
    30 minutes; the 30x battery OOM'd on exactly that lag)."""
    from pyspark.sql import functions as F

    from leader_graph_spark.graph import algorithms as alg
    from leader_graph_spark.graph.frames import DFGraph, Pregel

    def n_persisted():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def loop_branch(run):
        # force the distributed loop where a driver solve would run
        with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", 0):
            return run()

    # a path graph converges in several rounds — enough to leak if
    # superseded states weren't released
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)], ["src", "dst"]
    )
    vertices = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    seeds = spark.createDataFrame([("v00",)], "id string")
    pivots = spark.createDataFrame([("v00",), ("v12",)], "id string")
    weighted = edges.withColumn("w", F.lit(2).cast("long"))
    contacts = edges.withColumn("t", F.lit(5).cast("long"))
    g = DFGraph(vertices, edges)
    runs = {
        "CC": lambda: alg.connected_components(vertices, edges),
        "CC loop": lambda: loop_branch(lambda: alg.connected_components(vertices, edges)),
        "two-phase CC": lambda: alg.connected_components_two_phase(vertices, edges),
        "kcore": lambda: alg.kcore_subgraph(edges, k=2, rounds=8),
        "pagerank": lambda: alg.pagerank_fixed_point(edges, iterations=8),
        "personalized pagerank": lambda: alg.personalized_pagerank_fixed_point(
            edges, seeds, iterations=8
        ),
        "CC 6 hops": lambda: alg.connected_components(vertices, edges, max_iter=6),
        "CC 6 hops loop": lambda: loop_branch(
            lambda: alg.connected_components(vertices, edges, max_iter=6)
        ),
        "khop": lambda: alg.khop_distances(edges, seeds, k=6),
        "multi-source": lambda: alg.multi_source_distances(edges, pivots, k=6),
        "sssp": lambda: alg.weighted_sssp(weighted, seeds, rounds=6),
        "temporal": lambda: alg.temporal_earliest_arrival(contacts, seeds, rounds=6),
        "LPA loop": lambda: loop_branch(lambda: alg.label_propagation_fixed(edges, rounds=4)),
        "ancestor closure": lambda: alg.ancestor_closure(
            edges.select(F.col("dst").alias("child"), F.col("src").alias("parent")),
            max_rounds=8,
        ),
        "betweenness": lambda: alg.pivot_betweenness(
            alg.symmetrize(edges), pivots, k=6
        ),
        "pregel": lambda: (
            g.pregel.setMaxIter(8)
            .withVertexColumn(
                "comp",
                F.col("id"),
                F.least(F.col("comp"), F.coalesce(Pregel.msg(), F.col("comp"))),
            )
            .sendMsgToDst(Pregel.src("comp"))
            .sendMsgToSrc(Pregel.dst("comp"))
            .aggMsgs(F.min(Pregel.msg()))
            .run()
        ),
        "bfs": lambda: g.bfs("id = 'v00'", "id = 'v06'"),
    }
    for name, run in runs.items():
        before = n_persisted()
        run().count()
        # live: the final state(s) the result references. Headroom
        # tolerates engine internals, but a leak of one state PER ROUND
        # (6+ here) fails.
        leaked = n_persisted() - before
        assert leaked <= 3, f"{name} leaked checkpoints: {leaked}"


def test_scc_releases_phase_states(spark):
    """SCC has the most intricate release wiring (trim rounds, color
    rounds, backward-mark rounds, per-phase edge restriction) — pin
    its storage bound on a graph with cycles + a DAG tail."""
    from leader_graph_spark.graph.algorithms import strongly_connected_components

    def n_persisted():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        # 3-cycle, 2-cycle, and a DAG tail feeding them
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "d"),
         ("f", "a"), ("g", "f"), ("c", "d")],
        ["src", "dst"],
    )
    from pyspark.sql import functions as F
    vertices = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    base = n_persisted()
    out = strongly_connected_components(vertices, edges)
    rows = {r.id: r.component for r in out.collect()}
    assert rows["a"] == rows["b"] == rows["c"] == "a"
    assert rows["d"] == rows["e"] == "d"
    assert rows["f"] == "f" and rows["g"] == "g"
    leaked = n_persisted() - base
    # live: the assigned per-phase outputs referenced by the returned
    # union (one per trim batch / mark phase) + e_all. The multi-phase
    # loop ran dozens of checkpoints; a leak shows up far above this.
    assert leaked <= 8, f"SCC left {leaked} persisted states"


def test_scc_raises_on_round_budget_exhaustion(spark):
    """Pin the no-partial-labels contract on the INNER loops: a cycle
    whose diameter exceeds max_rounds must raise, not proceed to MARK
    with non-converged colors and silently mislabel the chain."""
    import pytest
    from pyspark.sql import functions as F

    from leader_graph_spark.graph.algorithms import strongly_connected_components

    n = 12  # a 12-cycle: color convergence needs ~n rounds
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{(i + 1) % n:02d}") for i in range(n)], ["src", "dst"]
    )
    vertices = edges.select(F.col("src").alias("id")).distinct()
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(vertices, edges, max_rounds=3).count()
    # ...and with an adequate budget the same graph labels correctly
    out = strongly_connected_components(vertices, edges, max_rounds=2 * n)
    rows = {r.id: r.component for r in out.collect()}
    assert set(rows.values()) == {"v00"}


def test_kcore_namespace_guard_raises(spark):
    """The disjoint_directions structural guard must fail loudly when
    an id lacks its namespace prefix (and pass ids through untouched
    when the invariant holds)."""
    import pytest

    from leader_graph_spark.plans.graph_queries import _namespace_guard

    good = spark.createDataFrame([("c1", "p2"), ("c3", "p4")], ["src", "dst"])
    guarded = good.select(
        _namespace_guard("src", "c", "t"), _namespace_guard("dst", "p", "t")
    )
    assert sorted(tuple(r) for r in guarded.collect()) == [("c1", "p2"), ("c3", "p4")]
    bad = spark.createDataFrame([("c1", "p2"), ("x3", "p4")], ["src", "dst"])
    with pytest.raises(Exception, match="disjoint_directions"):
        bad.select(
            _namespace_guard("src", "c", "t"), _namespace_guard("dst", "p", "t")
        ).collect()


def test_release_of_live_state_fails_loudly(spark):
    """_release is only safe on provably-dead states: localCheckpoint
    truncates lineage, so releasing a state that a live plan still
    references must fail LOUDLY at execution (not silently recompute
    wrong data). Pins the sharp edge the release discipline's call
    sites are designed around."""
    import pytest

    from leader_graph_spark.graph.algorithms import _release

    ckpt = spark.range(100).selectExpr("id", "id * 2 AS v").localCheckpoint()
    derived = ckpt.groupBy((ckpt.id % 3).alias("k")).count()
    _release(ckpt)
    with pytest.raises(Exception, match="(?i)checkpoint|block|rdd"):
        derived.count()


def test_loop_exec_conf_scopes_and_restores(spark):
    """_loop_exec_conf: static AQE-off execution with derived partition
    count inside the scope, exact restoration outside, and a NO-OP
    above the STATIC_LOOP_MAX_ROWS threshold (the 100 TB guard)."""
    from leader_graph_spark.graph.algorithms import _loop_exec_conf

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with _loop_exec_conf(spark, 100_000) as c:
        assert c.active
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # ceil(100k / 250k) = 1 → floor 4
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        # nested scopes restore to the OUTER static values
        with _loop_exec_conf(spark, 2_000_000):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts

    # above the threshold: nothing changes (cluster-scale loops keep AQE)
    with _loop_exec_conf(spark, 60_000_000) as c:
        assert not c.active
        assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe

    # the threshold is read when the scope opens
    with mock.patch.object(alg, "STATIC_LOOP_MAX_ROWS", 1000):
        with _loop_exec_conf(spark, 5_000) as c:
            assert not c.active


def test_loop_exec_conf_restores_on_exception(spark):
    from leader_graph_spark.graph.algorithms import _loop_exec_conf

    before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        with _loop_exec_conf(spark, 1_000):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_serialized_checkpoint_knob(spark):
    """``CKPT_SER_CONF=true`` must (a) be honored by _ckpt_level and
    (b) leave every algorithm's output unchanged — the level is a
    storage-format decision, never a semantic one. The round-9 spill battery measured the payoff: the
    x30 k-core run dies at a 6g heap under deserialized checkpoint
    blocks (execution memory starvation) and completes in ~49s
    serialized."""
    from pyspark.storagelevel import StorageLevel

    from leader_graph_spark.graph.algorithms import (
        CKPT_SER_CONF,
        _ckpt_level,
        connected_components,
        kcore_subgraph,
    )

    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (5, 7)], "src long, dst long"
    )
    try:
        spark.conf.set(CKPT_SER_CONF, "false")
        assert _ckpt_level(spark) is None
        cc_def = {(r.id, r.component) for r in connected_components(vertices, edges).collect()}
        kc_def = {(r.id, r.degree) for r in kcore_subgraph(edges, k=2, rounds=4).collect()}

        spark.conf.set(CKPT_SER_CONF, "true")
        lvl = _ckpt_level(spark)
        assert lvl == StorageLevel.MEMORY_AND_DISK  # pyspark's SER variant
        cc_ser = {(r.id, r.component) for r in connected_components(vertices, edges).collect()}
        kc_ser = {(r.id, r.degree) for r in kcore_subgraph(edges, k=2, rounds=4).collect()}
        assert cc_ser == cc_def
        assert kc_ser == kc_def and kc_ser  # the triangle 5-6-7 survives
    finally:
        spark.conf.set(CKPT_SER_CONF, "false")


def test_auto_serialized_checkpoint_flips_under_pressure(spark, monkeypatch):
    """Round-10 VERDICT #5: when a materialized loop-state checkpoint
    exceeds ``CKPT_AUTO_FRACTION`` of the storage budget, subsequent
    session checkpoints auto-switch to the serialized level. A
    microscopic fraction makes ANY state trip the trigger; results
    must be unchanged."""
    sess = spark.newSession()  # isolate the sticky conf flip
    monkeypatch.setattr(alg, "CKPT_AUTO_FRACTION", 1e-9)
    try:
        vertices = sess.createDataFrame([(v,) for v in "abcdefg"], "id string")
        edges = sess.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g")], "src string, dst string"
        )
        out = {r.id: r.component for r in connected_components(vertices, edges).collect()}
        assert out["a"] == out["b"] == out["c"]
        assert out["d"] == out["e"] != out["a"]
        assert (sess.conf.get(CKPT_SER_CONF, "false") or "").lower() == "true"
    finally:
        sess.conf.unset(CKPT_SER_CONF)


def test_auto_serialized_checkpoint_stays_off_on_healthy_heap(spark):
    """Default fraction (0.5): a tiny loop state must NOT flip the
    session to serialized checkpoints — the ~37% healthy-heap tax
    stays out of the default path."""
    sess = spark.newSession()
    vertices = sess.createDataFrame([(v,) for v in "abcd"], "id string")
    edges = sess.createDataFrame([("a", "b"), ("c", "d")], "src string, dst string")
    assert connected_components(vertices, edges).count() == 4
    assert (sess.conf.get(CKPT_SER_CONF, "false") or "").lower() == "false"


def test_starvation_death_retries_round_at_serialized_level(spark, monkeypatch):
    """Round-10 hardening: a default-level loop checkpoint that DIES of
    memory starvation (the r9 6g failure mode — the FIRST oversized
    state can die while materializing, before any post-materialization
    measurement runs) must flip the session to the serialized level and
    retry the round once; non-starvation failures must propagate
    untouched. Simulated by making the default-level localCheckpoint
    path raise the engine's starvation marker."""
    # patch the CONCRETE class (pyspark 4 splits the abstract
    # pyspark.sql.dataframe.DataFrame from the classic implementation)
    import pyspark.sql.classic.dataframe as df_mod

    from leader_graph_spark.graph.algorithms import (
        CKPT_SER_CONF,
        _checkpoint_observed,
    )
    from pyspark.sql import functions as F

    sess = spark.newSession()  # isolate the sticky conf flip
    real_ckpt = df_mod.DataFrame.localCheckpoint
    died = {"n": 0}

    def dying_default(self, eager=True, storageLevel=None):
        if storageLevel is None:  # only the default-level attempt dies
            died["n"] += 1
            raise RuntimeError(
                "Job aborted: org.apache.spark.memory.SparkOutOfMemoryError: "
                "[UNABLE_TO_ACQUIRE_MEMORY] Unable to acquire 65536 bytes"
            )
        return real_ckpt(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(df_mod.DataFrame, "localCheckpoint", dying_default)
    try:
        state = sess.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
        out, get = _checkpoint_observed(state, n=F.count(F.lit(1)))
        assert died["n"] == 1  # the default attempt died exactly once
        assert (sess.conf.get(CKPT_SER_CONF, "false") or "").lower() == "true"
        assert out.count() == 100 and get["n"] == 100  # retry carried the probe
    finally:
        monkeypatch.setattr(df_mod.DataFrame, "localCheckpoint", real_ckpt)
        sess.conf.unset(CKPT_SER_CONF)

    # a non-starvation failure must NOT be retried or flipped
    sess2 = spark.newSession()

    def dying_other(self, eager=True, storageLevel=None):
        if storageLevel is None:
            raise RuntimeError("FileNotFoundException: shuffle file lost")
        return real_ckpt(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(df_mod.DataFrame, "localCheckpoint", dying_other)
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="shuffle file lost"):
            _checkpoint_observed(sess2.range(10), n=F.count(F.lit(1)))
        assert (sess2.conf.get(CKPT_SER_CONF, "false") or "").lower() == "false"
    finally:
        monkeypatch.setattr(df_mod.DataFrame, "localCheckpoint", real_ckpt)


def test_lcc_adjacency_intersection_matches_naive(spark, sf_smoke):
    """supplier_clustering_coefficients counts triangles by
    degree-oriented adjacency intersection; pin it against a naive
    driver-side enumeration of the same shared-part graph (tiny at
    sf0.001), corner credits and the exact-ppm division included."""
    from itertools import combinations

    from leader_graph_spark.plans.graph_queries import (
        supplier_clustering_coefficients,
    )
    from leader_graph_spark.sources.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    sp = {
        (r["l_suppkey"], r["l_partkey"])
        for r in li.select("l_suppkey", "l_partkey").distinct().collect()
    }
    by_part: dict[int, set[int]] = {}
    for s, p in sp:
        by_part.setdefault(p, set()).add(s)
    edges = {
        (a, b)
        for supps in by_part.values()
        for a, b in combinations(sorted(supps), 2)
    }
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    tri = {v: 0 for v in nbrs}
    for u, v in edges:
        for w in nbrs[u] & nbrs[v]:
            if w > v:  # each triangle once: u < v < w by construction
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
    expect = {
        v: (len(nbrs[v]), tri[v], (2_000_000 * tri[v]) // (len(nbrs[v]) * (len(nbrs[v]) - 1)))
        for v in nbrs
        if len(nbrs[v]) >= 2
    }
    got = {
        r["supp_id"]: (r["degree"], r["n_triangles"], r["lcc_ppm"])
        for r in supplier_clustering_coefficients(spark, sf_smoke).collect()
    }
    assert got == expect and got  # non-empty and exactly equal
    # r10: the default path at smoke scale is the broadcast BITSET
    # edge-iterator; force the size guard to 1 byte to exercise the
    # degree-oriented large-graph fallback and pin both paths to the
    # same naive enumeration.
    from leader_graph_spark.plans import graph_queries

    with mock.patch.object(graph_queries, "LCC_BROADCAST_MAX_BYTES", 1):
        oriented = supplier_clustering_coefficients(spark, sf_smoke)
    plan = oriented._jdf.queryExecution().analyzed().toString()
    assert "array_intersect" in plan and "map_zip_with" not in plan  # the sparse path ran
    got_oriented = {
        r["supp_id"]: (r["degree"], r["n_triangles"], r["lcc_ppm"])
        for r in oriented.collect()
    }
    assert got_oriented == expect


def test_weighted_sssp_relaxes_cheaper_multihop(spark):
    """A later, longer path that is CHEAPER must overwrite the first
    distance written — the case the BFS visited-set shortcut would get
    wrong — and bounded rounds must expose the pre-relaxation value."""
    from leader_graph_spark.graph.algorithms import weighted_sssp

    edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 1), ("c", "b", 2), ("x", "y", 5)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "id string")
    one = {r.id: r.dist for r in weighted_sssp(edges, seeds, rounds=1).collect()}
    assert one == {"a": 0, "b": 10, "c": 1}  # direct edges only
    two = {r.id: r.dist for r in weighted_sssp(edges, seeds, rounds=2).collect()}
    assert two == {"a": 0, "b": 3, "c": 1}  # b improved via c; x/y unreachable
    # extra rounds are no-ops once converged
    assert two == {r.id: r.dist for r in weighted_sssp(edges, seeds, rounds=4).collect()}


def test_multi_source_distances_tracks_pivots_separately(spark):
    """Two pivots on a path: each (vertex, pivot) lane carries its own
    hop count, unreached lanes are absent, and k bounds the reach."""
    from leader_graph_spark.graph.algorithms import multi_source_distances

    # path a-b-c-d plus isolated z
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    pivots = spark.createDataFrame([("a",), ("d",)], "id string")
    out = {
        (r.id, r.pivot): r.dist
        for r in multi_source_distances(edges, pivots, k=2).collect()
    }
    assert out == {
        ("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2,
        ("d", "d"): 0, ("c", "d"): 1, ("b", "d"): 2,
    }  # d not reached from a (3 hops > k), z in no lane


def test_temporal_earliest_arrival_respects_time_order(spark):
    """A contact earlier than the source's own arrival must NOT
    transmit; a later chain must; arrival is the contact's time."""
    from leader_graph_spark.graph.algorithms import temporal_earliest_arrival

    contacts = spark.createDataFrame(
        [
            ("a", "b", 5),   # a(0) -> b arrives day 5
            ("b", "c", 3),   # happened BEFORE b knew (3 < 5): no transmit
            ("b", "d", 7),   # 7 >= 5: d arrives day 7
            ("d", "c", 9),   # c finally arrives day 9 via d
        ],
        "src string, dst string, t long",
    )
    seeds = spark.createDataFrame([("a",), ("a",)], "id string")  # dup seed on purpose
    out = {r.id: r.arrival for r in temporal_earliest_arrival(contacts, seeds, rounds=3).collect()}
    assert out == {"a": 0, "b": 5, "d": 7, "c": 9}


def test_relaxation_loops_agree_under_static_scope_and_aqe(spark, monkeypatch):
    """Every caller of the min-relaxation loop returns the same rows
    inside the static AQE-off scope (the default at this size) and with
    STATIC_LOOP_MAX_ROWS patched to 0, where its loops run under the
    session's AQE settings."""
    big = 2**62
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 7), (big, 1), (8, 8), (1, 2)],
        "src bigint, dst bigint",
    )
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6, 7, 8, 99, big)], "id bigint")
    seeds = spark.createDataFrame([(1,), (1,), (6,), (99,)], "id bigint")
    weighted = edges.withColumn("w", F.col("src") % 3 + 1)
    contacts = edges.withColumn("t", (F.col("dst") * 7) % 5)
    runs = {
        "khop": lambda: alg.khop_distances(edges, seeds, k=3),
        "multi-source": lambda: alg.multi_source_distances(edges, seeds, k=3),
        "sssp": lambda: alg.weighted_sssp(weighted, seeds, rounds=6),
        "temporal": lambda: alg.temporal_earliest_arrival(contacts, seeds, rounds=6),
        "CC loop": lambda: alg.connected_components(verts, edges),
        "SCC": lambda: alg.strongly_connected_components(verts, edges),
    }
    monkeypatch.setattr(alg, "DRIVER_CC_MAX_EDGES", 0)
    active = []
    step = alg._Loop.step
    monkeypatch.setattr(
        alg._Loop, "step", lambda loop, *a, **p: active.append(loop.active) or step(loop, *a, **p)
    )
    for name, run in runs.items():
        active.clear()
        static = sorted(tuple(r) for r in run().collect())
        assert any(active), name
        with mock.patch.object(alg, "STATIC_LOOP_MAX_ROWS", 0):
            active.clear()
            adaptive = sorted(tuple(r) for r in run().collect())
            assert not any(active), name
        assert static and static == adaptive, name


def test_loop_partitioned_gate_and_layout(spark):
    """_Loop's static-side layout (r10): in an active static scope of at
    least PARTITIONED_MIN_ROWS rows the loop input comes back
    hash-partitioned and sorted on the round key with the scope's
    pinned partition count, so per-round SMJs elide the exchange+sort
    on that side; below the gate the input checkpoint is used as it is
    (the up-front repartition job is a measured net loss for tiny loop
    states). With the layout pinned, Catalyst's own broadcasts are off
    inside the scope (a small checkpointed state is joined by sort-merge
    on its layout, not broadcast every round) and back on after it."""
    from leader_graph_spark.graph.algorithms import _Loop

    auto_bcast = "spark.sql.autoBroadcastJoinThreshold"
    session_bcast = spark.conf.get(auto_bcast)
    df = spark.range(100).select(
        F.col("id").cast("string").alias("src"), F.lit("x").alias("dst")
    )

    def layout(min_rows=alg.PARTITIONED_MIN_ROWS):
        try:
            with mock.patch.object(alg, "PARTITIONED_MIN_ROWS", min_rows), _Loop(
                df, key="src"
            ) as loop:
                plan = loop.base._jdf.queryExecution().executedPlan()
                assert sorted(r.src for r in loop.base.collect()) == sorted(
                    str(i) for i in range(100)
                )
                state = loop.step("state", loop.base.select(F.col("src").alias("id")).distinct())
                round_plan = (
                    loop.base.join(state, loop.base.src == state.id)
                    ._jdf.queryExecution().executedPlan().toString()
                )
                return (
                    plan.outputPartitioning().toString(),
                    plan.outputOrdering().toString(),
                    loop.base.rdd.getNumPartitions(),
                    int(spark.conf.get("spark.sql.shuffle.partitions")),
                    "BroadcastHashJoin" in round_plan,
                )
        finally:
            assert spark.conf.get(auto_bcast) == session_bcast

    # n = 100 rows >= a gate of 100: layout applied
    part, order, n_parts, static_parts, broadcast = layout(100)
    assert part.startswith("hashpartitioning(src") and "ASC" in order
    assert n_parts == static_parts
    assert not broadcast
    # below the gate (patched or the default 10k): the plain input
    # checkpoint, whose small state the planner broadcasts as the
    # session allows
    for part, *_, broadcast in (layout(101), layout()):
        assert "hashpartitioning" not in part
        assert broadcast


def test_min_fold_equals_full_outer_fold(spark):
    """_min_fold (r10): the one-exchange tagged-union aggregate must be
    value-identical to the full-outer join + ``least`` fold it replaced,
    across every per-id case: state-only (no candidate), candidate-only
    (new vertex), both with strict improvement, both with a tie (NOT an
    improvement — strict <), both with a worse candidate, and multiple
    candidate rows per id (the min the join form pre-aggregated)."""
    from pyspark.sql import functions as F

    from leader_graph_spark.graph.algorithms import _min_fold

    state = spark.createDataFrame(
        [("keep", 5), ("tie", 7), ("worse", 2), ("better", 9)],
        "id string, dist long",
    )
    relaxed = spark.createDataFrame(
        [("tie", 7), ("worse", 4), ("better", 6), ("better", 3), ("new", 8)],
        "id string, dist long",
    )
    got = {
        (r.id): (r.dist, bool(r._improved) if r._improved is not None else None)
        for r in _min_fold(state, relaxed, "dist").collect()
    }
    # reference: the retired full-outer join + least fold, verbatim
    cand = relaxed.groupBy("id").agg(F.min("dist").alias("cdist"))
    ref_rows = (
        state.join(cand, "id", "full")
        .select(
            "id",
            F.least(F.col("dist"), F.col("cdist")).alias("ndist"),
            (F.col("dist").isNull() | (F.col("cdist") < F.col("dist"))).alias(
                "_improved"
            ),
        )
        .collect()
    )
    ref = {
        r.id: (r.ndist, bool(r._improved) if r._improved is not None else None)
        for r in ref_rows
    }
    # _improved null-vs-false both filter/sum identically; normalize
    norm = lambda d: {k: (v, bool(i)) for k, (v, i) in d.items()}  # noqa: E731
    assert norm(got) == norm(ref)
    assert norm(got) == {
        "keep": (5, False),
        "tie": (7, False),
        "worse": (2, False),
        "better": (3, True),
        "new": (8, True),
    }


def test_kcore_broadcast_and_shuffled_survivor_paths_agree(spark):
    """kcore_subgraph (r10): the broadcast-guarded survivor semi-joins
    must return EXACTLY the shuffled path's core (guard forced off via
    BCAST_FRONTIER_MAX_ROWS=-1) — same vertices, same degrees."""
    from leader_graph_spark.graph.algorithms import kcore_subgraph

    # K4 on a-d (core), plus a pendant chain e-f-g that peels off in
    # cascades, plus an isolated edge pair.
    core = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(
        core + [("d", "e"), ("e", "f"), ("f", "g"), ("x", "y")],
        "src string, dst string",
    )
    bcast = alg._Loop.broadcast

    def core(limit):
        hinted = []

        def spy(loop, df, n_rows):
            out = bcast(loop, df, n_rows)
            hinted.append(out is not df)
            return out

        with mock.patch.object(alg, "BCAST_FRONTIER_MAX_ROWS", limit), mock.patch.object(
            alg._Loop, "broadcast", spy
        ):
            got = {(r.id, r.degree) for r in kcore_subgraph(edges, k=3, rounds=6).collect()}
        return got, hinted

    got_bcast, hinted = core(alg.BCAST_FRONTIER_MAX_ROWS)
    assert hinted and all(hinted)
    got_shuffled, hinted = core(-1)
    assert hinted and not any(hinted)
    assert got_bcast == got_shuffled == {(v, 3) for v in "abcd"}


def test_skew_guarded_pairs_hot_key_split_exact(spark):
    """skew_guarded_self_pairs (r11): a synthetic hot key past the
    fanout cap must route through the SALTED branch and still produce
    the exact pair multiset of the plain self-join — in both the
    ordered (a < b) and bidirectional (a != b) forms, with cold groups
    riding the original symmetric join alongside. A cap of 0 salts
    every group and still gives the exact pairs."""
    from pyspark.sql import functions as F

    from leader_graph_spark.graph import derived
    from leader_graph_spark.graph.derived import skew_guarded_self_pairs

    rows = [("hot", i) for i in range(1, 12)] + [("cold", 1), ("cold", 2), ("cold", 3)]
    df = spark.createDataFrame(rows, "g string, id long")
    cases = [
        (cap, ordered, op)
        for cap in (5, 0)  # 5: the 11-member group is hot; 0: every group is
        for ordered, op in ((True, lambda a, b: a < b), (False, lambda a, b: a != b))
    ]
    for cap, ordered, op in cases:
        with mock.patch.object(derived, "PAIR_HOT_CAP", cap), mock.patch.object(
            derived, "PAIR_SALT_BUCKETS", 4
        ):
            out = skew_guarded_self_pairs(
                df,
                group_col="g",
                id_col="id",
                emit=lambda: [
                    F.col("a.g").alias("g"),
                    F.col("a.id").alias("id_1"),
                    F.col("b.id").alias("id_2"),
                ],
                ordered=ordered,
            )
            got = sorted((r.g, r.id_1, r.id_2) for r in out.collect())
            want = sorted(
                (g1, i1, i2)
                for (g1, i1) in rows
                for (g2, i2) in rows
                if g1 == g2 and op(i1, i2)
            )
            assert got == want
            # the guard path must really be in the plan: the left side
            # keys on its deterministic bucket and the right side
            # explodes the (constant-folded) bucket sequence
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "pmod(xxhash64" in plan and "Generate explode" in plan


def _driver_and_loop_labels(spark, cases):
    """Labels of ``connected_components`` per ``(name, max_iter)`` case,
    asserting that the driver kernel (the default ``DRIVER_CC_MAX_EDGES``
    routes every unit-scale graph to it) and the forced loop (limit 0)
    agree hop for hop. Each case also runs at the smallest limit one of
    the two observed counts meets — raw rows <= limit < symmetric pairs
    (solved from the raw rows) and raw rows > limit >= symmetric pairs
    (solved from the symmetric checkpoint) — and one below it, where the
    loop runs over that symmetric checkpoint."""

    def labels(edges, verts, max_iter, limit=alg.DRIVER_CC_MAX_EDGES):
        with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", limit):
            out = connected_components(verts, edges, max_iter=max_iter)
            return {(r.id, r.component) for r in out.collect()}, out

    by_case = {}
    for name, rows, ids, id_type, max_iter in cases:
        edges = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")
        verts = spark.createDataFrame([(v,) for v in ids], f"id {id_type}")
        via_driver, driver_out = labels(edges, verts, max_iter)
        # the driver labels enter the plan as an Arrow LocalRelation, not
        # a LogicalRDD over Python workers
        assert "LocalRelation" in driver_out._jdf.queryExecution().analyzed().toString()
        via_loop = labels(edges, verts, max_iter, 0)[0]
        assert via_driver == via_loop, (name, max_iter)
        assert len(via_driver) == len(set(ids))
        by_case[name, max_iter] = via_driver
        n_raw = len(rows)
        n_sym = len({(s, d) for s, d in rows} | {(d, s) for s, d in rows})
        if n_raw == n_sym:
            continue
        boundary = min(n_raw, n_sym)
        for limit, on_driver in ((boundary, True), (boundary - 1, False)):
            at_limit, out = labels(edges, verts, max_iter, limit)
            plan = out._jdf.queryExecution().analyzed().toString()
            assert ("LocalRelation" in plan) == on_driver, f"limit {limit}: wrong branch"
            assert at_limit == via_loop, f"driver limit {limit} disagrees with the loop"
    return by_case


def test_connected_components_driver_and_loop_paths_agree(spark):
    """Converged labels agree on the driver and in the loop. The inputs
    carry what the driver graph's de-duplication must get right
    (duplicate rows, both directions of an edge, self-loops, null
    endpoints, isolated vertices, bigint ids past 2**53), an empty and
    an all-null edge set."""
    big = 2**62
    converged = [
        (
            "strings",
            [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("x", "y"), ("x", "x"),
             ("p", "q"), ("q", "r"), ("r", "s"), ("n", None), (None, "m")],
            list("abcxypqrsnm") + ["z", None],
            "string",
        ),
        (
            "bigints",
            [(big + 3, big + 1), (big + 1, big + 3), (big + 2, big + 1),
             (7, 5), (7, 5), (5, 7), (7, 5), (5, 5), (5, 5)],
            [big + 1, big + 2, big + 3, 5, 7, 9],
            "bigint",
        ),
        ("empty", [], ["a", "b", None], "string"),
        ("all null", [(None, None), (None, None)], ["a", None], "string"),
    ]
    by_case = _driver_and_loop_labels(spark, [(*c, 25) for c in converged])

    via_driver = by_case["strings", 25]
    assert ("z", "z") in via_driver  # isolated vertex keeps its own label
    assert {c for i, c in via_driver if i in tuple("pqrs")} == {"p"}
    assert {c for i, c in via_driver if i in tuple("abc")} == {"a"}
    assert ("x", "x") in via_driver and ("y", "x") in via_driver
    # a null endpoint joins nothing: n and m stay their own components,
    # and the null vertex has no label
    assert {("n", "n"), ("m", "m"), (None, None)} <= via_driver
    # no edge, or only null ones: every vertex is its own component
    assert by_case["empty", 25] == {("a", "a"), ("b", "b"), (None, None)}
    assert by_case["all null", 25] == {("a", "a"), (None, None)}


def test_min_propagation_driver_and_loop_paths_agree(spark):
    """Fixed-round propagation (``max_iter`` below a path's diameter)
    leaves it unconverged the same way on the driver and in the loop.
    The inputs carry duplicate rows, both directions of an edge,
    self-loops, null endpoints, isolated vertices and bigint ids past
    2**53."""
    big = 2**62
    bounded = [
        (
            "string path",
            [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a"), ("e", "d"), ("x", "x"),
             ("y", "x"), ("n", None), (None, "m")],
            list("abcdexynm") + ["z", None],
            "string",
        ),
        (
            "bigint path",
            [(big + 5, big + 4), (big + 4, big + 3), (big + 3, big + 1), (7, 5), (5, 7),
             (5, 5), (9, None)],
            [big + 1, big + 3, big + 4, big + 5, 5, 7, 9, 11],
            "bigint",
        ),
    ]
    by_case = _driver_and_loop_labels(
        spark, [(*c, max_iter) for c in bounded for max_iter in (1, 2, 5)]
    )
    # two hops from the path's minimum reach c, not d (converged, d
    # would be labelled a); a null endpoint joins nothing
    assert {("c", "a"), ("d", "b"), ("e", "c"), ("z", "z"), ("y", "x"), ("n", "n"),
            (None, None)} <= by_case["string path", 2]
    assert ("e", "a") in by_case["string path", 5] and ("c", "b") in by_case["string path", 1]
    assert (big + 5, big + 3) in by_case["bigint path", 2]
    assert (big + 5, big + 1) in by_case["bigint path", 5]


def test_connected_components_small_graph_solves_on_driver(spark):
    """CC's driver branch submits only the raw edge checkpoint and one
    Arrow collect: two jobs of one stage each, no shuffle stage.
    Symmetrizing before the read adds a shuffle-map job for its
    distinct; the loop adds a checkpoint per round."""
    sc = spark.sparkContext
    edges = spark.range(30).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 30).alias("dst")
    )
    verts = spark.range(32)
    group = "test_cc_small_graph_jobs"
    sc.setJobGroup(group, "connected_components on a 30-cycle")
    try:
        out = connected_components(verts, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) <= 2, jobs
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(stages) <= 2, stages
    assert {(r.id, r.component) for r in out.collect()} == {
        (v, 0 if v < 30 else v) for v in range(32)
    }


@pytest.mark.parametrize("value", ["yes", "1"])
def test_checkpoint_serialized_rejects_bad_value(spark, value):
    """``CKPT_SER_CONF``, the one session conf, is input from outside
    the program: a value other than true or false fails loudly, naming
    the key, in every loop entry point instead of picking a storage
    level it cannot read."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    spark.conf.set(CKPT_SER_CONF, value)
    try:
        with pytest.raises(ValueError, match=re.escape(CKPT_SER_CONF)):
            connected_components(verts, edges)
        with pytest.raises(ValueError, match=re.escape(CKPT_SER_CONF)):
            label_propagation_fixed(edges, rounds=1)
        with pytest.raises(ValueError, match=re.escape(CKPT_SER_CONF)):
            merge_components(verts.select("id", F.col("id").alias("component")), edges)
    finally:
        spark.conf.unset(CKPT_SER_CONF)
