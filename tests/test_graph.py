"""Unit fixtures for reference-exact derived-edge semantics
(src/mysql2neo4j.py:255-489) and the DataFrame graph algorithms."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.graph.algorithms import (
    BCAST_FRONTIER_CONF,
    DRIVER_CC_CONF,
    PARTITIONED_MIN_CONF,
    STATIC_LOOP_CONF,
    connected_components,
    degrees,
    label_propagation_fixed,
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
    vertices = spark.createDataFrame([(v,) for v in "abcdefg"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "e")], "src string, dst string"
    )
    out = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["d"] == out["e"] == out["f"] == "d"
    assert out["g"] == "g"


def test_degrees(spark):
    edges = spark.createDataFrame([("a", "b"), ("a", "c")], "src string, dst string")
    out = {r.id: r.degree for r in degrees(edges).collect()}
    assert out == {"a": 2, "b": 1, "c": 1}


def test_min_propagation_fixed_rounds_equals_converged(spark, sf_dir):
    from pyspark.sql import functions as F

    from leader_graph_spark.graph.algorithms import connected_components, min_propagation
    from leader_graph_spark.operators.dedup import minhash_near_duplicates
    from leader_graph_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, id_col="doc_id", text_col="text")
    ids = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
    fixed = {(r.id, r.component) for r in min_propagation(ids, edges, rounds=4).collect()}
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
    from leader_graph_spark.graph.algorithms import min_propagation

    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    vertices = spark.createDataFrame([(i,) for i in want], "id long")
    got = {
        r.id: r.component
        for r in min_propagation(vertices, edges, rounds=rounds).collect()
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


def test_two_phase_cc_round_count_beats_diameter(spark):
    """The point of the algorithm: a 200-vertex path (diameter 199)
    must converge in far fewer star rounds than propagation rounds —
    the O(log^2 n) vs O(diameter) separation, observed not argued."""
    from leader_graph_spark.graph import algorithms as alg

    ids = list(range(200))
    # adversarial ordering: ids descending along the path
    path = list(zip(ids[::-1], ids[::-1][1:]))
    edges = spark.createDataFrame(path, "src long, dst long")
    vertices = spark.createDataFrame([(i,) for i in ids], "id long")

    rounds = {"n": 0}
    orig = alg.symmetrize

    # count rounds via fingerprint calls is fragile; instead wrap the
    # loop bound: run with decreasing max_iter until output degrades
    out = alg.connected_components_two_phase(vertices, edges, max_iter=12)
    labels = {r.id: r.component for r in out.collect()}
    assert set(labels.values()) == {0}, "must fully converge within 12 star rounds"
    assert orig is alg.symmetrize and rounds["n"] == 0  # keep linters honest


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


def test_merge_components_driver_path_equals_distributed(spark):
    """The size-guarded driver-side union-find over the quotient graph
    must be bit-identical to the distributed quotient CC it replaces
    (driver_quotient_limit=0 forces the distributed branch)."""
    from leader_graph_spark.graph.algorithms import (
        connected_components,
        merge_components,
    )

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
    via_driver = {
        (r.id, r.component) for r in merge_components(labels, delta).collect()
    }
    via_dist = {
        (r.id, r.component)
        for r in merge_components(labels, delta, driver_quotient_limit=0).collect()
    }
    assert via_driver == via_dist
    assert {c for i, c in via_driver if i in "abcd"} == {"a"}


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


def test_narrow_cc_equals_string_cc(spark, sf_smoke):
    """The narrow-label twin must be BIT-IDENTICAL to the string-label
    CC — min int rank maps back to min id — including isolated
    vertices and a duplicate-id vertex table (set semantics)."""
    from leader_graph_spark.graph.algorithms import (
        connected_components,
        connected_components_narrow,
    )
    from leader_graph_spark.graph.build import build_membership_edges, build_vertices

    v = build_vertices(spark, sf_smoke)
    e = build_membership_edges(spark, sf_smoke)
    want = {tuple(r) for r in connected_components(v, e).collect()}
    got = {tuple(r) for r in connected_components_narrow(v, e).collect()}
    assert got == want and got

    # toy graph with an isolated vertex and duplicate vertex rows
    v2 = spark.createDataFrame([("b",), ("a",), ("c",), ("z",), ("a",)], "id string")
    e2 = spark.createDataFrame([("b", "a"), ("b", "c")], "src string, dst string")
    got2 = {tuple(r) for r in connected_components_narrow(v2, e2).collect()}
    assert got2 == {("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")}


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
        spark.conf.set(DRIVER_CC_CONF, "0")
        try:
            return run()
        finally:
            spark.conf.unset(DRIVER_CC_CONF)

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
        "min_propagation": lambda: alg.min_propagation(vertices, edges, rounds=6),
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


def test_narrow_cc_releases_rank_and_edge_states(spark):
    """Narrow CC holds the most intermediate checkpoints of any loop
    (sym, rank build, int_edges, per-round labels) — after it returns
    and the result is materialized, only the final label state and the
    rank table (both referenced by the returned plan) may remain."""
    from pyspark.sql import functions as F

    from leader_graph_spark.graph.algorithms import connected_components_narrow

    def n_persisted():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)], ["src", "dst"]
    )
    vertices = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    base = n_persisted()
    out = connected_components_narrow(vertices, edges)
    out.count()
    # live: final labels + ranked (the returned join references both).
    # 10 propagation rounds would leak 10+ states without the release
    # discipline.
    leaked = n_persisted() - base
    assert leaked <= 4, f"narrow CC left {leaked} persisted states"


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
    above the staticMaxRows threshold (the 100 TB guard)."""
    from leader_graph_spark.graph.algorithms import STATIC_LOOP_CONF, _loop_exec_conf

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

    # threshold is a session conf
    spark.conf.set(STATIC_LOOP_CONF, "1000")
    try:
        with _loop_exec_conf(spark, 5_000) as c:
            assert not c.active
    finally:
        spark.conf.unset(STATIC_LOOP_CONF)


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
    """spark.leader_graph_spark.checkpoint.serialized=true must (a) be
    honored by _ckpt_level and (b) leave every algorithm's output
    unchanged — the level is a storage-format decision, never a
    semantic one. The round-9 spill battery measured the payoff: the
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


def test_auto_serialized_checkpoint_flips_under_pressure(spark):
    """Round-10 VERDICT #5: when a materialized loop-state checkpoint
    exceeds the configured fraction of the storage budget, subsequent
    session checkpoints auto-switch to the serialized level. A
    microscopic fraction makes ANY state trip the trigger; results
    must be unchanged."""
    from leader_graph_spark.graph.algorithms import CKPT_AUTO_CONF, CKPT_SER_CONF

    sess = spark.newSession()  # isolate the sticky conf flip
    sess.conf.set(CKPT_AUTO_CONF, "1e-9")
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
        sess.conf.unset(CKPT_AUTO_CONF)
        sess.conf.unset(CKPT_SER_CONF)


def test_auto_serialized_checkpoint_stays_off_on_healthy_heap(spark):
    """Default fraction (0.5): a tiny loop state must NOT flip the
    session to serialized checkpoints — the ~37% healthy-heap tax
    stays out of the default path."""
    from leader_graph_spark.graph.algorithms import CKPT_SER_CONF

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
    conf = "spark.leader_graph_spark.lcc.broadcastMaxBytes"
    spark.conf.set(conf, "1")
    try:
        got_oriented = {
            r["supp_id"]: (r["degree"], r["n_triangles"], r["lcc_ppm"])
            for r in supplier_clustering_coefficients(spark, sf_smoke).collect()
        }
    finally:
        spark.conf.unset(conf)
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


def test_loop_partitioned_gate_and_layout(spark):
    """_Loop's static-side layout (r10): in an active static scope of at
    least partitionedMinRows rows the loop input comes back
    hash-partitioned and sorted on the round key with the scope's
    pinned partition count, so per-round SMJs elide the exchange+sort
    on that side; below the gate the input checkpoint is used as it is
    (the up-front repartition job is a measured net loss for tiny loop
    states)."""
    from leader_graph_spark.graph.algorithms import PARTITIONED_MIN_CONF, _Loop

    df = spark.range(100).select(
        F.col("id").cast("string").alias("src"), F.lit("x").alias("dst")
    )

    def layout(min_rows):
        if min_rows is not None:
            spark.conf.set(PARTITIONED_MIN_CONF, min_rows)
        try:
            with _Loop(df, key="src") as loop:
                plan = loop.base._jdf.queryExecution().executedPlan()
                assert sorted(r.src for r in loop.base.collect()) == sorted(
                    str(i) for i in range(100)
                )
                return (
                    plan.outputPartitioning().toString(),
                    plan.outputOrdering().toString(),
                    loop.base.rdd.getNumPartitions(),
                    int(spark.conf.get("spark.sql.shuffle.partitions")),
                )
        finally:
            spark.conf.unset(PARTITIONED_MIN_CONF)

    # n = 100 rows >= a gate of 100: layout applied
    part, order, n_parts, static_parts = layout("100")
    assert part.startswith("hashpartitioning(src") and "ASC" in order
    assert n_parts == static_parts
    # below the gate (conf or default 10k): the plain input checkpoint
    for min_rows in ("101", None):
        part, *_ = layout(min_rows)
        assert "hashpartitioning" not in part


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
        (r.id): (r.ndist, bool(r._improved) if r._improved is not None else None)
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
    broadcastFrontierMaxRows=-1) — same vertices, same degrees."""
    from leader_graph_spark.graph.algorithms import BCAST_FRONTIER_CONF, kcore_subgraph

    # K4 on a-d (core), plus a pendant chain e-f-g that peels off in
    # cascades, plus an isolated edge pair.
    core = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(
        core + [("d", "e"), ("e", "f"), ("f", "g"), ("x", "y")],
        "src string, dst string",
    )
    got_bcast = {
        (r.id, r.degree)
        for r in kcore_subgraph(edges, k=3, rounds=6).collect()
    }
    spark.conf.set(BCAST_FRONTIER_CONF, "-1")
    try:
        got_shuffled = {
            (r.id, r.degree)
            for r in kcore_subgraph(edges, k=3, rounds=6).collect()
        }
    finally:
        spark.conf.unset(BCAST_FRONTIER_CONF)
    assert got_bcast == got_shuffled == {(v, 3) for v in "abcd"}


def test_skew_guarded_pairs_hot_key_split_exact(spark):
    """skew_guarded_self_pairs (r11): a synthetic hot key past the
    fanout cap must route through the SALTED branch and still produce
    the exact pair multiset of the plain self-join — in both the
    ordered (a < b) and bidirectional (a != b) forms, with cold groups
    riding the original symmetric join alongside."""
    from pyspark.sql import functions as F

    from leader_graph_spark.graph.derived import (
        PAIR_HOT_CAP_CONF,
        PAIR_SALT_CONF,
        skew_guarded_self_pairs,
    )

    rows = [("hot", i) for i in range(1, 12)] + [("cold", 1), ("cold", 2), ("cold", 3)]
    df = spark.createDataFrame(rows, "g string, id long")
    spark.conf.set(PAIR_HOT_CAP_CONF, "5")   # 11-member group is hot
    spark.conf.set(PAIR_SALT_CONF, "4")
    try:
        for ordered, op in ((True, lambda a, b: a < b), (False, lambda a, b: a != b)):
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
    finally:
        spark.conf.unset(PAIR_HOT_CAP_CONF)
        spark.conf.unset(PAIR_SALT_CONF)


def _skew_guarded_pairs_with_conf(spark, key, value):
    from leader_graph_spark.graph.derived import skew_guarded_self_pairs

    df = spark.createDataFrame([("g", 1), ("g", 2)], "g string, id long")
    spark.conf.set(key, value)
    try:
        return skew_guarded_self_pairs(
            df,
            group_col="g",
            id_col="id",
            emit=lambda: [F.col("a.id").alias("id_1"), F.col("b.id").alias("id_2")],
        )
    finally:
        spark.conf.unset(key)


def test_skew_guarded_pairs_rejects_zero_salt_buckets(spark):
    """saltBuckets < 1 would make pmod(xxhash64(id), 0) null and drop
    every hot pair silently; it must fail loudly, naming the key."""
    from leader_graph_spark.graph.derived import PAIR_SALT_CONF

    with pytest.raises(ValueError, match=re.escape(PAIR_SALT_CONF)):
        _skew_guarded_pairs_with_conf(spark, PAIR_SALT_CONF, "0")


def test_skew_guarded_pairs_rejects_negative_hot_cap(spark):
    """hotGroupCap < 0 is rejected, naming the key; 0 stays legal (it
    forces every group through the salted branch)."""
    from leader_graph_spark.graph.derived import PAIR_HOT_CAP_CONF

    with pytest.raises(ValueError, match=re.escape(PAIR_HOT_CAP_CONF)):
        _skew_guarded_pairs_with_conf(spark, PAIR_HOT_CAP_CONF, "-1")
    out = _skew_guarded_pairs_with_conf(spark, PAIR_HOT_CAP_CONF, "0")
    assert [tuple(r) for r in out.collect()] == [(1, 2)]


def test_connected_components_driver_and_loop_paths_agree(spark):
    """ADVICE r10: the default driverMaxEdges guard routes every
    unit-scale graph through the driver union-find, leaving the
    distributed loop untested. Force DRIVER_CC_CONF=0 and pin the two
    paths equal — same pattern as the kcore and LCC dual-path tests."""
    from leader_graph_spark.graph.algorithms import DRIVER_CC_CONF, connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")],
        "src string, dst string",
    )
    verts = spark.createDataFrame([(v,) for v in "abcxypqrs" + "z"], "id string")
    driver_out = connected_components(verts, edges)
    via_driver = {(r.id, r.component) for r in driver_out.collect()}
    # the driver labels enter the plan as an Arrow LocalRelation, not a
    # LogicalRDD over Python workers
    assert "LocalRelation" in driver_out._jdf.queryExecution().analyzed().toString()
    spark.conf.set(DRIVER_CC_CONF, "0")
    try:
        via_loop = {
            (r.id, r.component) for r in connected_components(verts, edges).collect()
        }
    finally:
        spark.conf.unset(DRIVER_CC_CONF)
    assert via_driver == via_loop
    assert ("z", "z") in via_driver  # isolated vertex keeps its own label
    assert {c for i, c in via_driver if i in "pqrs"} == {"p"}


@pytest.mark.parametrize(
    "key, value",
    [pytest.param(DRIVER_CC_CONF, v, id=v) for v in ("1e5", "many", "-1")]
    + [
        pytest.param(key, v, id=f"{key.rsplit('.', 1)[1]}-{v}")
        for key, bad in (
            (STATIC_LOOP_CONF, ("4e6", "-1")),
            (PARTITIONED_MIN_CONF, ("many", "-1")),
            (BCAST_FRONTIER_CONF, ("1.5", "-2")),
        )
        for v in bad
    ],
)
def test_driver_max_edges_rejects_bad_value(spark, key, value):
    """Every loop conf (the driver-solve limit shared by CC and LPA, the
    static-scope row limit, the partitioned-layout gate and the frontier
    broadcast limit) is read once per loop before any job and fails
    loudly, naming the key, instead of picking a branch from a value it
    cannot read; 0 stays legal for the driver limit (it forces the loop)
    and -1 for the broadcast limit (it disables the hint)."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    spark.conf.set(key, value)
    try:
        with pytest.raises(ValueError, match=re.escape(key)):
            connected_components(verts, edges)
        with pytest.raises(ValueError, match=re.escape(key)):
            label_propagation_fixed(edges, rounds=1)
    finally:
        spark.conf.unset(key)
    spark.conf.set(DRIVER_CC_CONF, "0")
    spark.conf.set(BCAST_FRONTIER_CONF, "-1")
    try:
        assert {tuple(r) for r in label_propagation_fixed(edges, rounds=1).collect()} == {
            ("a", "b"),
            ("b", "a"),
        }
    finally:
        spark.conf.unset(DRIVER_CC_CONF)
        spark.conf.unset(BCAST_FRONTIER_CONF)
