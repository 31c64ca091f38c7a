"""The min-relaxation loops against independent references.

networkx gives BFS hop distances (cut at ``k``), Dijkstra distances,
strongly connected components and connected components; a time-ordered
scan gives temporal earliest arrival. Each property draws a small
directed multigraph over bigint ids around and past 2**53, with
duplicate edges, self-loops, and seeds (possibly listed twice) that no
edge may touch, and compares the Spark loop's rows with the reference.
Connected components run at ``DRIVER_CC_MAX_EDGES=0``, the loop branch;
the driver kernel has its own reference in ``test_cc_oracle.py``.
Examples are derandomized and few, so the file stays well inside the
default suite's budget; the pinned ``@example`` graphs hold the cases a
broken relax rule gets wrong."""

from __future__ import annotations

import math
from unittest import mock

import networkx as nx
from hypothesis import example, given, settings
from hypothesis import strategies as st

from leader_graph_spark.graph import algorithms as alg

_IDS = st.one_of(
    st.integers(0, 6),
    st.integers(2**53 - 2, 2**53 + 2),
    st.integers(2**62, 2**62 + 2),
)


@st.composite
def _graphs(draw):
    """(vertex pool, (src, dst, payload) rows, seeds drawn from the pool)."""
    pool = draw(st.lists(_IDS, min_size=2, max_size=7, unique=True))
    node = st.sampled_from(pool)
    rows = draw(st.lists(st.tuples(node, node, st.integers(0, 4)), max_size=12))
    seeds = draw(st.lists(node, min_size=1, max_size=3))
    return pool, rows, seeds


_SETTINGS = settings(max_examples=6, deadline=None, derandomize=True)
B = 2**53 + 1
# Undirected, 4 sits exactly k=3 hops from the seeds B and 5 (5 is
# isolated); directed, 1 costs 4 by its direct edge from B and 2 through
# 0 or 3 (a first-reach shortcut keeps the 4); 1 is reached at t=1 only
# through a contact of the same time as its sender's arrival; 3 -> 1
# links the cycle B <-> 3 to the cycle 1 <-> 2 of smaller colour, which
# a backward mark that left its colour class would cross. Duplicate
# edge, self-loop and the dead end 4 ride along.
_PINNED = (
    [B, 0, 1, 2, 3, 4, 5],
    [(B, 0, 1), (0, 1, 1), (B, 1, 4), (1, 2, 2), (2, 1, 3), (B, 3, 2), (3, B, 2),
     (3, 1, 0), (2, 4, 0), (2, 2, 0), (B, 0, 1)],
    [B, B, 5],
)


def _frames(spark, rows, seeds):
    edges = spark.createDataFrame(rows, "src bigint, dst bigint, p bigint")
    return edges, spark.createDataFrame([(s,) for s in seeds], "id bigint")


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@_SETTINGS
@given(_graphs(), st.integers(0, 3))
@example(_PINNED, 3)
def test_bfs_distances_match_networkx(spark, graph, k):
    pool, rows, seeds = graph
    g = nx.Graph()
    g.add_nodes_from(pool)
    g.add_edges_from((s, d) for s, d, _ in rows)
    edges, sources = _frames(spark, rows, seeds)
    want = nx.multi_source_dijkstra_path_length(g, set(seeds), cutoff=k)
    assert _rows(alg.khop_distances(edges, sources, k=k)) == sorted(want.items())
    per_pivot = [
        (v, p, d)
        for p in set(seeds)
        for v, d in nx.single_source_shortest_path_length(g, p, cutoff=k).items()
    ]
    assert _rows(alg.multi_source_distances(edges, sources, k=k)) == sorted(per_pivot)


@_SETTINGS
@given(_graphs())
@example(_PINNED)
def test_sssp_matches_networkx_dijkstra(spark, graph):
    pool, rows, seeds = graph
    g = nx.MultiDiGraph()
    g.add_nodes_from(pool)
    g.add_weighted_edges_from(rows, weight="w")
    edges, sources = _frames(spark, rows, seeds)
    # every shortest path has fewer edges than the graph has vertices
    got = alg.weighted_sssp(edges.withColumnRenamed("p", "w"), sources, rounds=len(pool))
    want = nx.multi_source_dijkstra_path_length(g, set(seeds), weight="w")
    assert _rows(got) == sorted(want.items())


def _earliest_arrival(rows, seeds) -> dict:
    """Contacts scanned in time order; within one time the scan repeats
    until nothing changes, because a path may take several contacts of
    equal time."""
    arrival = dict.fromkeys(seeds, 0)
    for t in sorted({t for *_, t in rows}):
        changed = True
        while changed:
            changed = False
            for s, d, tt in rows:
                if tt == t and arrival.get(s, math.inf) <= t < arrival.get(d, math.inf):
                    arrival[d], changed = t, True
    return arrival


@_SETTINGS
@given(_graphs())
@example(_PINNED)
def test_temporal_arrival_matches_a_time_ordered_scan(spark, graph):
    pool, rows, seeds = graph
    edges, sources = _frames(spark, rows, seeds)
    got = alg.temporal_earliest_arrival(
        edges.withColumnRenamed("p", "t"), sources, rounds=len(pool)
    )
    assert _rows(got) == sorted(_earliest_arrival(rows, seeds).items())


@settings(max_examples=4, deadline=None, derandomize=True)
@given(_graphs())
@example(_PINNED)
def test_scc_labels_match_networkx_minimum_member(spark, graph):
    pool, rows, _ = graph
    g = nx.DiGraph()
    g.add_nodes_from(pool)
    g.add_edges_from((s, d) for s, d, _ in rows)
    edges, _ = _frames(spark, rows, [])
    verts = spark.createDataFrame([(v,) for v in pool], "id bigint")
    want = sorted(
        (v, min(comp)) for comp in nx.strongly_connected_components(g) for v in comp
    )
    assert _rows(alg.strongly_connected_components(verts, edges)) == want


@_SETTINGS
@given(_graphs())
@example(_PINNED)
def test_cc_loop_matches_networkx_minimum_member(spark, graph):
    pool, rows, _ = graph
    g = nx.Graph()
    g.add_nodes_from(pool)
    g.add_edges_from((s, d) for s, d, _ in rows)
    edges, _ = _frames(spark, rows, [])
    verts = spark.createDataFrame([(v,) for v in pool], "id bigint")
    want = sorted((v, min(comp)) for comp in nx.connected_components(g) for v in comp)
    with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", 0):
        assert _rows(alg.connected_components(verts, edges.drop("p"))) == want
