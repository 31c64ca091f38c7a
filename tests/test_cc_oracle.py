"""Connected components against an independent oracle, networkx.

The Spark-free property drives the driver graph and its min-label
kernel (``graph.algorithms._driver_graph`` / ``_min_label_hops``) to
convergence and requires every vertex's label to be the minimum member
of its ``networkx.connected_components`` component. Python compares
strings by code point, which is UTF-8 byte order and Spark's UTF8
order; the id alphabet mixes a fullwidth character (U+FF5E) with
non-BMP ones, which UTF-16 order would sort the other way round. The
Spark-level sample runs ``connected_components`` on one such graph on
both branches (the driver solve at the default limit and the loop at
``DRIVER_CC_MAX_EDGES=0``)."""

from __future__ import annotations

import random
from unittest import mock

import networkx as nx
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from leader_graph_spark.graph import algorithms as alg

_INT_IDS = st.one_of(
    st.integers(-3, 30),
    st.integers(2**53 - 2, 2**53 + 40),
    st.integers(2**63 - 4, 2**63 - 1),
    st.integers(-(2**63), -(2**63) + 3),
)
_ALPHABET = "ab~\x7fÿé中～😀𝔘"
_STR_IDS = st.text(alphabet=st.sampled_from(_ALPHABET), max_size=3)


def _graphs(ids):
    """(vertex pool, edge rows): endpoints drawn from the pool or null,
    so rows carry self-loops, duplicates and nulls, and pool members no
    row names are isolated vertices."""
    pool = st.lists(ids, min_size=1, max_size=12, unique=True)
    return pool.flatmap(
        lambda p: st.tuples(
            st.just(p),
            st.lists(st.tuples(st.sampled_from(p + [None]), st.sampled_from(p + [None])),
                     max_size=30),
        )
    )


def _oracle(pool, rows) -> dict:
    g = nx.Graph()
    g.add_nodes_from(pool)
    g.add_edges_from((s, d) for s, d in rows if s is not None and d is not None)
    return {v: min(comp) for comp in nx.connected_components(g) for v in comp}


@settings(max_examples=200, deadline=None)
@given(st.one_of(_graphs(_INT_IDS), _graphs(_STR_IDS)))
def test_min_label_hops_converge_to_networkx_component_minimum(graph):
    pool, rows = graph
    typ = pa.int64() if isinstance(pool[0], int) else pa.string()
    table = pa.table({
        "src": pa.array([s for s, _ in rows], typ),
        "dst": pa.array([d for _, d in rows], typ),
    })
    g = alg._driver_graph(table, None)
    assert g.ids.to_pylist() == sorted({v for row in rows for v in row if v is not None})
    assert g.has_null == any(None in row for row in rows)
    # len(pool) hops exceed every component's diameter
    labels = g.ids.take(alg._min_label_hops(g, len(pool))).to_pylist()
    got = dict(zip(g.ids.to_pylist(), labels))
    assert {v: got.get(v, v) for v in pool} == _oracle(pool, rows)


def test_connected_components_match_networkx_on_both_branches(spark):
    rnd = random.Random(15)
    pool = sorted({"".join(rnd.choices(_ALPHABET, k=rnd.randint(1, 3))) for _ in range(40)})
    rows = [(rnd.choice(pool), rnd.choice(pool)) for _ in range(30)]
    rows += [rows[0], rows[1][::-1], (pool[0], pool[0]), (pool[1], None), (None, None)]
    # an island apart from the random ids (no "x" in the alphabet): in
    # code-point order U+FF5E is its minimum, in UTF-16 order it is not
    rows += [("x～", "x😀"), ("x😀", "x𝔘")]
    pool += ["x～", "x😀", "x𝔘"]
    edges = spark.createDataFrame(rows, "src string, dst string")
    verts = spark.createDataFrame([(v,) for v in set(pool)], "id string")
    want = _oracle(pool, rows)
    assert want["x😀"] == "x～"
    for limit in (alg.DRIVER_CC_MAX_EDGES, 0):
        with mock.patch.object(alg, "DRIVER_CC_MAX_EDGES", limit):
            got = {r.id: r.component for r in alg.connected_components(verts, edges).collect()}
        assert got == want, limit
