"""A GraphFrames-shaped facade over (vertices, edges) DataFrames.

BASELINE.md's north star is "GraphX for analysis, not OLTP"; the
algorithms in :mod:`graph.algorithms` already ARE the DataFrame plans
GraphFrames compiles to, but the reference-replacement story lacked
the *naming surface* a GraphFrames user expects — above all motif
finding (``g.find("(a)-[e]->(b); (b)-[e2]->(c)")``). GraphFrames
itself is not installable in this runtime (and is a jar + wrapper, not
part of pyspark), so :class:`DFGraph` reimplements the public surface
on plain DataFrames:

- ``vertices`` (must carry ``id``) and ``edges`` (must carry
  ``src``/``dst``) — the GraphFrames column convention, already used
  by ``graph.build``;
- ``find(pattern)`` — motif finding by compiling the pattern to
  equi-joins (named vertices unify by join on id; negated terms
  become anti-joins), returning one struct column per NAMED element
  exactly like GraphFrames;
- ``triplets``, ``degrees``, ``inDegrees``, ``outDegrees``;
- ``connectedComponents()``, ``pageRank()``, ``labelPropagation()``,
  ``shortestPaths()`` delegating to the oracle-proven algorithms in
  :mod:`graph.algorithms`.

Scale shape: a motif compiles to nothing but equi-joins on vertex ids
— Catalyst plans them as shuffle/broadcast hash joins exactly as
hand-written join plans would; no driver-side state, no quadratic
fallback. Anonymous elements add joins but no output columns.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TERM_RE = re.compile(
    r"^\s*(?P<neg>!)?\s*\(\s*(?P<src>\w*)\s*\)\s*-\s*\[\s*(?P<edge>\w*)\s*\]\s*->\s*\(\s*(?P<dst>\w*)\s*\)\s*$"
)


class MotifSyntaxError(ValueError):
    pass


def _parse(pattern: str) -> list[tuple[bool, str, str, str]]:
    """Pattern → [(negated, src_name, edge_name, dst_name)]; empty
    names are anonymous."""
    terms = []
    for raw in pattern.split(";"):
        if not raw.strip():
            continue
        m = _TERM_RE.match(raw)
        if not m:
            raise MotifSyntaxError(
                f"unsupported motif term {raw.strip()!r}; expected "
                "'(a)-[e]->(b)' or '!(a)-[]->(b)'"
            )
        neg = bool(m.group("neg"))
        if neg and m.group("edge"):
            raise MotifSyntaxError("negated terms cannot name the edge")
        terms.append((neg, m.group("src"), m.group("edge"), m.group("dst")))
    if not terms:
        raise MotifSyntaxError("empty motif pattern")
    return terms


class DFGraph:
    """GraphFrames-style property graph over two DataFrames."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        """``vertices.id`` must be UNIQUE (the GraphFrames contract):
        it is the key motif finding attaches vertex structs on, so a
        duplicated id multiplies every matched motif row. Dedup at
        construction (``dropDuplicates(["id"])``) when the source is a
        union that can repeat content-derived keys."""
        if "id" not in vertices.columns:
            raise ValueError("vertices must have an 'id' column")
        if "src" not in edges.columns or "dst" not in edges.columns:
            raise ValueError("edges must have 'src' and 'dst' columns")
        self.vertices = vertices
        self.edges = edges

    # -- degree views -----------------------------------------------------
    @property
    def inDegrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("inDegree")
        )

    @property
    def outDegrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outDegree")
        )

    @property
    def degrees(self) -> DataFrame:
        """Undirected degree (GraphFrames counts each incident edge)."""
        ends = self.edges.select(F.col("src").alias("id")).unionAll(
            self.edges.select(F.col("dst").alias("id"))
        )
        return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    @property
    def triplets(self) -> DataFrame:
        return self.find("(src)-[edge]->(dst)")

    # -- motif finding ----------------------------------------------------
    def find(self, pattern: str) -> DataFrame:
        """Motif search. Named vertices unify across terms via id
        equi-joins; named edges become struct columns of the edge
        attributes; ``!(a)-[]->(b)`` is an anti-join requiring both
        vertex names bound by positive terms. Output: one struct
        column per distinct NAMED vertex/edge, like GraphFrames."""
        terms = _parse(pattern)
        positives = [t for t in terms if not t[0]]
        negatives = [t for t in terms if t[0]]
        if not positives:
            raise MotifSyntaxError("motif needs at least one positive term")

        edge_names_seen: set[str] = set()
        anon = 0
        result: DataFrame | None = None
        bound: set[str] = set()
        for _, s, e, d in positives:
            if e:
                if e in edge_names_seen:
                    raise MotifSyntaxError(f"edge name {e!r} used twice")
                if e in (s, d):
                    raise MotifSyntaxError(f"name {e!r} is both vertex and edge")
                edge_names_seen.add(e)
            # anonymous endpoints still need join columns; give them
            # internal names that are dropped at the end
            s_col = s or f"__anon{(anon := anon + 1)}"
            d_col = d or f"__anon{(anon := anon + 1)}"
            if s_col == d_col:
                # self-loop term (a)-[e]->(a): matches edges whose two
                # endpoints are the same vertex (GraphFrames accepts
                # these) — a filter, not a join
                src_edges = self.edges.where(F.col("src") == F.col("dst"))
                cols = [F.col("src").alias(f"{s_col}__id")]
            else:
                src_edges = self.edges
                cols = [
                    F.col("src").alias(f"{s_col}__id"),
                    F.col("dst").alias(f"{d_col}__id"),
                ]
            if e:
                cols.append(F.struct(*self.edges.columns).alias(e))
            t = src_edges.select(*cols)
            if result is None:
                result = t
            else:
                on = [n for n in dict.fromkeys((s_col, d_col)) if n in bound]
                if on:
                    result = result.join(t, [f"{n}__id" for n in on])
                else:
                    result = result.crossJoin(t)
            bound.update({s_col, d_col})

        for _, s, e, d in negatives:
            if s not in bound or d not in bound:
                raise MotifSyntaxError(
                    f"negated term !({s})-[]->({d}) references an unbound vertex"
                )
            probe = self.edges.select(
                F.col("src").alias("__nsrc"), F.col("dst").alias("__ndst")
            )
            result = result.join(
                probe,
                (F.col(f"{s}__id") == F.col("__nsrc"))
                & (F.col(f"{d}__id") == F.col("__ndst")),
                "left_anti",
            )

        # materialize vertex structs for named vertices only
        v_names = sorted(
            {n for n in bound if not n.startswith("__anon")}
        )
        for n in v_names:
            v = self.vertices.select(
                F.col("id").alias(f"__vid_{n}"),
                F.struct(*self.vertices.columns).alias(n),
            )
            result = result.join(v, F.col(f"{n}__id") == F.col(f"__vid_{n}"))
        keep = v_names + sorted(edge_names_seen)
        return result.select(*keep)

    def bfs(self, fromExpr, toExpr, *, maxPathLength: int = 10, edgeFilter=None) -> DataFrame:
        """GraphFrames-style breadth-first search: shortest directed
        paths from any vertex matching ``fromExpr`` to any matching
        ``toExpr`` (SQL strings or Columns over the vertex columns).
        Returns paths of the first depth where a match exists, as
        struct columns ``from, e0, v1, e1, …, to`` — exactly the
        GraphFrames output shape. ``edgeFilter`` (SQL string or Column
        over the edge columns — GraphFrames parity) restricts which
        edges the search may traverse. Paths never revisit a vertex (a
        cycle cannot shorten a path, and pruning keeps the per-level
        join linear in reachable paths instead of exploding on cyclic
        graphs).

        Each level's expanded path set is a loop state with the
        target-hit probe observed on its checkpoint (the loop contract
        of :mod:`graph.algorithms`); without the per-level checkpoint,
        level k replans and recomputes the whole k-deep join lineage —
        exponential replanning by depth 8 on a real graph."""
        from leader_graph_spark.graph.algorithms import _Loop

        to_f = F.expr(toExpr) if isinstance(toExpr, str) else toExpr
        from_f = F.expr(fromExpr) if isinstance(fromExpr, str) else fromExpr
        v = self.vertices
        edges = self.edges
        if edgeFilter is not None:
            edges = edges.filter(
                F.expr(edgeFilter) if isinstance(edgeFilter, str) else edgeFilter
            )
        start = v.filter(from_f)
        hit0 = start.filter(to_f).select(F.struct(*v.columns).alias("from"))
        if hit0.take(1):
            return hit0.select("from", F.col("from").alias("to"))
        targets = v.filter(to_f).select(F.struct(*v.columns).alias("to"))
        paths = start.select(F.struct(*v.columns).alias("from"))
        with _Loop(edges, static=False) as loop:
            for k in range(1, maxPathLength + 1):
                prev = "from" if k == 1 else f"v{k - 1}"
                e = loop.base.select(F.struct(*edges.columns).alias(f"e{k - 1}"))
                # expand one hop and left-join the target set in the SAME
                # checkpointed step: hit rows carry a non-null `to`, and
                # both the hit branch and the continuation reuse the
                # materialized step (no double computation).
                stepped = loop.step(
                    "step",
                    paths.join(e, F.col(f"{prev}.id") == F.col(f"e{k - 1}.src")).join(
                        targets, F.col(f"e{k - 1}.dst") == F.col("to.id"), "left"
                    ),
                    hits=F.count(F.col("to.id")),
                )
                if loop.seen["hits"]:
                    loop.keep("step")
                    return stepped.where(F.col("to.id").isNotNull())
                vk = v.select(F.struct(*v.columns).alias(f"v{k}"))
                paths = stepped.drop("to").join(
                    vk, F.col(f"e{k - 1}.dst") == F.col(f"v{k}.id")
                )
                for s in ["from"] + [f"v{i}" for i in range(1, k)]:
                    paths = paths.filter(F.col(f"v{k}.id") != F.col(f"{s}.id"))
        return hit0.select("from", F.col("from").alias("to")).limit(0)

    # -- algorithm delegates ----------------------------------------------
    def connectedComponents(self) -> DataFrame:
        """(id, component) — delegates to the converged min-label CC."""
        from leader_graph_spark.graph.algorithms import connected_components

        return connected_components(self.vertices.select("id"), self.edges)

    def stronglyConnectedComponents(self, *, maxIter: int = 30) -> DataFrame:
        """(id, component) over edge DIRECTION — GraphFrames/GraphX
        parity; delegates to the trim+coloring SCC
        (:func:`graph.algorithms.strongly_connected_components`)."""
        from leader_graph_spark.graph.algorithms import strongly_connected_components

        return strongly_connected_components(
            self.vertices.select("id"), self.edges, max_phases=maxIter
        )

    def pageRank(self, *, iterations: int = 8) -> DataFrame:
        """(id, rank) in integer micro-units — the fixed-point form
        with a bit-exact SQL oracle (graph.algorithms docstring)."""
        from leader_graph_spark.graph.algorithms import pagerank_fixed_point

        return pagerank_fixed_point(self.edges, iterations=iterations)

    def labelPropagation(self, *, maxIter: int = 5) -> DataFrame:
        from leader_graph_spark.graph.algorithms import label_propagation_fixed

        return label_propagation_fixed(self.edges, rounds=maxIter)

    def shortestPaths(self, landmarks: DataFrame, *, max_hops: int = 6) -> DataFrame:
        """(id, distance) to the landmark set over the undirected view."""
        from leader_graph_spark.graph.algorithms import khop_distances

        return khop_distances(self.edges, landmarks, k=max_hops)

    def aggregateMessages(self, agg_expr, *, sendToSrc=None, sendToDst=None) -> DataFrame:
        """GraphFrames' message-passing primitive: for every edge,
        optionally send a message to its src and/or dst, then aggregate
        per receiving vertex — the building block Pregel-style
        algorithms (PageRank, LPA, BFS) compile to.

        ``sendToSrc``/``sendToDst`` are Column expressions over the
        triplet namespace — struct columns ``src``, ``edge``, ``dst``
        (e.g. ``F.col("dst.age")`` as a message to src). ``agg_expr``
        is an aggregate over ``F.col("msg")``. Returns (id, agg).

        Scale shape: one triplet build (two vertex joins) + one
        union + one hash aggregation on the receiving id — the same
        plan each round of the hand-written algorithms uses; no
        driver-side state."""
        if sendToSrc is None and sendToDst is None:
            raise ValueError("provide sendToSrc and/or sendToDst")
        t = self.triplets
        parts = []
        if sendToSrc is not None:
            parts.append(
                t.select(F.col("src.id").alias("id"), sendToSrc.alias("msg"))
            )
        if sendToDst is not None:
            parts.append(
                t.select(F.col("dst.id").alias("id"), sendToDst.alias("msg"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.groupBy("id").agg(agg_expr.alias("agg"))

    @property
    def pregel(self) -> "Pregel":
        """GraphFrames-parity Pregel builder (``g.pregel.withVertexColumn
        (...).sendMsgToDst(...).aggMsgs(...).run()``) — a naming facade
        over the same checkpointed message-passing loop every algorithm
        in :mod:`graph.algorithms` uses."""
        return Pregel(self)

    def parallelPersonalizedPageRank(
        self,
        *,
        sourceIds: list,
        maxIter: int = 8,
        resetProbability: float = 0.15,
    ) -> DataFrame:
        """GraphFrames-parity per-seed personalized PageRank: one
        oracle-proven :func:`graph.algorithms.
        personalized_pagerank_fixed_point` run per source id, returned
        as the vertex DataFrame plus a ``pageranks`` MAP<seed, rank>
        column (GraphFrames packs a vector keyed by seed index; a map
        keyed by the seed id is the DataFrame-idiomatic equivalent and
        loses no information). Ranks are integer micro-units — the
        bit-exact fixed-point form.

        Scale shape: s seeds cost s independent 8-iteration runs; each
        run's join/agg per iteration is the measured scale-safe plan
        (VERDICT r7 plan audit). The final assembly is one map_from
        projection over s joined columns — no shuffle beyond the runs
        themselves."""
        from leader_graph_spark.graph.algorithms import (
            personalized_pagerank_fixed_point,
        )

        if not sourceIds:
            raise ValueError("sourceIds must be non-empty")
        damping_pct = round((1 - resetProbability) * 100)
        if abs((1 - resetProbability) * 100 - damping_pct) > 1e-9:
            raise ValueError(
                "resetProbability must be a whole percent (integer "
                "fixed-point form), e.g. 0.15 or 0.2"
            )
        spark = self.vertices.sparkSession
        out = self.vertices
        entries = []
        for i, sid in enumerate(sourceIds):
            seed_df = spark.createDataFrame([(sid,)], ["id"])
            r = personalized_pagerank_fixed_point(
                self.edges, seed_df, iterations=maxIter, damping_pct=damping_pct
            ).withColumnRenamed("rank", f"__ppr_{i}")
            out = out.join(r, "id", "left")
            entries.extend([F.lit(sid), F.coalesce(F.col(f"__ppr_{i}"), F.lit(0))])
        keep = [c for c in self.vertices.columns]
        return out.select(*keep, F.create_map(*entries).alias("pageranks"))

    def filterVertices(self, condition) -> "DFGraph":
        """Subgraph induced by the kept vertices (edges must keep both
        endpoints) — GraphFrames' filterVertices semantics."""
        v = self.vertices.filter(condition)
        ids = v.select("id")
        e = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        return DFGraph(v, e)

    def filterEdges(self, condition) -> "DFGraph":
        return DFGraph(self.vertices, self.edges.filter(condition))


class Pregel:
    """GraphFrames' Pregel API over :class:`DFGraph` — the builder a
    GraphFrames user reaches for when no canned algorithm fits:

        from pyspark.sql import functions as F
        ranks = (g.pregel
                 .setMaxIter(12)
                 .withVertexColumn("comp", F.col("id"),
                     F.least(F.col("comp"),
                             F.coalesce(Pregel.msg(), F.col("comp"))))
                 .sendMsgToDst(Pregel.src("comp"))
                 .sendMsgToSrc(Pregel.dst("comp"))
                 .aggMsgs(F.min(Pregel.msg()))
                 .run())

    Semantics match GraphFrames: every superstep sends the configured
    messages over EVERY edge (null messages are dropped), aggregates
    them per receiving vertex, then updates each declared vertex column
    SIMULTANEOUSLY (one select, so an update never sees a sibling's new
    value); ``Pregel.msg()`` is null for vertices that received nothing.
    Exactly ``maxIter`` supersteps run — convergence detection is the
    caller's via a vertex column, as in GraphFrames.

    Scale shape: per superstep ONE triplet build (two vertex-struct
    joins) + one union + one hash aggregation + one state join — the
    identical plan the hand-written loops use — and the round state is a
    loop state of :mod:`graph.algorithms`' loop contract, so plan depth
    and executor storage stay bounded at any iteration count."""

    MSG_COL = "_pregel_msg_"

    def __init__(self, graph: DFGraph):
        self._g = graph
        self._max_iter = 10
        self._vcols: list[tuple[str, object, object]] = []
        self._to_src: list = []
        self._to_dst: list = []
        self._agg = None

    # -- triplet-namespace helpers (GraphFrames static API) ---------------
    @staticmethod
    def msg():
        return F.col(Pregel.MSG_COL)

    @staticmethod
    def src(col: str):
        return F.col(f"src.{col}")

    @staticmethod
    def dst(col: str):
        return F.col(f"dst.{col}")

    @staticmethod
    def edge(col: str):
        return F.col(f"edge.{col}")

    # -- builder -----------------------------------------------------------
    def setMaxIter(self, n: int) -> "Pregel":
        self._max_iter = int(n)
        return self

    def withVertexColumn(self, name, initialExpr, updateAfterAggMsgsExpr) -> "Pregel":
        if name == Pregel.MSG_COL:
            raise ValueError(f"{Pregel.MSG_COL!r} is reserved")
        self._vcols.append((name, initialExpr, updateAfterAggMsgsExpr))
        return self

    def sendMsgToSrc(self, msgExpr) -> "Pregel":
        self._to_src.append(msgExpr)
        return self

    def sendMsgToDst(self, msgExpr) -> "Pregel":
        self._to_dst.append(msgExpr)
        return self

    def aggMsgs(self, aggExpr) -> "Pregel":
        self._agg = aggExpr
        return self

    def run(self) -> DataFrame:
        from leader_graph_spark.graph.algorithms import _Loop

        if not self._vcols:
            raise ValueError("pregel needs at least one withVertexColumn")
        if not (self._to_src or self._to_dst):
            raise ValueError("pregel needs sendMsgToSrc and/or sendMsgToDst")
        if self._agg is None:
            raise ValueError("pregel needs aggMsgs")

        def as_col(e):
            return F.expr(e) if isinstance(e, str) else e

        base = self._g.vertices
        updated = {name for name, _, _ in self._vcols}
        passthrough = [c for c in base.columns if c not in updated]
        with _Loop(
            self._g.edges.select(
                F.col("src").alias("__esrc"),
                F.col("dst").alias("__edst"),
                F.struct(*self._g.edges.columns).alias("edge"),
            ),
            static=False,
        ) as loop:
            edges = loop.base
            v = loop.step(
                "v",
                base.select(
                    *passthrough,
                    *[as_col(init).alias(name) for name, init, _ in self._vcols],
                ),
            )
            for _ in range(self._max_iter):
                vs = v.select(
                    F.col("id").alias("__vid"), F.struct(*v.columns).alias("__vs")
                )
                triplets = (
                    edges.join(vs, F.col("__esrc") == F.col("__vid"))
                    .withColumnRenamed("__vs", "src")
                    .drop("__vid")
                    .join(
                        v.select(
                            F.col("id").alias("__vid"), F.struct(*v.columns).alias("dst")
                        ),
                        F.col("__edst") == F.col("__vid"),
                    )
                )
                parts = [
                    triplets.select(
                        F.col("src.id").alias("id"), as_col(m).alias(Pregel.MSG_COL)
                    )
                    for m in self._to_src
                ] + [
                    triplets.select(
                        F.col("dst.id").alias("id"), as_col(m).alias(Pregel.MSG_COL)
                    )
                    for m in self._to_dst
                ]
                msgs = parts[0]
                for p in parts[1:]:
                    msgs = msgs.unionByName(p)
                agg = (
                    msgs.where(F.col(Pregel.MSG_COL).isNotNull())
                    .groupBy("id")
                    .agg(as_col(self._agg).alias(Pregel.MSG_COL))
                )
                v = loop.step(
                    "v",
                    v.join(agg, "id", "left").select(
                        *passthrough,
                        *[as_col(upd).alias(name) for name, _, upd in self._vcols],
                    ),
                )
            loop.keep("v")
        return v
