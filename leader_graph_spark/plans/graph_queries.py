"""Graph-derivation queries (SURVEY.md §2.3, M2 milestone).

The reference's three derived-relationship Cypher queries
(``src/mysql2neo4j.py:229-489``) re-expressed over the synthetic star
schema:

  Person        → supplier / customer
  school        → part (suppliers "studied at" the parts they shipped,
                  with the ship-date span as the study interval)
  hometown      → nation
  current org   → nation
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.graph.algorithms import connected_components, degrees
from leader_graph_spark.graph.build import (
    belongs_to_edges,
    build_membership_edges,
    build_vertices,
    works_for_edges,
)
from leader_graph_spark.graph.derived import (
    current_colleague_edges,
    same_group_pairs,
    schoolmate_edges,
)
from leader_graph_spark.operators.pairs import keyed_pairs
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import load_table

# The 中央党校-style exclusion (src/mysql2neo4j.py:265): excluded by
# *name*, which matches many partkeys (names repeat across parts).
EXCLUDED_SCHOOL_NAME = "red plate"


# ---------------------------------------------------------------------------
# J3 — SAME_HOMETOWN
# ---------------------------------------------------------------------------

_SAME_NATION_ORACLE = """
SELECT a.s_nationkey AS nationkey,
       a.s_suppkey AS suppkey_1, b.s_suppkey AS suppkey_2
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
"""


@query("same_nation_supplier_pairs", _SAME_NATION_ORACLE, tags=("J3", "A2", "W4"))
def same_nation_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME_HOMETOWN derived edges (``src/mysql2neo4j.py:229-253``):
    group by shared attribute, all unordered pairs within the group,
    direction dedup by id ordering."""
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = same_group_pairs(
        supplier.select("s_suppkey", "s_nationkey"),
        group_col="s_nationkey",
        id_col="s_suppkey",
    )
    return pairs.select(
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_suppkey_1").alias("suppkey_1"),
        F.col("s_suppkey_2").alias("suppkey_2"),
    )


# ---------------------------------------------------------------------------
# J4 — SCHOOLMATES (shared school + interval overlap + exclusion)
# ---------------------------------------------------------------------------

_SCHOOLMATES_ORACLE = f"""
WITH study AS (
  SELECT l_suppkey AS person_id, l_partkey AS school,
         year(min(l_shipdate)) AS sy, NULLIF(month(min(l_shipdate)), 1) AS sm,
         year(max(l_shipdate)) AS ey, NULLIF(month(max(l_shipdate)), 1) AS em
  FROM lineitem
  WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_name = '{EXCLUDED_SCHOOL_NAME}')
  GROUP BY l_suppkey, l_partkey
), sides AS (
  SELECT person_id, school, sy, ey,
         sy*12 + coalesce(sm, 1) AS start_m,
         ey*12 + coalesce(em, 12) AS end_m
  FROM study
)
SELECT a.school AS school,
       a.person_id AS person_id_1, b.person_id AS person_id_2,
       (a.sy IS NOT NULL AND a.ey IS NOT NULL AND b.sy IS NOT NULL AND b.ey IS NOT NULL
        AND a.start_m <= b.end_m AND b.start_m <= a.end_m) AS at_same_time,
       CASE WHEN a.sy IS NOT NULL AND a.ey IS NOT NULL AND b.sy IS NOT NULL AND b.ey IS NOT NULL
                 AND a.start_m <= b.end_m AND b.start_m <= a.end_m
            THEN printf('%d.%02d-%d.%02d',
                        (greatest(a.start_m, b.start_m) - 1) // 12,
                        ((greatest(a.start_m, b.start_m) - 1) % 12) + 1,
                        (least(a.end_m, b.end_m) - 1) // 12,
                        ((least(a.end_m, b.end_m) - 1) % 12) + 1)
       END AS overlap_period
FROM sides a JOIN sides b
  ON a.school = b.school AND a.person_id < b.person_id
"""


@query("schoolmates_shared_part", _SCHOOLMATES_ORACLE, bench=True, tags=("J4", "F15", "F16", "F17", "W4"))
def schoolmates_shared_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHOOLMATES derived edges (``src/mysql2neo4j.py:255-371``):
    suppliers joined through a shared part ("school"), study interval =
    ship-date span per (supplier, part). Exercises the reference-exact
    semantics: name-based school exclusion, missing start months
    coalesced to January / end months to December (January is nulled as
    the synthetic "unknown month"), at_same_time three-valued logic
    collapsed to false, nullable formatted overlap window."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    excluded = part.filter(F.col("p_name") == EXCLUDED_SCHOOL_NAME).select("p_partkey")
    study = (
        li.join(F.broadcast(excluded), li.l_partkey == excluded.p_partkey, "left_anti")
        .groupBy(
            F.col("l_suppkey").alias("person_id"), F.col("l_partkey").alias("school")
        )
        .agg(F.min("l_shipdate").alias("first_sd"), F.max("l_shipdate").alias("last_sd"))
        .select(
            "person_id",
            "school",
            F.year("first_sd").alias("start_year"),
            F.nullif(F.month("first_sd"), F.lit(1)).alias("start_month"),
            F.year("last_sd").alias("end_year"),
            F.nullif(F.month("last_sd"), F.lit(1)).alias("end_month"),
        )
    )
    return schoolmate_edges(study, school_col="school", id_col="person_id")


# ---------------------------------------------------------------------------
# J5 — current COLLEAGUES ('till now')
# ---------------------------------------------------------------------------

_COLLEAGUES_NOW_ORACLE = """
SELECT a.c_nationkey AS c_nationkey,
       a.c_custkey AS c_custkey_1, b.c_custkey AS c_custkey_2,
       a.c_mktsegment AS c_mktsegment_1, b.c_mktsegment AS c_mktsegment_2,
       'till now' AS overlap_period
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
"""


@query("current_colleague_customers", _COLLEAGUES_NOW_ORACLE, bench=True, tags=("J5", "W4"))
def current_colleague_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-colleague derived edges (``src/mysql2neo4j.py:373-396``):
    pairs through the shared current org, both positions carried,
    overlap period literally 'till now'."""
    customer = load_table(spark, sf_dir, "customer")
    return current_colleague_edges(
        customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
        org_col="c_nationkey",
        id_col="c_custkey",
        position_col="c_mktsegment",
    )


# ---------------------------------------------------------------------------
# J7 — null-safe anti-join edge dedup
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = f"""
WITH study AS (
  SELECT l_suppkey AS person_id, l_partkey AS school,
         year(min(l_shipdate))*12 + coalesce(NULLIF(month(min(l_shipdate)), 1), 1) AS start_m,
         year(max(l_shipdate))*12 + coalesce(NULLIF(month(max(l_shipdate)), 1), 12) AS end_m
  FROM lineitem
  WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_name = '{EXCLUDED_SCHOOL_NAME}')
  GROUP BY l_suppkey, l_partkey
), edges AS (
  SELECT a.school, a.person_id AS person_id_1, b.person_id AS person_id_2,
         CASE WHEN a.start_m <= b.end_m AND b.start_m <= a.end_m
              THEN printf('%d.%02d-%d.%02d',
                          (greatest(a.start_m, b.start_m) - 1) // 12,
                          ((greatest(a.start_m, b.start_m) - 1) % 12) + 1,
                          (least(a.end_m, b.end_m) - 1) // 12,
                          ((least(a.end_m, b.end_m) - 1) % 12) + 1)
         END AS overlap_period
  FROM study a JOIN study b ON a.school = b.school AND a.person_id < b.person_id
), existing AS (
  SELECT * FROM edges WHERE school % 2 = 0
)
SELECT e.school, e.person_id_1, e.person_id_2, e.overlap_period
FROM edges e
WHERE NOT EXISTS (
  SELECT 1 FROM existing x
  WHERE x.school = e.school
    AND x.person_id_1 = e.person_id_1
    AND x.person_id_2 = e.person_id_2
    AND x.overlap_period IS NOT DISTINCT FROM e.overlap_period
)
"""


@query("schoolmate_edges_dedup_antijoin", _DEDUP_ORACLE, tags=("J7", "A3"))
def schoolmate_edges_dedup_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge dedup against already-materialized edges
    (``src/mysql2neo4j.py:326-336``): left_anti on the full edge key
    with eqNullSafe on the nullable overlap period — the Cypher
    ``existingCount = 0`` pattern. 'Existing' edges are modeled as the
    even-school half of the same derivation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    excluded = part.filter(F.col("p_name") == EXCLUDED_SCHOOL_NAME).select("p_partkey")
    study = (
        li.join(F.broadcast(excluded), li.l_partkey == excluded.p_partkey, "left_anti")
        .groupBy(F.col("l_suppkey").alias("person_id"), F.col("l_partkey").alias("school"))
        .agg(
            (
                F.year(F.min("l_shipdate")) * 12
                + F.coalesce(F.nullif(F.month(F.min("l_shipdate")), F.lit(1)), F.lit(1))
            ).alias("start_m"),
            (
                F.year(F.max("l_shipdate")) * 12
                + F.coalesce(F.nullif(F.month(F.max("l_shipdate")), F.lit(1)), F.lit(12))
            ).alias("end_m"),
        )
    )
    from leader_graph_spark.functions.scalar import format_period

    overlaps = (F.col("a.start_m") <= F.col("b.end_m")) & (
        F.col("b.start_m") <= F.col("a.end_m")
    )
    edges = keyed_pairs(study, ["school"], "person_id").select(
        F.col("a.school").alias("school"),
        F.col("a.person_id").alias("person_id_1"),
        F.col("b.person_id").alias("person_id_2"),
        F.when(
            overlaps,
            format_period(
                F.greatest(F.col("a.start_m"), F.col("b.start_m")),
                F.least(F.col("a.end_m"), F.col("b.end_m")),
            ),
        ).alias("overlap_period"),
    )
    # Re-alias the existing side: both inputs share lineage, so bare
    # column refs would resolve to the same attributes (trivially-true
    # predicates) — explicit renames force a real 4-column comparison.
    existing = edges.filter(F.col("school") % 2 == 0).select(
        F.col("school").alias("x_school"),
        F.col("person_id_1").alias("x_p1"),
        F.col("person_id_2").alias("x_p2"),
        F.col("overlap_period").alias("x_period"),
    )
    cond_anti = (
        (F.col("school") == F.col("x_school"))
        & (F.col("person_id_1") == F.col("x_p1"))
        & (F.col("person_id_2") == F.col("x_p2"))
        & F.col("overlap_period").eqNullSafe(F.col("x_period"))
    )
    return edges.join(existing, cond_anti, "left_anti")


# ---------------------------------------------------------------------------
# J10-chain — supplier reach through the fact table (bench)
# ---------------------------------------------------------------------------

_REACH_ORACLE = """
SELECT l_suppkey AS suppkey,
       count(DISTINCT c_nationkey) AS n_nations,
       count(DISTINCT o_custkey) AS n_customers
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY l_suppkey
"""


@query("supplier_nation_reach", _REACH_ORACLE, bench=True, tags=("J10", "A2", "A4"))
def supplier_nation_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-edge derivation through a join chain
    (``src/mysql2neo4j.py:671-698`` WORKS_FOR explode+join, generalized):
    fact→orders→customer with distinct-aggregates per supplier.

    The two exact distincts are BITMAP aggregations, one branch per
    column, joined at the end — replacing the classic two-countDistinct
    plan, whose expand duplicates every joined row ×2 before the
    shuffle. Each branch's shuffle carries ≤4KB bitmaps per (supplier,
    bucket) instead of raw ids, and the branches share the join via
    exchange reuse. Measured at sf0.1 best-of-4: expand 1.92s, bitmap
    branches 1.59s; a localCheckpoint on the join was REJECTED (2.24s —
    materialization costs more than the reused exchanges)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("l_suppkey", "o_custkey", "c_nationkey")
    )

    def distinct_count(col: str, alias: str) -> DataFrame:
        return (
            j.select(
                "l_suppkey",
                F.expr(f"bitmap_bucket_number({col})").alias("b"),
                F.expr(f"bitmap_bit_position({col})").alias("p"),
            )
            .groupBy("l_suppkey", "b")
            .agg(F.expr("bitmap_construct_agg(p)").alias("bm"))
            .groupBy("l_suppkey")
            .agg(F.sum(F.expr("bitmap_count(bm)")).alias(alias))
        )

    return (
        distinct_count("c_nationkey", "n_nations")
        .join(distinct_count("o_custkey", "n_customers"), "l_suppkey")
        .select(F.col("l_suppkey").alias("suppkey"), "n_nations", "n_customers")
    )


# ---------------------------------------------------------------------------
# Vertices / degrees / components
# ---------------------------------------------------------------------------

_VERTICES_ORACLE = """
SELECT md5(concat('customer', '_', c_name)) AS id, 'Person' AS label,
       c_name AS name, CAST(c_custkey AS BIGINT) AS natural_key FROM customer
UNION ALL
SELECT md5(concat('supplier', '_', s_name)), 'Person', s_name, CAST(s_suppkey AS BIGINT) FROM supplier
UNION ALL
SELECT md5(concat('nation', '_', n_name)), 'Organization', n_name, CAST(n_nationkey AS BIGINT) FROM nation
UNION ALL
SELECT md5(concat('region', '_', r_name)), 'Organization', r_name, CAST(r_regionkey AS BIGINT) FROM region
"""


@query("graph_vertices", _VERTICES_ORACLE, tags=("K6", "U1", "F1"))
def graph_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node-build union (``src/mysql2neo4j.py:542-600,628-669``) as
    one DataFrame with content-derived ids — batch, not row-at-a-time
    MERGE."""
    return build_vertices(spark, sf_dir)


_DEGREES_ORACLE = """
WITH edges AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
  )
)
SELECT src AS id, count(*) AS degree FROM sym GROUP BY src
"""


@query("vertex_degrees", _DEGREES_ORACLE, tags=("A4",))
def vertex_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected vertex degree over the membership graph — the simplest
    whole-graph analytic (GraphFrames ``degrees`` equivalent)."""
    return degrees(build_membership_edges(spark, sf_dir))


# Converged min-label propagation assigns every vertex the MINIMUM
# vertex id reachable from it — which a recursive transitive-closure
# CTE computes directly, no per-round unrolling needed. UNION (not
# UNION ALL) dedups the frontier each step, so the recursion terminates
# at the component diameter. md5 ids compare bytewise identically in
# both engines (ASCII hex), so min-over-varchar agrees with Spark's
# F.least/F.min on the label column.
_CC_ORACLE = """
WITH RECURSIVE vertices AS (
  SELECT md5(concat('customer', '_', c_name)) AS id FROM customer
  UNION ALL SELECT md5(concat('supplier', '_', s_name)) FROM supplier
  UNION ALL SELECT md5(concat('nation', '_', n_name)) FROM nation
  UNION ALL SELECT md5(concat('region', '_', r_name)) FROM region
), edges AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
  )
), reach AS (
  SELECT id, id AS r FROM vertices
  UNION
  SELECT reach.id, sym.dst AS r FROM reach JOIN sym ON sym.src = reach.r
)
SELECT id, min(r) AS component FROM reach GROUP BY id
"""


@query(
    "connected_components_bigstar",
    _CC_ORACLE,
    tags=("graph-iterative", "scale-twin"),
)
def connected_components_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via LARGE-STAR/SMALL-STAR alternation
    (Kiveris et al. 2014) — the O(log² n)-round scale twin of
    ``connected_components_membership``: same converged
    minimum-reachable-id labels (same recursive-CTE oracle, full value
    hash), but the round count is logarithmic in component size
    instead of linear in diameter, which is the difference between a
    dozen cluster barriers and thousands on an adversarial 100 TB
    graph. Round-count separation is test-asserted
    (tests/test_graph.py: a 200-diameter path converges ≤ 12 star
    rounds)."""
    from leader_graph_spark.graph.algorithms import connected_components_two_phase

    vertices = build_vertices(spark, sf_dir)
    edges = build_membership_edges(spark, sf_dir)
    return connected_components_two_phase(vertices, edges)


@query("connected_components_membership", _CC_ORACLE, tags=("graph-iterative",))
def connected_components_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the membership graph by iterative
    min-label propagation, run to convergence. Value-checked in full:
    the converged labeling is exactly "minimum reachable vertex id",
    which the oracle computes as a recursive transitive closure —
    turning the loop's fixpoint into a declarative set so even the
    data-dependent iteration count is verified. Component structure is
    additionally unit-tested in tests/test_graph.py."""
    vertices = build_vertices(spark, sf_dir)
    edges = build_membership_edges(spark, sf_dir)
    return connected_components(vertices, edges)


# ---------------------------------------------------------------------------
# Directed strongly connected components
# ---------------------------------------------------------------------------

# Deterministic DIRECTED functional graph over the customer key space,
# CAPPED at m = least(2000, max custkey) vertices so the quadratic
# closure oracle stays feasible at EVERY scale factor (the graph is a
# fixed-size cycle structure; the data only selects which prefix of it
# exists): v -> (7v mod m)+1 and v -> (3v mod m)+1, self-loops dropped.
# Two multiplier families overlap into non-trivial multi-vertex SCCs
# plus DAG tails — the structure SCC exists to find.
_SCC_ORACLE = """
WITH RECURSIVE
mm AS (SELECT least(2000, max(c_custkey)) AS m FROM customer),
verts AS (
  SELECT c_custkey AS id FROM customer WHERE c_custkey <= (SELECT m FROM mm)
),
eset AS (
  SELECT src, dst FROM (
    SELECT id AS src, (id * 7) % (SELECT m FROM mm) + 1 AS dst FROM verts
    UNION
    SELECT id AS src, (id * 3) % (SELECT m FROM mm) + 1 AS dst FROM verts
  ) WHERE src != dst
),
reach(s, d) AS (
  SELECT src, dst FROM eset
  UNION
  SELECT r.s, e.dst FROM reach r JOIN eset e ON r.d = e.src
),
mutual AS (
  SELECT a.s AS v, a.d AS w FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
  UNION
  SELECT id AS v, id AS w FROM verts
)
SELECT v AS id, min(w) AS component FROM mutual GROUP BY v
"""


@query("scc_membership", _SCC_ORACLE, tags=("graph-iterative", "graph-scc"))
def scc_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED strongly connected components (round-7): trim +
    forward-coloring + backward-mark phases
    (:func:`graph.algorithms.strongly_connected_components`), the one
    classic GraphX algorithm the undirected lane lacked. The oracle is
    the declarative fixpoint — the recursive reachability closure's
    mutual pairs, labeled min(w : v <-> w) — over a deterministic
    directed multiplier graph on the customer key space, capped at
    2000 vertices so the quadratic closure stays feasible at every
    scale factor. Labels are exactly min-member-id on both sides, so
    the full value hash verifies phase extraction, coloring, and trim
    at once."""
    customer = load_table(spark, sf_dir, "customer")
    m = customer.agg(
        F.least(F.lit(2000), F.max("c_custkey")).alias("m")
    ).first()["m"]
    verts = customer.where(F.col("c_custkey") <= m).select(
        F.col("c_custkey").alias("id")
    )
    eset = (
        verts.select(F.col("id").alias("src"), ((F.col("id") * 7) % m + 1).alias("dst"))
        .unionByName(
            verts.select(
                F.col("id").alias("src"), ((F.col("id") * 3) % m + 1).alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    from leader_graph_spark.graph.algorithms import strongly_connected_components

    return strongly_connected_components(verts, eset)


# ---------------------------------------------------------------------------
# Motif analytics: triangle counting on the same-nation graph
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
SELECT a.s_nationkey AS nationkey, count(*) AS n_triangles
FROM supplier a
JOIN supplier b ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
JOIN supplier c ON b.s_nationkey = c.s_nationkey AND b.s_suppkey < c.s_suppkey
GROUP BY a.s_nationkey
"""


@query("nation_triangle_counts", _TRIANGLE_ORACLE, tags=("graph-motif",))
def nation_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the GraphFrames motif ``(a)-(b)-(c)`` analog)
    over the same-nation relationship graph via ordered 3-way self-join
    — each triangle counted exactly once by ``id1 < id2 < id3``."""
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    a, b, c = supplier.alias("a"), supplier.alias("b"), supplier.alias("c")
    return (
        a.join(
            b,
            (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .join(
            c,
            (F.col("b.s_nationkey") == F.col("c.s_nationkey"))
            & (F.col("b.s_suppkey") < F.col("c.s_suppkey")),
        )
        .groupBy(F.col("a.s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# PageRank (iterative, integer fixed-point → fully oracle-checkable)
# ---------------------------------------------------------------------------

_PR_EDGES_CTE = """
edges AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
nodes AS (
  SELECT DISTINCT src AS id FROM (SELECT src FROM edges UNION ALL SELECT dst FROM edges)
),
outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
"""


def _pagerank_oracle(iterations: int = 8) -> str:
    ctes = [_PR_EDGES_CTE.strip(), "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)"]
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, sum(r.rank // o.d) AS s FROM edges e "
            f"JOIN r{i - 1} r ON r.id = e.src JOIN outd o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.id, CAST(150000 + (coalesce(c.s, 0) * 85) // 100 AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON c.id = n.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, rank FROM r{iterations}"


@query("pagerank_membership", _pagerank_oracle(), tags=("graph-iterative", "pagerank"))
def pagerank_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-iteration PageRank over the directed membership graph
    (customer→nation→region), in integer micro-units so the iterative
    computation is exactly reproducible by an unrolled-CTE SQL oracle —
    an oracle-checkable iterative graph algorithm, not rows-only."""
    from leader_graph_spark.graph.algorithms import pagerank_fixed_point

    return pagerank_fixed_point(build_membership_edges(spark, sf_dir), iterations=8)


# ---------------------------------------------------------------------------
# Multi-source k-hop reachability (BFS)
# ---------------------------------------------------------------------------

_KHOP_ORACLE = """
WITH edges AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
  )
), d0 AS (
  SELECT md5(concat('region', '_', r_name)) AS id, 0 AS dist FROM region
), c1 AS (
  SELECT DISTINCT s.dst AS id, 1 AS dist FROM sym s JOIN d0 ON s.src = d0.id
), c2 AS (
  SELECT DISTINCT s.dst AS id, 2 AS dist FROM sym s JOIN c1 ON s.src = c1.id
), c3 AS (
  SELECT DISTINCT s.dst AS id, 3 AS dist FROM sym s JOIN c2 ON s.src = c2.id
)
SELECT id, CAST(min(dist) AS INT) AS dist FROM (
  SELECT * FROM d0 UNION ALL SELECT * FROM c1
  UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
) GROUP BY id
"""


@query("membership_khop_distances", _KHOP_ORACLE, tags=("graph-iterative", "bfs"))
def membership_khop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop BFS: shortest hop distance from the region
    hubs over the membership graph ("everyone within 3 hops of a
    leader" — the reachability shape of the reference's leader graph).
    Nations land at hop 1, customers at hop 2; the hop-3 frontier is
    empty, exercising the fixed-round no-op contract. The oracle takes
    min-over-walk-candidates per unrolled round — same minimum the
    anti-join frontier keeps, without needing BFS in SQL."""
    from leader_graph_spark.functions.scalar import md5_key
    from leader_graph_spark.graph.algorithms import khop_distances

    edges = build_membership_edges(spark, sf_dir)
    sources = load_table(spark, sf_dir, "region").select(
        md5_key(F.lit("region"), "r_name").alias("id")
    )
    return khop_distances(edges, sources, k=3)


# ---------------------------------------------------------------------------
# Label-propagation community detection (fixed rounds, deterministic)
# ---------------------------------------------------------------------------


def _lpa_oracle(rounds: int = 3) -> str:
    ctes = [
        """base AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)""",
        "sym AS (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM base UNION ALL SELECT dst AS src, src AS dst FROM base))",
        "nodes AS (SELECT DISTINCT src AS id FROM sym)",
        "l0 AS (SELECT id, id AS label FROM nodes)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"c{i} AS (SELECT s.dst AS nid, l.label, count(*) AS c "
            f"FROM sym s JOIN l{i - 1} l ON l.id = s.src GROUP BY s.dst, l.label)"
        )
        ctes.append(
            f"p{i} AS (SELECT nid, label FROM (SELECT nid, label, "
            f"row_number() OVER (PARTITION BY nid ORDER BY c DESC, label) AS rn "
            f"FROM c{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS (SELECT l.id, coalesce(p.label, l.label) AS label "
            f"FROM l{i - 1} l LEFT JOIN p{i} p ON p.nid = l.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label AS community FROM l{rounds}"


@query("lpa_membership_communities", _lpa_oracle(), tags=("graph-iterative", "community"))
def lpa_membership_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous label propagation over the undirected
    membership graph — community detection, the graph primitive
    connected components can't give you (CC merges everything
    reachable; LPA splits dense regions by neighborhood majority).
    Deterministic by construction (fixed rounds, count-then-min-label
    total tie order), so the unrolled-CTE oracle value-checks every
    label — unlike GraphFrames' LPA, whose async schedule is
    nondeterministic (``graph/algorithms.py:label_propagation_fixed``).
    On this graph the hub structure makes labels oscillate between
    rounds (customers adopt their nation's label while the nation
    adopts its majority customer's), which is exactly the known LPA
    bipartite-oscillation behavior — fixed rounds pin one side of the
    oscillation; the test asserts the round-parity behavior explicitly.
    """
    from leader_graph_spark.graph.algorithms import label_propagation_fixed

    return label_propagation_fixed(build_membership_edges(spark, sf_dir), rounds=3)


_KCORE_K = 2
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT src, dst FROM ("
        "  SELECT src, dst FROM cp UNION ALL SELECT dst, src FROM cp))"
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"k{r} AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e{p} GROUP BY 1)"
            f" WHERE deg >= {_KCORE_K})"
        )
        ctes.append(
            f"e{r} AS (SELECT e.src, e.dst FROM e{p} e"
            f" JOIN k{r} a ON e.src = a.src JOIN k{r} b ON e.dst = b.src)"
        )
    return f"""
WITH cp AS (
  SELECT DISTINCT concat('c', o_custkey) AS src, concat('p', l_partkey) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
{",".join(ctes)}
SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
FROM e{_KCORE_ROUNDS} GROUP BY 1
"""


def _namespace_guard(col: str, prefix: str, query_name: str):
    """Column expression that passes ``col`` through unchanged but
    raises at runtime if any id lacks the expected namespace prefix —
    the cheap structural guard that makes ``disjoint_directions=True``
    misuse fail loudly instead of silently double-counting degrees.
    Fused into a USED column so Catalyst cannot prune it, and costs no
    extra driver action."""
    return (
        F.when(F.col(col).startswith(prefix), F.col(col))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"{query_name}: disjoint_directions requires "
                  f"{col} ids prefixed '{prefix}', got "), F.col(col))))
        .alias(col)
    )


@query("kcore_copurchase", _kcore_oracle(), bench=True, tags=("graph-iterative", "kcore"))
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the customer–part co-purchase bipartite graph
    (round-5): iterative peeling drops every vertex with fewer than 2
    distinct co-purchase partners, cascading through tendrils — the
    graph-curation filter that keeps only vertices with enough mutual
    support for neighborhood signals (the same graph
    ``copurchase_link_prediction`` scores; a 1-core vertex can never
    contribute a shared-neighbor feature). Fixed {rounds}-round unroll
    = the deterministic-oracle contract of
    ``connected_components(max_iter=…)`` and LPA:
    peeling is monotone and idempotent, equality to the true core
    holds whenever rounds ≥ peel depth (test-asserted: the shipped
    graph converges by round 4). Per round: one map-side-combinable
    degree count + two semi-joins, checkpointed."""
    from leader_graph_spark.graph.algorithms import kcore_subgraph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cp = (
        orders.select("o_orderkey", F.concat(F.lit("c"), F.col("o_custkey")).alias("src"))
        .join(
            lineitem.select("l_orderkey", F.concat(F.lit("p"), F.col("l_partkey")).alias("dst")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("src", "dst")
        .distinct()
    )
    # bipartite by construction: src ids are 'c…', dst ids are 'p…' —
    # disjoint namespaces, so the symmetrized union is distinct without
    # the extra full-shuffle distinct (symmetrize docstring). The
    # namespace split is ENFORCED, not assumed: the guard rides the
    # existing scan (no extra action) and raises at runtime if a future
    # edit to the edge build drops the prefixes — flag misuse would
    # otherwise silently double-count degrees.
    cp = cp.select(
        _namespace_guard("src", "c", "kcore_copurchase"),
        _namespace_guard("dst", "p", "kcore_copurchase"),
    )
    return kcore_subgraph(
        cp, k=_KCORE_K, rounds=_KCORE_ROUNDS, disjoint_directions=True
    )


@query("incremental_component_merge", _CC_ORACLE, bench=True, tags=("graph-iterative", "incremental"))
def incremental_component_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC maintenance (round-5): components computed over
    the BASE edge set (hierarchy + even-custkey memberships) absorb a
    DELTA batch (odd-custkey memberships) through
    :func:`graph.algorithms.merge_components` — new edges collapse to
    a QUOTIENT graph over current component labels (sized by the
    delta, never the history), whose components remap the labeling in
    one broadcast join. The oracle is the FULL-graph recursive
    transitive closure, so the driver hash proves incremental
    maintenance ≡ full recompute — the graph member of the repo's
    state-maintenance family (algebraic agg merge, retractable
    deltas, MinHash index probes, incremental join maintenance)."""
    from pyspark.sql import functions as F  # noqa: F811

    from leader_graph_spark.graph.algorithms import merge_components

    customer = load_table(spark, sf_dir, "customer")
    works = works_for_edges(spark, sf_dir)
    base_edges = belongs_to_edges(spark, sf_dir).unionByName(
        works.where(F.col("c_custkey") % 2 == 0).select("src", "dst")
    )
    delta_edges = works.where(F.col("c_custkey") % 2 == 1).select("src", "dst")
    base_vertices = (
        base_edges.select(F.col("src").alias("id"))
        .unionByName(base_edges.select(F.col("dst").alias("id")))
        .unionByName(build_vertices(spark, sf_dir).select("id"))
        .distinct()
    )
    # converged CC for the base labels: the base graph's diameter is 4
    # (customer-nation-REGION-nation-customer), and a tried fixed
    # 3-round shortcut produced unconverged labels the merge then
    # faithfully propagated — the oracle caught it; convergence is the
    # safe contract here and the demo's extra count() actions are the
    # price of it.
    #
    # Execution scope (round-8): the whole maintenance pipeline — base
    # CC loop, label state, quotient build — moves rows bounded by the
    # customer table, so one cheap parquet count sizes a
    # _loop_exec_conf static-execution scope (AQE off + derived static
    # partitions when small, no-op above the staticMaxRows threshold).
    # The base label state is checkpointed once: merge_components reads
    # it twice (quotient build + remap), and an unmaterialized label
    # plan re-runs the CC tail per use (measured: 7.2 s / 68 jobs /
    # 1157 tasks → 3.5 s / 31 jobs / 240 tasks at sf0.1; SCALE.md
    # round-8). The checkpoint is referenced by the returned plan, so
    # it is NOT released here — one-shot residue falls to the session's
    # periodic-GC backstop, the documented policy for returned states.
    from leader_graph_spark.graph.algorithms import _loop_exec_conf

    n_base = customer.count()
    with _loop_exec_conf(spark, 3 * n_base):
        labels = connected_components(base_vertices, base_edges).localCheckpoint()
        return merge_components(labels, delta_edges)


_WALK_STEPS = 3


def _walk_pick_sql(step: int) -> str:
    md5 = f"md5(start_id || '|' || '{step}' || '|' || cur || '|' || 'walk')"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({md5}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(CAST(({terms}) % len(nbr) AS INT) + 1)"


def _walk_oracle() -> str:
    ctes = [
        """sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT md5(concat('nation', '_', n_name)) AS src,
           md5(concat('region', '_', r_name)) AS dst
    FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL
    SELECT md5(concat('customer', '_', c_name)),
           md5(concat('nation', '_', n_name))
    FROM customer JOIN nation ON c_nationkey = n_nationkey
  )
)""",
        "und AS (SELECT src, dst FROM sym UNION SELECT dst, src FROM sym)",
        "nbrs AS (SELECT src AS cur, list_sort(list(dst)) AS nbr FROM und GROUP BY 1)",
        "w0 AS (SELECT cur AS start_id, cur, CAST(cur AS VARCHAR) AS path FROM nbrs)",
    ]
    for s in range(1, _WALK_STEPS + 1):
        ctes.append(
            f"w{s} AS (SELECT start_id, nbr[{_walk_pick_sql(s)}] AS cur, "
            f"path || '->' || nbr[{_walk_pick_sql(s)}] AS path "
            f"FROM w{s - 1} JOIN nbrs USING (cur))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT start_id, cur AS final_id, path FROM w{_WALK_STEPS}"
    )


@query("membership_random_walks", _walk_oracle(), tags=("graph-sampling", "walks"))
def membership_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-length random walks over the membership
    graph (round-5) — the node2vec/DeepWalk sampling primitive as a
    pure function of the graph: hop s from vertex v goes to
    ``sorted_neighbors(v)[md5(start|s|v) % degree]``, so dataset
    releases are reproducible and the oracle REPLAYS every hop of
    every walk (start, 3 hops, full path under the value hash). Each
    step is one co-partitioned join of the one-row-per-start frontier
    against the sorted-neighbor table."""
    from leader_graph_spark.graph.algorithms import deterministic_random_walks

    edges = build_membership_edges(spark, sf_dir)
    return deterministic_random_walks(edges, steps=_WALK_STEPS)


def _lp_pick_sql() -> str:
    md5 = "md5(src || '|' || dst || '|' || 'neg')"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({md5}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(CAST(({terms}) % (SELECT len(vs) FROM verts) AS INT) + 1)"


_LP_ORACLE = f"""
WITH sym0 AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM sym0 UNION ALL SELECT dst, src FROM sym0
  )
),
verts AS (SELECT list_sort(list(DISTINCT src)) AS vs FROM sym),
pos AS (SELECT src, dst FROM sym WHERE src < dst),
cand AS (
  SELECT src, (SELECT vs FROM verts)[{_lp_pick_sql()}] AS neg_dst
  FROM pos
),
neg AS (
  SELECT c.src, c.neg_dst AS dst, 0 AS label
  FROM cand c
  WHERE c.neg_dst <> c.src
    AND NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = c.src AND e.dst = c.neg_dst)
)
SELECT src, dst, CAST(label AS INT) AS label FROM (
  SELECT src, dst, 1 AS label FROM pos
  UNION ALL SELECT src, dst, label FROM neg
)
"""


@query("link_prediction_training_pairs", _LP_ORACLE, tags=("graph-sampling", "link-prediction"))
def link_prediction_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction TRAINING DATA over the membership graph
    (round-5): every undirected edge as a positive plus one
    deterministic negative corruption — the corrupted endpoint chosen
    by md5 over the sorted vertex universe and kept only when it is a
    genuine non-edge (single-probe policy: output stays a pure
    function of the graph; the drop rate is the graph density, which
    negative sampling assumes is small — true here and at any web
    scale). The oracle replays every corruption and the non-edge
    filter, so the driver hash pins the exact training-pair set a
    release would ship."""
    from leader_graph_spark.graph.algorithms import link_prediction_pairs

    edges = build_membership_edges(spark, sf_dir)
    return link_prediction_pairs(edges).select(
        "src", "dst", F.col("label").cast("int").alias("label")
    )


_LCC_ORACLE = """
WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
),
deg AS (
  SELECT u AS id, count(*) AS d FROM (
    SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
  ) GROUP BY 1
),
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
per_vertex AS (
  SELECT id, count(*) AS t FROM (
    SELECT a AS id FROM tris UNION ALL
    SELECT b FROM tris UNION ALL
    SELECT c FROM tris
  ) GROUP BY 1
)
SELECT d.id AS supp_id,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
       CAST((2000000 * COALESCE(p.t, 0)) // (d.d * (d.d - 1)) AS BIGINT) AS lcc_ppm
FROM deg d LEFT JOIN per_vertex p USING (id)
WHERE d.d >= 2
"""

# supplier_clustering_coefficients takes the bitset edge-iterator while
# its adjacency prices at most this many bytes at a conservative 32 B
# per broadcast map entry (key + bits + hashed-relation row overhead):
# the sf1 replica's ~1.57 M entries price at ~50 MB and stay on it. Past
# it the degree-oriented sparse path runs.
LCC_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


@query("supplier_clustering_coefficients", _LCC_ORACLE, bench=True, tags=("graph-motif", "clustering-coefficient"))
def supplier_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier over the SHARED-PART
    graph (round-5) — how clique-like each vertex's neighborhood is
    (2·T(v) / deg(v)(deg(v)−1), held as exact ppm integers): the
    neighborhood-cohesion signal behind community features and
    link-prediction confidence, meaningful here because suppliers
    belong to MANY overlapping part-cliques (the same-nation graph
    would score a trivial 1.0 everywhere). Triangles enumerated once
    via adjacency-array intersection over the degree-oriented graph
    and credited to all three corners; degree over the symmetrized
    edge set; ppm division exact integer.

    Size-guarded physical paths, same answer (r10 optimization, r11
    restructure):

    - The raw shared-part pair stream feeds the 64-bit block packer
      DIRECTLY (r11): ``bit_or`` is idempotent, so duplicate (u, v)
      pairs from multiple shared parts are free — the pair
      ``distinct`` (the lane's dominant exchange: every surviving
      pair shuffled to build an edge list the bitset path only
      re-derives anyway) is GONE, and the partial aggregate ships at
      most one (u, block) row per map partition (guide §2.3
      "aggregate before you shuffle"; dense graphs collapse ~64
      neighbors per shipped row). The pair join itself rides the
      hot-part skew guard (``skew_guarded_self_pairs``, §2.5).
      The checkpointed block relation OBSERVES its exact entry count,
      so the broadcast guard prices the real payload — one tier, no
      estimates (the r10 two-tier 16 B/entry guess under-counted and
      the budget was spent twice, ADVICE r10).
    - BITSET EDGE-ITERATOR (broadcastable adjacency): per-edge
      triangle count t(e) = |N(u) ∩ N(v)| evaluated as
      Σ bit_count(bits_u & bits_v) over the key-merged block maps;
      per-vertex T(v) = Σ_incident t(e) / 2 (each triangle through v
      has exactly two edges at v, so the sum is provably even) and
      degree = Σ bit_count(blocks). Edges (u < v, exactly once) are
      EXPLODED from the adjacency rows themselves, so the owner's
      block map rides along and only the NEIGHBOR side is broadcast —
      one broadcast, not two (ADVICE r10), under
      ``LCC_BROADCAST_MAX_BYTES``. At sf0.1 (a complete K_1000,
      166.2M triangles) the triangle tail is sub-second (r10:
      array_intersect 2.6 s → bitset 0.64 s).
    - LARGE sparse adjacency: the round-9 DEGREE-ORIENTED path below
      (forward arrays halve the intersection work; per-edge common
      members credited to all three corners) — a 100 TB-scale sparse
      graph must not ride a broadcast. Its edge list and degrees now
      also derive from the checkpointed block relation (one explode /
      one aggregate) instead of a second full pair shuffle."""
    from leader_graph_spark.graph.algorithms import _checkpoint_observed, _release
    from leader_graph_spark.graph.derived import skew_guarded_self_pairs

    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    pairs = skew_guarded_self_pairs(
        sp,
        group_col="p",
        id_col="s",
        emit=lambda: [F.col("a.s").alias("u"), F.col("b.s").alias("v")],
        ordered=False,
    )
    nbr_blocks, seen = _checkpoint_observed(
        pairs.select(
            "u",
            F.expr("CAST(v div 64 AS INT)").alias("blk"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(v % 64 AS INT))").alias("bit"),
        )
        .groupBy("u", "blk")
        .agg(F.expr("bit_or(bit)").alias("bits")),
        n_entries=F.count(F.lit(1)),
    )
    # Conservative bytes per broadcast map entry: 4 B block key + 8 B
    # bits + ~20 B hashed-relation/row overhead, single broadcast.
    ENTRY_BYTES = 32
    # Set-bit positions of one block, as absolute neighbor ids > u —
    # exploding the OWN adjacency yields each undirected edge exactly
    # once (from its smaller endpoint) with zero shuffle: bit_or packed
    # a distinct neighbor set, so no pair distinct is ever needed.
    _EXPLODE_BITS = (
        "filter(transform(sequence(0, 63), i -> CAST(blk AS BIGINT) * 64 + i),"
        " vv -> vv > u AND (shiftright(bits, CAST(vv % 64 AS INT)) & 1) = 1)"
    )
    if seen["n_entries"] * ENTRY_BYTES <= LCC_BROADCAST_MAX_BYTES:
        badj = (
            nbr_blocks.groupBy("u")
            .agg(F.map_from_entries(F.collect_list(F.struct("blk", "bits"))).alias("bm"))
            .localCheckpoint()
        )
        _release(nbr_blocks)
        edges = (
            badj.select("u", F.col("bm").alias("bu"), F.explode("bm").alias("blk", "bits"))
            .select("u", "bu", F.explode(F.expr(_EXPLODE_BITS)).alias("v"))
        )
        b_v = badj.select(F.col("u").alias("fv"), F.col("bm").alias("bv"))
        te = edges.join(F.broadcast(b_v), F.col("v") == F.col("fv")).select(
            "u",
            "v",
            F.expr(
                "aggregate(map_values(map_zip_with(bu, bv,"
                " (k, x, y) -> bit_count(coalesce(x, CAST(0 AS BIGINT))"
                "   & coalesce(y, CAST(0 AS BIGINT))))),"
                " CAST(0 AS BIGINT), (acc, c) -> acc + c)"
            ).alias("t"),
        )
        credits = te.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("id"), F.col("t")),
                    F.struct(F.col("v").alias("id"), F.col("t")),
                )
            ).alias("c")
        ).select("c.id", "c.t")
        # Σ_incident t(e) = 2·T(v) is even by construction; integer div
        # keeps the arithmetic exact at any scale (no double summation).
        per_vertex = credits.groupBy("id").agg(
            F.expr("CAST(sum(t) div 2 AS BIGINT)").alias("t")
        )
        deg = badj.select(
            "u",
            F.expr(
                "aggregate(map_values(bm), CAST(0 AS BIGINT),"
                " (acc, b) -> acc + bit_count(b))"
            ).alias("d"),
        ).select(F.col("u").alias("id"), "d")
        return (
            deg.join(per_vertex, "id", "left")
            .where(F.col("d") >= 2)
            .select(
                F.col("id").alias("supp_id"),
                F.col("d").cast("bigint").alias("degree"),
                F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
                F.expr(
                    "CAST((2000000 * COALESCE(t, 0)) div (d * (d - 1)) AS BIGINT)"
                ).alias("lcc_ppm"),
            )
        )
    # DEGREE-ORDERED orientation + ADJACENCY INTERSECTION: direct every
    # edge from its lower-(degree, id) endpoint, collect each vertex's
    # forward neighbors into one array (out-degree bounded O(√m) by the
    # orientation), then close triangles per EDGE with a JVM-side
    # array_intersect of the two endpoints' arrays. Unlike wedge
    # materialization (self-join on src), no Σ out-deg² intermediate is
    # ever shuffled — the only shuffled sets are the m edges and the n
    # adjacency rows, and the intersection happens inside codegen. On
    # the sf1 replica, where this shared-part graph densifies to a
    # near-complete K_10000 (4.995M edges), the wedge-join form took
    # 423 s; this form runs in ~15 s warm with identical output. At
    # 100 TB the same property holds: shuffle volume stays O(m), and
    # per-task memory is bounded by the O(√m) array length. Both the
    # degree table and the u<v edge list derive from the checkpointed
    # block relation (r11) — one narrow aggregate and one zero-shuffle
    # explode instead of the former pair-distinct + symmetrize passes.
    deg = (
        nbr_blocks.groupBy(F.col("u").alias("id"))
        .agg(F.expr("sum(bit_count(bits))").alias("d"))
        .localCheckpoint()
    )
    edges = nbr_blocks.select("u", F.explode(F.expr(_EXPLODE_BITS)).alias("v"))
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    keyed = edges.join(du, "u").join(dv, "v")
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    a_u = adj.select(F.col("src").alias("usrc"), F.col("nbrs").alias("un"))
    a_v = adj.select(F.col("src").alias("vsrc"), F.col("nbrs").alias("vn"))
    # A triangle {a,b,c} oriented a→b, a→c, b→c is found exactly once:
    # at edge (a,b), whose endpoints' forward arrays share c. Each hit
    # credits all three corners — src and dst get |common|, every
    # common neighbor gets 1 — emitted in ONE pass as an exploded
    # struct array so the intersection rows are scanned once, not three
    # times.
    inter = (
        oriented.join(a_u, F.col("src") == F.col("usrc"))
        .join(a_v, F.col("dst") == F.col("vsrc"), "left")
        .select(
            "src",
            "dst",
            F.array_intersect(
                F.col("un"), F.coalesce(F.col("vn"), F.array().cast("array<bigint>"))
            ).alias("common"),
        )
        .where(F.size("common") > 0)
    )
    credits = inter.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("src").alias("id"),
                        F.size("common").cast("bigint").alias("t"),
                    ),
                    F.struct(
                        F.col("dst").alias("id"),
                        F.size("common").cast("bigint").alias("t"),
                    ),
                ),
                F.transform(
                    F.col("common"),
                    lambda w: F.struct(w.alias("id"), F.lit(1).cast("bigint").alias("t")),
                ),
            )
        ).alias("c")
    ).select("c.id", "c.t")
    per_vertex = credits.groupBy("id").agg(F.sum("t").alias("t"))
    return (
        deg.join(per_vertex, "id", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("id").alias("supp_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr("CAST((2000000 * COALESCE(t, 0)) div (d * (d - 1)) AS BIGINT)").alias("lcc_ppm"),
        )
    )


def _ppr_oracle(iterations: int = 8) -> str:
    seeds = (
        "seeds AS (SELECT md5(concat('region', '_', r_name)) AS id FROM region),\n"
        "seeded AS (SELECT n.id, CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed "
        "FROM nodes n LEFT JOIN seeds s ON s.id = n.id)"
    )
    ctes = [
        _PR_EDGES_CTE.strip(),
        seeds,
        "r0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS rank FROM seeded)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, sum(r.rank // o.d) AS s FROM edges e "
            f"JOIN r{i - 1} r ON r.id = e.src JOIN outd o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.id, CAST(n.is_seed * 150000 + (coalesce(c.s, 0) * 85) // 100 AS BIGINT) AS rank "
            f"FROM seeded n LEFT JOIN c{i} c ON c.id = n.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, rank FROM r{iterations}"


@query("personalized_pagerank_regions", _ppr_oracle(), bench=True, tags=("graph-iterative", "pagerank", "personalized"))
def personalized_pagerank_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on the REGION vertices (round-5):
    teleport mass lands only on the seeds, so rank measures proximity
    to them — the recommend-related-entities primitive (GraphX
    ``personalizedPageRank`` analog), in the same integer micro-unit
    fixed point as ``pagerank_membership`` so the unrolled-CTE oracle
    reproduces all 8 iterations bit-for-bit."""
    from leader_graph_spark.functions.scalar import md5_key
    from leader_graph_spark.graph.algorithms import personalized_pagerank_fixed_point

    region = load_table(spark, sf_dir, "region")
    seeds = region.select(md5_key(F.lit("region"), "r_name").alias("id"))
    return personalized_pagerank_fixed_point(
        build_membership_edges(spark, sf_dir), seeds, iterations=8
    )


_NBR_JACCARD_K = 50

_NBR_JACCARD_ORACLE = f"""
WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT DISTINCT a.s AS s1, b.s AS s2
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
),
sizes AS (SELECT s, count(*) AS sz FROM sp GROUP BY 1),
inter AS (
  SELECT pr.s1, pr.s2, count(*) AS i
  FROM pairs pr
  JOIN sp a ON a.s = pr.s1
  JOIN sp b ON b.s = pr.s2 AND b.p = a.p
  GROUP BY 1, 2
)
SELECT supp_1, supp_2, nbr_jaccard FROM (
  SELECT i.s1 AS supp_1, i.s2 AS supp_2,
         round(i.i / CAST(za.sz + zb.sz - i.i AS DOUBLE), 6) AS nbr_jaccard,
         i.i / CAST(za.sz + zb.sz - i.i AS DOUBLE) AS j_exact
  FROM inter i
  JOIN sizes za ON za.s = i.s1
  JOIN sizes zb ON zb.s = i.s2
)
ORDER BY j_exact DESC, supp_1, supp_2 LIMIT {_NBR_JACCARD_K}
"""


@query("supplier_role_similarity", _NBR_JACCARD_ORACLE, tags=("graph-structural", "role-similarity"))
def supplier_role_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural role similarity (round-5): supplier pairs whose PART
    NEIGHBORHOODS overlap most — 'interchangeable supplier' detection
    by what they actually ship, the bipartite neighborhood-similarity
    primitive (SimRank-lite), as a deterministic TOP-{k} (an absolute
    threshold is testdata-fragile: the sf0.001 graph peaks at J=0.96
    where sf0.01 peaks at 0.19; rank order is the scale-stable
    contract, tie-broken by the pair key). Candidates come only from
    the shared-part equi-join (disjoint part sets can't score above
    zero); the verify is the repo's in-row array-intersect form over
    per-supplier sorted part arrays — candidate pairs join two
    one-row-per-supplier arrays, the part stream itself never
    re-shuffles; top-k via TakeOrdered on the exact double with key
    tie-breaks."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct().localCheckpoint()
    pairs = (
        keyed_pairs(sp, ["p"], "s")
        .select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .distinct()
    )
    sets = sp.groupBy("s").agg(F.array_sort(F.collect_list("p")).alias("ps"))
    sa = sets.select(F.col("s").alias("s1"), F.col("ps").alias("ps1"))
    sb = sets.select(F.col("s").alias("s2"), F.col("ps").alias("ps2"))
    m = (
        pairs.join(sa, "s1")
        .join(sb, "s2")
        .select(
            "s1",
            "s2",
            F.size(F.array_intersect("ps1", "ps2")).alias("i"),
            F.size("ps1").alias("z1"),
            F.size("ps2").alias("z2"),
        )
    )
    union_sz = F.col("z1") + F.col("z2") - F.col("i")
    scored = m.select(
        F.col("s1").alias("supp_1"),
        F.col("s2").alias("supp_2"),
        F.round(F.col("i") / union_sz.cast("double"), 6).alias("nbr_jaccard"),
        (F.col("i") / union_sz.cast("double")).alias("_j"),
    )
    return (
        scored.orderBy(F.desc("_j"), F.asc("supp_1"), F.asc("supp_2"))
        .limit(_NBR_JACCARD_K)
        .drop("_j")
    )


# ---------------------------------------------------------------------------
# Motif finding — the GraphFrames naming surface (graph/frames.py)
# ---------------------------------------------------------------------------

_MOTIF_ORACLE = """
WITH works AS (
  SELECT md5(concat('customer', '_', c_name)) AS src,
         md5(concat('nation', '_', n_name)) AS dst
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
belongs AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT w.src AS person_id, w.dst AS org_id, b.dst AS parent_id
FROM works w JOIN belongs b ON w.dst = b.src
"""


@query("motif_two_hop_membership", _MOTIF_ORACLE, tags=("graph-motif", "J1", "J2"))
def motif_two_hop_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif finding over the property graph (round-6): the reference's
    Cypher MATCH patterns (``src/mysql2neo4j.py`` relationship queries)
    and GraphFrames' ``g.find`` compile to the same thing — equi-joins
    on vertex ids. ``DFGraph.find("(p)-[w]->(n); (n)-[b]->(r)")``
    builds the person→org→parent two-hop as struct-typed motif columns;
    the oracle replays it as plain SQL joins, so the driver hash pins
    the motif compiler's join semantics (unification of the shared
    vertex name, edge-attribute structs, name scoping). Negated terms
    and anonymous elements are unit-pinned in tests/test_frames.py.

    Vertices are deduplicated by id at construction: unique vertex ids
    are the GraphFrames contract DFGraph inherits (id is the key the
    struct attach joins on), and duplicate content-keys would multiply
    every motif row by the duplicate count per named vertex — the
    round-6 10x replica (replicated names ⇒ ×10 per id) turned the
    two-hop into a ×1000 row bomb before this dedup."""
    from leader_graph_spark.graph.frames import DFGraph

    g = DFGraph(
        build_vertices(spark, sf_dir).dropDuplicates(["id"]),
        build_membership_edges(spark, sf_dir),
    )
    motif = g.find("(p)-[w]->(n); (n)-[b]->(r)").where(
        (F.col("w.relationship") == "WORKS_FOR")
        & (F.col("b.relationship") == "BELONGS_TO")
    )
    return motif.select(
        F.col("p.id").alias("person_id"),
        F.col("n.id").alias("org_id"),
        F.col("r.id").alias("parent_id"),
    )


_MOTIF_NEG_ORACLE = """
WITH works AS (
  SELECT md5(concat('customer', '_', c_name)) AS src,
         md5(concat('nation', '_', n_name)) AS dst,
         c_custkey AS ck
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
belongs AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
shortcut AS (
  SELECT w.src, b.dst
  FROM works w JOIN belongs b ON w.dst = b.src
  WHERE w.ck % 2 = 0
),
edges AS (
  SELECT src, dst FROM works
  UNION ALL SELECT src, dst FROM belongs
  UNION ALL SELECT src, dst FROM shortcut
)
SELECT w.src AS person_id, b.dst AS region_id
FROM works w JOIN belongs b ON w.dst = b.src
WHERE NOT EXISTS (
  SELECT 1 FROM edges e WHERE e.src = w.src AND e.dst = b.dst
)
"""


@query("motif_missing_shortcut_edges", _MOTIF_NEG_ORACLE, tags=("graph-motif", "negation"))
def motif_missing_shortcut_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATED-term motif finding (round-6): find two-hop
    person→nation→region paths whose direct person→region SHORTCUT
    edge is missing — the edge-cache-completeness query of a
    materialized-path graph (Cypher's ``WHERE NOT (p)-[]->(r)``;
    GraphFrames' ``!(p)-[]->(r)``). The graph carries works_for +
    belongs_to edges plus shortcut edges materialized for EVEN
    custkeys only, so the anti-join must return exactly the odd-key
    customers — a negation that bites, pinned by the NOT EXISTS
    oracle."""
    from leader_graph_spark.graph.frames import DFGraph

    works = works_for_edges(spark, sf_dir)
    belongs = belongs_to_edges(spark, sf_dir)
    b2 = belongs.select(
        F.col("src").alias("b_src"), F.col("dst").alias("b_dst")
    )
    shortcut = (
        works.where(F.col("c_custkey") % 2 == 0)
        .join(b2, F.col("dst") == F.col("b_src"))
        .select("src", F.col("b_dst").alias("dst"))
    )
    edges = (
        works.select("src", "dst")
        .unionByName(belongs.select("src", "dst"))
        .unionByName(shortcut.select("src", "dst"))
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
    )
    g = DFGraph(vertices, edges)
    motif = g.find("(p)-[w]->(n); (n)-[b]->(r); !(p)-[]->(r)")
    return motif.select(
        F.col("p.id").alias("person_id"), F.col("r.id").alias("region_id")
    )


_SSSP_ROUNDS = 6


def _sssp_oracle() -> str:
    # Every round references the previous round TWICE (keep-branch +
    # relax-branch); left to CTE inlining that doubles the plan per
    # round — 2^rounds copies of the base scan, observed as a 22 GB
    # DuckDB OOM at the 10x replica. MATERIALIZED pins each round to
    # one evaluation, the semantics the engine's per-round checkpoint
    # already has.
    ctes = []
    prev = "d0"
    for r in range(1, _SSSP_ROUNDS + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM ("
            f"  SELECT id, dist FROM {prev}"
            f"  UNION ALL"
            f"  SELECT e.dst AS id, d.dist + e.w AS dist FROM {prev} d JOIN e ON d.id = e.src"
            f") GROUP BY 1)"
        )
        prev = f"d{r}"
    return f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS MATERIALIZED (
  SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(pk * 2 + 1 AS BIGINT) AS dst,
         CAST((ck * 31 + pk) % 97 + 1 AS BIGINT) AS w
  FROM cp
  UNION ALL
  SELECT CAST(pk * 2 + 1 AS BIGINT), CAST(ck * 2 AS BIGINT),
         CAST((ck * 31 + pk) % 97 + 1 AS BIGINT)
  FROM cp
),
d0 AS (
  SELECT CAST(c_custkey * 2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_custkey % 250 = 0
),
{",".join(ctes)}
SELECT id, dist FROM d{_SSSP_ROUNDS}
"""


@query(
    "weighted_sssp_copurchase",
    _sssp_oracle(),
    bench=True,
    tags=("graph-iterative", "weighted-sssp", "bellman-ford"),
)
def weighted_sssp_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths
    (``graph/algorithms.py:weighted_sssp``) over the customer–part
    co-purchase bipartite graph (the same graph ``kcore_copurchase``
    peels), edge weight a pure integer function of the endpoint keys
    ((ck·31 + pk) % 97 + 1) so both engines derive it without floats,
    seeds every 250th customer at distance 0, exactly 6 Bellman-Ford
    relaxation rounds. Vertex ids are NARROW BIGINTs (customer ck·2,
    part pk·2+1 — the disjoint-parity encoding) rather than prefixed
    strings: every relaxation round shuffles 8-byte keys (the
    narrow-key argument of SCALE.md round-7), and
    the unrolled oracle's six pipelined hash joins stay in memory
    where the string form OOMed DuckDB at the 10x replica. The
    bipartite topology gives real alternative paths (two customers
    sharing any part create a cheaper 2-hop detour whenever weights
    allow), so the delta-frontier relaxation is exercised on genuine
    improvements, not just first-visits. The oracle unrolls the
    identical 6 rounds as CTEs — bounded-hop cheapest reach is exact
    on both sides regardless of convergence."""
    from leader_graph_spark.graph.algorithms import weighted_sssp

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    w = ((F.col("ck") * 31 + F.col("pk")) % 97 + 1).cast("bigint")
    cid = (F.col("ck") * 2).cast("bigint")
    pid = (F.col("pk") * 2 + 1).cast("bigint")
    fwd = cp.select(cid.alias("src"), pid.alias("dst"), w.alias("w"))
    rev = cp.select(pid.alias("src"), cid.alias("dst"), w.alias("w"))
    seeds = cust.where(F.col("c_custkey") % 250 == 0).select(
        (F.col("c_custkey") * 2).cast("bigint").alias("id")
    )
    return weighted_sssp(fwd.unionByName(rev), seeds, rounds=_SSSP_ROUNDS)


_CLOSENESS_K = 4


def _closeness_oracle() -> str:
    # min-fold BFS unroll: equivalent to the engine's anti-join frontier
    # for unweighted graphs (first reach IS the minimum), MATERIALIZED
    # per round for the same reason as the SSSP oracle (each round is
    # referenced twice; inlining doubles the plan per round).
    ctes = []
    prev = "v0"
    for r in range(1, _CLOSENESS_K + 1):
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT id, pv, min(dist) AS dist FROM ("
            f"  SELECT id, pv, dist FROM {prev}"
            f"  UNION ALL"
            f"  SELECT s.dst AS id, v.pv, v.dist + 1 AS dist"
            f"  FROM {prev} v JOIN sym s ON v.id = s.src"
            f") GROUP BY 1, 2)"
        )
        prev = f"v{r}"
    return f"""
WITH e0 AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
  )
),
v0 AS (
  SELECT md5(concat('nation', '_', n_name)) AS id,
         md5(concat('nation', '_', n_name)) AS pv,
         CAST(0 AS BIGINT) AS dist
  FROM nation
),
{",".join(ctes)}
SELECT id,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(dist) AS BIGINT) AS sum_dist,
       CAST(CASE WHEN sum(dist) > 0 THEN (count(*) * 1000000) // sum(dist)
                 ELSE 0 END AS BIGINT) AS closeness_milli
FROM v{_CLOSENESS_K}
GROUP BY id
"""


@query(
    "closeness_centrality_membership",
    _closeness_oracle(),
    tags=("graph-iterative", "closeness-centrality", "multi-pivot-bfs"),
)
def closeness_centrality_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-based closeness centrality over the membership graph
    (``graph/algorithms.py:multi_source_distances``): every nation
    vertex is a pivot, 4 BFS rounds track (vertex, pivot) distance
    lanes separately, and each vertex aggregates (pivots reached, sum
    of distances, exact integer milli-closeness = reached·10^6 div
    sum). This is the Eppstein–Wang estimation shape — at 100 TB the
    pivot set stays FIXED while the graph grows, so the per-round
    state is a constant multiple of the vertex set and the answer
    converges to true closeness with O(log V / eps^2) pivots; here the
    25 nations are the full organization tier, so the figure is exact
    for the membership topology (cross-region vertices are simply
    unreached — closeness over the reachable set, the standard
    disconnected-graph convention). Oracle: min-fold BFS unrolled 4
    rounds, equivalent to the engine's anti-join frontier because
    first reach is the minimum hop count."""
    from leader_graph_spark.functions.scalar import md5_key
    from leader_graph_spark.graph.algorithms import multi_source_distances

    nation = load_table(spark, sf_dir, "nation")
    edges = build_membership_edges(spark, sf_dir).select("src", "dst")
    pivots = nation.select(md5_key(F.lit("nation"), "n_name").alias("id"))
    dists = multi_source_distances(edges, pivots, k=_CLOSENESS_K)
    return dists.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
        F.expr(
            "CAST(CASE WHEN sum(dist) > 0 THEN (count(*) * 1000000) div sum(dist) "
            "ELSE 0 END AS BIGINT)"
        ).alias("closeness_milli"),
    )


_TEMPORAL_ROUNDS = 4


def _temporal_oracle() -> str:
    # same MATERIALIZED-per-round discipline as the SSSP oracle: each
    # round references the previous one twice, and default inlining
    # doubles the plan per round.
    ctes = []
    prev = "a0"
    for r in range(1, _TEMPORAL_ROUNDS + 1):
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT id, min(arrival) AS arrival FROM ("
            f"  SELECT id, arrival FROM {prev}"
            f"  UNION ALL"
            f"  SELECT e.dst AS id, e.t AS arrival"
            f"  FROM {prev} a JOIN e ON a.id = e.src AND e.t >= a.arrival"
            f") GROUP BY 1)"
        )
        prev = f"a{r}"
    return f"""
WITH ct AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk,
         CAST(datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS t
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS MATERIALIZED (
  SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(sk * 2 + 1 AS BIGINT) AS dst, t FROM ct
  UNION ALL
  SELECT CAST(sk * 2 + 1 AS BIGINT), CAST(ck * 2 AS BIGINT), t FROM ct
),
a0 AS (
  SELECT CAST(c_custkey * 2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS arrival
  FROM customer WHERE c_custkey % 500 = 0
),
{",".join(ctes)}
SELECT id, arrival FROM a{_TEMPORAL_ROUNDS}
"""


@query(
    "temporal_reachability_contacts",
    _temporal_oracle(),
    tags=("graph-iterative", "temporal-bfs", "earliest-arrival"),
)
def temporal_reachability_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest arrival
    (``graph/algorithms.py:temporal_earliest_arrival``) over the
    customer–supplier CONTACT stream: every (customer, supplier,
    ship-day) lineitem triple is a timestamped contact, every 500th
    customer is seeded at day 0, and a vertex's arrival is the first
    day it can be reached over a chain of contacts whose days never
    decrease — the contagion/information-spread semantics a static
    reachability query overstates (a supplier's January contact cannot
    forward what its customer only learned in March). Vertex ids are
    the narrow disjoint-parity BIGINTs (ck·2 / sk·2+1); 4 fixed
    relaxation rounds; the oracle unrolls the identical rounds with
    MATERIALIZED CTEs. Everything — days, ids, arrivals — is exact
    integer arithmetic on both engines."""
    from leader_graph_spark.graph.algorithms import temporal_earliest_arrival

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    ct = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_suppkey").alias("sk"),
            F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01").cast("date"))
            .cast("bigint")
            .alias("t"),
        )
        .distinct()
    )
    cid = (F.col("ck") * 2).cast("bigint")
    sid = (F.col("sk") * 2 + 1).cast("bigint")
    contacts = ct.select(cid.alias("src"), sid.alias("dst"), "t").unionByName(
        ct.select(sid.alias("src"), cid.alias("dst"), "t")
    )
    seeds = cust.where(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") * 2).cast("bigint").alias("id")
    )
    return temporal_earliest_arrival(contacts, seeds, rounds=_TEMPORAL_ROUNDS)


# ---------------------------------------------------------------------------
# Hierarchy subtree rollup over a parent-pointer forest
# ---------------------------------------------------------------------------

_SUBTREE_ROLLUP_ORACLE = """
WITH RECURSIVE par AS (
  SELECT c_custkey AS child, c_custkey // 8 AS parent
  FROM customer WHERE c_custkey // 8 >= 1
),
anc AS (
  SELECT child AS node, parent AS anc, 1 AS depth FROM par
  UNION ALL
  SELECT a.node, p.parent, a.depth + 1 FROM anc a JOIN par p ON a.anc = p.child
)
SELECT c.c_custkey AS node_key,
       CAST(count(*) AS BIGINT) AS n_descendants,
       CAST(max(a.depth) AS INT) AS subtree_depth,
       CAST(sum(CAST(floor(d.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS desc_balance_cents
FROM anc a
JOIN customer d ON a.node = d.c_custkey
JOIN customer c ON a.anc = c.c_custkey
GROUP BY c.c_custkey
"""


@query("hierarchy_subtree_rollup", _SUBTREE_ROLLUP_ORACLE, tags=("J2", "graph-hierarchy"))
def hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Org-chart subtree rollup: every node of a parent-pointer forest
    aggregated over its FULL descendant set — headcount, subtree
    depth, and the summed account balance of everyone below — the
    query behind "total budget under this org unit" on the reference's
    BELONGS_TO hierarchy (``src/mysql2neo4j.py:204-227``), which stops
    at one level because Cypher walks it per-request; here the whole
    forest rolls up in one pass. The forest is synthesized over
    customers by integer key arithmetic (parent = custkey div 8 — a
    fanout-8 forest, depth log₈ n) so every scale factor carries the
    same shape.

    Exactness: balances go through the portable cents fixed-point
    before summing; counts/depths are integers end-to-end.

    Scale shape: ``ancestor_closure`` climbs the forest in O(depth)
    rounds — each a join keyed on the ancestor id over a frontier that
    is at most one row per node — then ONE groupBy on the ancestor key
    aggregates the O(n·depth) closure. Nothing quadratic: a fanout-f
    forest keeps the closure to n·log_f n rows, and hot ancestor keys
    (the roots, with the most descendants) are exactly the AQE
    skew-split case the session enables."""
    from leader_graph_spark.graph.algorithms import ancestor_closure

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias("bal_cents"),
    )
    par = customer.select(
        F.col("c_custkey").alias("child"),
        F.expr("c_custkey div 8").alias("parent"),
    ).where(F.col("parent") >= 1)
    # 8^12 > any replica-offset key (≤ ~1.6e9), so 12 rounds always
    # exhausts the forest; later rounds are empty-frontier no-ops.
    closure = ancestor_closure(par, max_rounds=12)
    return (
        closure.join(
            customer.select(F.col("c_custkey").alias("node"), "bal_cents"), "node"
        )
        .join(
            customer.select(F.col("c_custkey").alias("anc")).alias("exists_anc"),
            "anc",
        )
        .groupBy(F.col("anc").alias("node_key"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_descendants"),
            F.max("depth").cast("int").alias("subtree_depth"),
            F.sum("bal_cents").cast("bigint").alias("desc_balance_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot-sampled betweenness centrality over the co-purchase graph
# ---------------------------------------------------------------------------

_BETW_K = 3
_BETW_UNIT = 1_000_000


def _betweenness_oracle() -> str:
    # Brandes unrolled: min-fold BFS for distances, per-level σ sums,
    # then the backward dependency accumulation δ with the SAME
    # integer-division fixed-point as the engine. MATERIALIZED per CTE
    # (each level is referenced by the next two).
    k, u = _BETW_K, _BETW_UNIT
    ctes = []
    prev = "d0"
    for r in range(1, k + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT id, pv, min(dist) AS dist FROM ("
            f"  SELECT id, pv, dist FROM {prev}"
            f"  UNION ALL"
            f"  SELECT e.dst AS id, v.pv, v.dist + 1 AS dist"
            f"  FROM {prev} v JOIN e ON v.id = e.src"
            f") GROUP BY 1, 2)"
        )
        prev = f"d{r}"
    ctes.append("s0 AS (SELECT id, pv, CAST(1 AS BIGINT) AS sigma FROM d0)")
    for lv in range(1, k + 1):
        ctes.append(
            f"s{lv} AS MATERIALIZED ("
            f"  SELECT dd.id, dd.pv, sum(s.sigma) AS sigma"
            f"  FROM s{lv - 1} s JOIN e ON s.id = e.src"
            f"  JOIN d{k} dd ON dd.id = e.dst AND dd.pv = s.pv AND dd.dist = {lv}"
            f"  GROUP BY 1, 2)"
        )
    for lv in range(k, 1, -1):
        dl = (
            f" LEFT JOIN delta{lv} dl ON dl.id = w.id AND dl.pv = w.pv"
            if lv < k
            else ""
        )
        dexpr = "coalesce(dl.delta, CAST(0 AS BIGINT))" if lv < k else "CAST(0 AS BIGINT)"
        ctes.append(
            f"delta{lv - 1} AS MATERIALIZED ("
            f"  SELECT u.id, u.pv,"
            f"         sum((u.sigma * ({u} + {dexpr})) // w.sigma) AS delta"
            f"  FROM s{lv - 1} u JOIN e ON u.id = e.src"
            f"  JOIN s{lv} w ON w.id = e.dst AND w.pv = u.pv{dl}"
            f"  GROUP BY 1, 2)"
        )
    lanes = " UNION ALL ".join(
        f"SELECT id, pv, delta FROM delta{lv}" for lv in range(1, k)
    )
    return f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS MATERIALIZED (
  SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(pk * 2 + 1 AS BIGINT) AS dst FROM cp
  UNION ALL
  SELECT CAST(pk * 2 + 1 AS BIGINT), CAST(ck * 2 AS BIGINT) FROM cp
),
d0 AS (
  SELECT CAST(c_custkey * 2 AS BIGINT) AS id,
         CAST(c_custkey * 2 AS BIGINT) AS pv,
         CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_custkey % 500 = 0
),
{",".join(ctes)}
SELECT id,
       CAST(count(*) AS BIGINT) AS n_lanes,
       CAST(sum(delta) AS BIGINT) AS bc_milli
FROM ({lanes})
GROUP BY id
"""


@query(
    "betweenness_copurchase_sampled",
    _betweenness_oracle(),
    tags=("graph-iterative", "betweenness-centrality", "multi-pivot-bfs"),
)
def betweenness_copurchase_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled, depth-bounded betweenness centrality
    (``graph/algorithms.py:pivot_betweenness``; Brandes 2001 with
    Brandes-Pich 2007 pivot sampling) over the same customer–part
    co-purchase bipartite graph ``kcore_copurchase`` peels and
    ``weighted_sssp_copurchase`` relaxes: every 500th customer is a
    pivot, 3 forward BFS rounds count shortest paths σ per
    (vertex, pivot) lane, and the backward pass folds the dependency
    δ(v) = Σ σ_v/σ_w·(1+δ_w) down the shortest-path DAG. The
    bipartite topology gives real σ > 1 lanes (two customers sharing
    several parts have that many 2-hop shortest paths), so the
    path-ratio arithmetic is exercised, not degenerate. δ shares are
    fixed-pointed by integer division to milli-units before summing —
    the same order-independence discipline as closeness — so the
    unrolled oracle matches bit-for-bit.

    Scale: pivots stay FIXED as the graph grows (the Brandes-Pich
    estimator), so state is |V|·|pivots| lanes; narrow BIGINT vertex
    ids (ck·2/pk·2+1) keep every per-round shuffle at 8-byte keys, the
    narrow-key argument of SCALE.md round-7."""
    from leader_graph_spark.graph.algorithms import pivot_betweenness

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    cid = (F.col("ck") * 2).cast("bigint")
    pid = (F.col("pk") * 2 + 1).cast("bigint")
    edges = cp.select(cid.alias("src"), pid.alias("dst")).unionByName(
        cp.select(pid.alias("src"), cid.alias("dst"))
    )
    pivots = cust.where(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") * 2).cast("bigint").alias("id")
    )
    lanes = pivot_betweenness(edges, pivots, k=_BETW_K, unit=_BETW_UNIT)
    return lanes.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lanes"),
        F.sum("delta").cast("bigint").alias("bc_milli"),
    )


# ---------------------------------------------------------------------------
# Harmonic centrality + bounded eccentricity over the membership graph
# ---------------------------------------------------------------------------


def _harmonic_oracle() -> str:
    # Same min-fold BFS unroll as the closeness oracle; only the final
    # fold differs (sum of reciprocal distances in milli, max dist).
    ctes = []
    prev = "v0"
    for r in range(1, _CLOSENESS_K + 1):
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT id, pv, min(dist) AS dist FROM ("
            f"  SELECT id, pv, dist FROM {prev}"
            f"  UNION ALL"
            f"  SELECT s.dst AS id, v.pv, v.dist + 1 AS dist"
            f"  FROM {prev} v JOIN sym s ON v.id = s.src"
            f") GROUP BY 1, 2)"
        )
        prev = f"v{r}"
    return f"""
WITH e0 AS (
  SELECT md5(concat('nation', '_', n_name)) AS src,
         md5(concat('region', '_', r_name)) AS dst
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT md5(concat('customer', '_', c_name)),
         md5(concat('nation', '_', n_name))
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
  )
),
v0 AS (
  SELECT md5(concat('nation', '_', n_name)) AS id,
         md5(concat('nation', '_', n_name)) AS pv,
         CAST(0 AS BIGINT) AS dist
  FROM nation
),
{",".join(ctes)}
SELECT id,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(max(dist) AS INT) AS ecc_k,
       CAST(sum(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END) AS BIGINT)
         AS harmonic_milli
FROM v{_CLOSENESS_K}
GROUP BY id
"""


@query(
    "harmonic_centrality_membership",
    _harmonic_oracle(),
    tags=("graph-iterative", "harmonic-centrality", "multi-pivot-bfs"),
)
def harmonic_centrality_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (Boldi-Vigna's disconnected-safe variant of
    closeness: sum of reciprocal distances, unreached pivots simply
    contribute 0 — no reachable-set normalization artifact) plus the
    k-bounded eccentricity, over the SAME pivot BFS lanes
    ``closeness_centrality_membership`` builds — one
    ``multi_source_distances`` pass, two extra integer folds. Each
    reciprocal is fixed-pointed independently (1e6 div dist), so the
    per-vertex sum is order-independent and engine-exact.

    Scale: identical to closeness — fixed pivot set, |V|×|pivots|
    lane state, per-round shuffles keyed on vertex id."""
    from leader_graph_spark.functions.scalar import md5_key
    from leader_graph_spark.graph.algorithms import multi_source_distances

    nation = load_table(spark, sf_dir, "nation")
    edges = build_membership_edges(spark, sf_dir).select("src", "dst")
    pivots = nation.select(md5_key(F.lit("nation"), "n_name").alias("id"))
    dists = multi_source_distances(edges, pivots, k=_CLOSENESS_K)
    return dists.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.max("dist").cast("int").alias("ecc_k"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr("1000000 div dist")).otherwise(0)
        )
        .cast("bigint")
        .alias("harmonic_milli"),
    )
