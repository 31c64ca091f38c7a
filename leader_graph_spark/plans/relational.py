"""Relational-core queries (SURVEY.md §2 M1 milestone + flagship).

Each query is the Spark-first re-expression of a reference operator
shape, exercised over the driver's synthetic TPC-H-ish tables, paired
with a DuckDB oracle. Reference citations in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leader_graph_spark.functions.scalar import (
    first_of_packed_list,
    format_period,
    md5_key,
    ts_months_scalar,
)
from leader_graph_spark.operators.intervals import interval_overlap_self_join
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import join_dim, load_table

# ---------------------------------------------------------------------------
# Flagship: interval-overlap self-join (J4/J6 colleague shape)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH spans AS (
  SELECT o_custkey,
         min(o_orderdate) AS first_dt,
         max(o_orderdate) AS last_dt
  FROM orders GROUP BY o_custkey
), cust AS (
  SELECT c_custkey, c_nationkey,
         year(first_dt)*12 + month(first_dt) AS start_m,
         year(last_dt)*12 + month(last_dt) AS end_m
  FROM customer JOIN spans ON c_custkey = o_custkey
)
SELECT a.c_nationkey AS nationkey,
       a.c_custkey  AS custkey_1,
       b.c_custkey  AS custkey_2,
       printf('%d.%02d-%d.%02d',
              (greatest(a.start_m, b.start_m) - 1) // 12,
              ((greatest(a.start_m, b.start_m) - 1) % 12) + 1,
              (least(a.end_m, b.end_m) - 1) // 12,
              ((least(a.end_m, b.end_m) - 1) % 12) + 1) AS overlap_period
FROM cust a JOIN cust b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_custkey < b.c_custkey
 AND a.start_m <= b.end_m AND b.start_m <= a.end_m
"""


@query("flagship_colleagues_interval", _FLAGSHIP_ORACLE, bench=True, tags=("J4", "J6", "F15", "F16", "F17", "W4"))
def flagship_colleagues_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLEAGUES-shape derived edges: customers in the same nation whose
    order-activity intervals overlap, with the overlap window formatted
    as ``YYYY.MM-YYYY.MM``.

    Re-expresses the reference's historical-colleague interval self-join
    (``src/mysql2neo4j.py:398-489``): equi-join on the shared key
    (workplace → nation), month-scalar interval overlap test, overlap
    bounds via greatest/least, pair dedup ``id1 < id2``.

    The overlap period is formatted per OUTPUT pair (greatest/least on
    month scalars → one ``format_string``). The round-2 variant
    pre-formatted ``YYYY.MM`` strings per input row and carried them
    through the join, but hauling two extra string columns per side
    through the 4.5M-row expansion join costs more than the format
    calls it saves (A/B best-of-3 at sf0.1: 1.11s vs 1.24s) — and the
    narrower join payload is also what you want in a 100 TB shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spans = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"), F.max("o_orderdate").alias("last_dt")
    )
    cust = (
        customer.join(spans, customer.c_custkey == spans.o_custkey)
        .select(
            "c_custkey",
            "c_nationkey",
            ts_months_scalar("first_dt").alias("start_m"),
            ts_months_scalar("last_dt").alias("end_m"),
        )
    )
    pairs = interval_overlap_self_join(
        cust,
        key_cols=["c_nationkey"],
        id_col="c_custkey",
        carry_cols=["start_m", "end_m"],
    )
    return pairs.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey_1").alias("custkey_1"),
        F.col("c_custkey_2").alias("custkey_2"),
        format_period(
            F.greatest("start_m_1", "start_m_2"), F.least("end_m_1", "end_m_2")
        ).alias("overlap_period"),
    )


@query(
    "flagship_colleagues_bucketed",
    _FLAGSHIP_ORACLE,
    bench=True,
    tags=("J4", "J6", "skew-bucketed"),
)
def flagship_colleagues_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship interval join through the skew-resistant
    month-bucket blocking variant (same oracle — results must be
    identical). This is the 100 TB execution path: a hot key's pairs
    spread over many (key, bucket) partitions instead of one.
    Bench-flagged so the skew-resistant plan has a tracked number next
    to the naive join as data grows."""
    from leader_graph_spark.operators.intervals import (
        interval_overlap_self_join_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spans = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"), F.max("o_orderdate").alias("last_dt")
    )
    cust = customer.join(spans, customer.c_custkey == spans.o_custkey).select(
        "c_custkey",
        "c_nationkey",
        ts_months_scalar("first_dt").alias("start_m"),
        ts_months_scalar("last_dt").alias("end_m"),
    )
    pairs = interval_overlap_self_join_bucketed(
        cust, key_cols=["c_nationkey"], id_col="c_custkey", bucket_months=24
    )
    return pairs.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey_1").alias("custkey_1"),
        F.col("c_custkey_2").alias("custkey_2"),
        format_period(F.col("overlap_start"), F.col("overlap_end")).alias("overlap_period"),
    )


# ---------------------------------------------------------------------------
# Aggregation core (A1-A4 shapes) — TPC-H Q1 pricing summary
# ---------------------------------------------------------------------------

_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", _PRICING_ORACLE, bench=True, tags=("A1", "A4", "P2"))
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation with pushed-down filter (the reference's
    COUNT/GROUP aggregates A1-A4, ``leader/update_c_org_leader_info.py:326-328``,
    generalized to the TPC-H Q1 shape). DECIMAL sums keep the result
    independent of float summation order; the FINAL projection casts to
    DOUBLE so both engines hand the driver the same float64 column
    (the exact decimal→nearest-double step is deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            )
            .cast("decimal(28,6)")
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchy join (J2) + dimension lookup join (J9/J1)
# ---------------------------------------------------------------------------

_HIERARCHY_ORACLE = """
SELECT n.n_nationkey AS child_key, n.n_name AS child_name,
       r.r_regionkey AS parent_key, r.r_name AS parent_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("org_hierarchy_edges", _HIERARCHY_ORACLE, tags=("J2",))
def org_hierarchy_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BELONGS_TO hierarchy edges: child org joined to parent org on
    ``parent_uuid == uuid`` (``src/mysql2neo4j.py:204-227``), expressed
    as nation→region with the parent side looked up as a dimension
    (:func:`join_dim`)."""
    nation = load_table(spark, sf_dir, "nation")
    return join_dim(
        nation, "n_regionkey", sf_dir, "region", "r_regionkey", {"r_name": "parent_name"}
    ).select(
        F.col("n_nationkey").alias("child_key"),
        F.col("n_name").alias("child_name"),
        F.col("n_regionkey").alias("parent_key"),
        "parent_name",
    )


_CUST_REGION_ORACLE = """
SELECT c.c_custkey, c.c_name,
       n.n_name AS nation_name, r.r_name AS region_name
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("customer_region_lookup", _CUST_REGION_ORACLE, tags=("J1", "J9"))
def customer_region_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left dimension-lookup join chain (the reference's J1 leader→org
    left join ``src/mysql2neo4j.py:110-121`` + J9 broadcast dict lookup
    ``src/mysql2neo4j.py:130-151``). Both dims are looked up
    (:func:`join_dim`) — no shuffle of the fact side."""
    customer = load_table(spark, sf_dir, "customer")
    with_nation = join_dim(
        customer, "c_nationkey", sf_dir, "nation", "n_nationkey",
        {"n_name": "nation_name", "n_regionkey": "n_regionkey"}, "left",
    )
    return join_dim(
        with_nation, "n_regionkey", sf_dir, "region", "r_regionkey",
        {"r_name": "region_name"}, "left",
    ).select("c_custkey", "c_name", "nation_name", "region_name")


# ---------------------------------------------------------------------------
# First-wins dedup (A5) — deterministic via explicit ordering column
# ---------------------------------------------------------------------------

_FIRST_ORDER_ORACLE = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


@query("first_order_per_customer", _FIRST_ORDER_ORACLE, tags=("A5", "W1"))
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence dedup with an explicit ordering column
    (``org/create_c_org_info.py:401-426`` keeps the first row per uuid in
    file order). ``dropDuplicates`` alone is nondeterministic — the
    row_number window is the oracle-stable form."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# Forward-fill (W1)
# ---------------------------------------------------------------------------

_FFILL_ORACLE = """
SELECT event_id, user_id, ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events
)
"""


@query("forward_fill_events", _FFILL_ORACLE, tags=("W1",))
def forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: empty cells inherit the nearest preceding non-empty
    value (``org/create_c_org_info.py:57-68``). 'error' events are
    treated as the missing cells; fill runs per user in (ts, event_id)
    order — the explicit row-order column the reference's file order
    provides."""
    events = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.last(v, ignorenulls=True).over(w).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# Anti / semi joins (J7, J8, P5 incremental skip)
# ---------------------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


@query("customers_without_finished_orders", _ANTI_ORACLE, tags=("J7", "P5", "U2"))
def customers_without_finished_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: the reference's edge-dedup NOT EXISTS
    (``src/mysql2neo4j.py:326-336``) and processed-set exclusion P5
    (``leader/update_c_org_leader_info.py:293-311``) — Spark's
    ``left_anti`` incremental-recompute primitive."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return customer.join(
        finished, customer.c_custkey == finished.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
"""


@query("big_spender_customers_semi", _SEMI_ORACLE, tags=("J8", "P4"))
def big_spender_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: duplicate-check on ingest (``org/create_c_org_info.py:295-315``)
    — EXISTS expressed as ``left_semi`` (no row multiplication)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Surrogate keys (F1) + packed-list handling (F11-F13, A6, J10)
# ---------------------------------------------------------------------------

_MD5_ORACLE = """
SELECT c_custkey,
       md5(c_name) AS name_uuid,
       md5(concat(c_name, '_', CAST(c_nationkey AS VARCHAR))) AS scoped_uuid
FROM customer
"""


@query("md5_surrogate_keys", _MD5_ORACLE, tags=("F1",))
def md5_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived md5 surrogate keys, simple and composite
    (``org/create_c_org_info.py:7-19,180-182``)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        md5_key("c_name").alias("name_uuid"),
        md5_key("c_name", F.col("c_nationkey").cast("string")).alias("scoped_uuid"),
    )


_PACKED_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey AS custkey,
       string_agg(o_orderstatus, ',' ORDER BY o_orderdate, o_orderkey) AS status_list
FROM firsts WHERE rn = 1 GROUP BY o_custkey
"""


@query("packed_status_list", _PACKED_ORACLE, tags=("A6", "F12", "F13"))
def packed_status_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-if-absent comma-list accumulation in first-seen order
    (``leader/update_c_org_leader_info.py:237-263``): the relational form
    is first-occurrence-per-value + ordered string_agg. NOT collect_set
    (unordered) — the reference preserves arrival order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderdate", "o_orderkey")
    firsts = orders.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        firsts.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("o_orderdate", "o_orderkey", "o_orderstatus"))
                    ),
                    lambda s: s.o_orderstatus,
                ),
                ",",
            ).alias("status_list")
        )
    )


_UNPACK_ORACLE = """
WITH packed AS (
  SELECT o_custkey AS custkey,
         string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_list
  FROM orders GROUP BY o_custkey
)
SELECT custkey,
       split_part(order_list, ',', 1) AS first_order,
       CAST(unnest(string_split(order_list, ',')) AS BIGINT) AS member_order
FROM packed
"""


@query("packed_list_explode", _UNPACK_ORACLE, tags=("J10", "F11", "F12"))
def packed_list_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-valued membership: comma-packed column exploded to one row
    per member plus the SUBSTRING_INDEX first-element extraction
    (``src/mysql2neo4j.py:119,671-698``)."""
    orders = load_table(spark, sf_dir, "orders")
    packed = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("o_orderkey"))),
                lambda s: s.o_orderkey.cast("string"),
            ),
            ",",
        ).alias("order_list")
    )
    return packed.select(
        "custkey",
        first_of_packed_list("order_list").alias("first_order"),
        F.explode(F.split("order_list", ",")).alias("member_order_s"),
    ).select(
        "custkey", "first_order", F.col("member_order_s").cast("bigint").alias("member_order")
    )


# ---------------------------------------------------------------------------
# JSON column handling (F18)
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


@query("json_props_extract", _JSON_ORACLE, tags=("F18",))
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON-in-string column parsed relationally
    (``career_history_structured`` round-trip at
    ``leader/bio_processor.py:510`` / ``src/mysql2neo4j.py:839-845``) —
    ``get_json_object`` + typed cast, never string munging."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Set operations (U1-U2)
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT md5(concat(kind, '_', name)) AS party_uuid, name, nationkey, kind
FROM (
  SELECT c_name AS name, c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_name AS name, s_nationkey AS nationkey, 'supplier' AS kind FROM supplier
)
"""


@query("union_all_parties", _UNION_ORACLE, tags=("U1", "F1"))
def union_all_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of per-source extracts into one entity table with
    content-derived uuids (``org/create_c_org_info.py:371-398`` union +
    F1 keys) — the vertices-build precursor."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.lit("customer").alias("kind"),
    )
    s = supplier.select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s).select(
        md5_key("kind", "name").alias("party_uuid"), "name", "nationkey", "kind"
    )


_EXCEPT_ORACLE = """
SELECT n_nationkey, n_name FROM nation
WHERE n_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000)
"""


@query("nations_without_rich_suppliers", _EXCEPT_ORACLE, tags=("U2", "J7"))
def nations_without_rich_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference on a key (new − existing,
    ``org/create_c_org_info.py:314-315``) as ``left_anti``; the filtered
    right side keeps the result non-trivial at every scale factor."""
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    rich = supplier.filter(F.col("s_acctbal") > 5000).select("s_nationkey")
    return nation.join(
        rich, nation.n_nationkey == F.col("s_nationkey"), "left_anti"
    ).select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# Order / limit / pagination (W2, W3)
# ---------------------------------------------------------------------------

_PAGE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50
"""


@query("order_pagination", _PAGE_ORACLE, tags=("W2", "W3"))
def order_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT/OFFSET pagination
    (``leader/update_c_org_leader_info.py:331-339``). Uses the native
    ``offset``/``limit`` so the plan is a TakeOrdered-style global limit
    (each partition keeps only its top rows, then one small merge) —
    never a single-partition global window. Ordering key is unique so
    the page is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(50)
        .limit(100)
    )


# ---------------------------------------------------------------------------
# J1 exact shape: left join on the FIRST element of a packed list
# ---------------------------------------------------------------------------

_FIRST_ORG_ORACLE = """
WITH packed AS (
  SELECT o_custkey AS custkey,
         string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderdate, o_orderkey) AS order_list
  FROM orders GROUP BY o_custkey
)
SELECT p.custkey,
       split_part(p.order_list, ',', 1) AS first_order_key,
       o.o_orderdate AS first_order_date,
       o.o_totalprice AS first_order_price
FROM packed p
LEFT JOIN orders o ON o.o_orderkey = CAST(split_part(p.order_list, ',', 1) AS BIGINT)
"""


@query("first_of_packed_join", _FIRST_ORG_ORACLE, tags=("J1", "F11"))
def first_of_packed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's J1 exactly: LEFT JOIN on
    ``SUBSTRING_INDEX(packed_list, ',', 1)`` — the leader's first org in
    the comma list resolved against the org table
    (``src/mysql2neo4j.py:110-121``), here as each customer's
    chronologically-first order resolved against orders."""
    orders = load_table(spark, sf_dir, "orders")
    packed = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey"))),
                lambda s: s.o_orderkey.cast("string"),
            ),
            ",",
        ).alias("order_list")
    )
    first_key = first_of_packed_list("order_list")
    o = orders.select("o_orderkey", "o_orderdate", "o_totalprice")
    return (
        packed.withColumn("first_order_key", first_key)
        .join(o, F.col("first_order_key").cast("bigint") == o.o_orderkey, "left")
        .select(
            "custkey",
            "first_order_key",
            F.col("o_orderdate").alias("first_order_date"),
            F.col("o_totalprice").alias("first_order_price"),
        )
    )


_VARIANT_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n,
       min(CAST(props ->> '$.k' AS INT)) AS min_k
FROM events
GROUP BY event_type
"""


@query("json_props_variant", _VARIANT_ORACLE, tags=("F18", "variant"))
def json_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via Spark 4's VARIANT type: ``parse_json``
    once, typed ``variant_get`` paths after — the open-schema path for
    heterogeneous props (binary-encoded, no per-row re-parse per
    field, unlike repeated ``get_json_object`` on the raw string).
    Twin of ``json_props_extract``; oracle uses DuckDB's JSON
    extraction operators."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return events.select("event_type", F.try_variant_get(v, "$.k", "int").alias("k")).groupBy(
        "event_type"
    ).agg(
        F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_k"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 / Q14 analogs (fixed-point money arithmetic)
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_fixed
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@query("forecast_revenue_change", _Q6_ORACLE, tags=("tpch-q6", "A1"))
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast-revenue-change): a pure scan-filter-
    aggregate whose entire predicate set pushes to the parquet reader —
    the query Catalyst should reduce to a near-IO-bound scan, which is
    why the classic uses it as the pushdown litmus test. Money stays in
    fixed point (price cents × discount basis points — exact BIGINT
    products) so the single SUM is order-free under the value hash;
    the classic's double sum would depend on partial-aggregation
    order."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(cents * bp).cast("bigint").alias("revenue_fixed"),
        )
    )


_Q14_ORACLE = """
WITH v AS (
  SELECT CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
         * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)) AS val,
         p.p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
    AND l.l_shipdate < TIMESTAMP '1996-04-01'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN val ELSE 0 END) AS BIGINT)
         AS promo_fixed,
       CAST(sum(val) AS BIGINT) AS total_fixed,
       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN val ELSE 0 END) AS DOUBLE)
             / CAST(sum(val) AS DOUBLE), 6) AS promo_pct
FROM v
"""


@query("promo_revenue_share", _Q14_ORACLE, tags=("tpch-q14", "J9", "A1"))
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): one month of lineitems joins
    the part dimension and splits revenue by promo type. The part side
    broadcasts (dimension bounded by SKU count); discounted revenue is
    the exact integer cents·(10000−bp) product so both sums are
    order-free, with the percentage derived from the two exact integers
    in one identical double expression."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    val = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        * (F.lit(10000) - F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint"))
    )
    v = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), li.l_partkey == part.p_partkey)
        .select(val.alias("val"), "p_type")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("val")).otherwise(0))
    total = F.sum("val")
    return v.agg(
        promo.cast("bigint").alias("promo_fixed"),
        total.cast("bigint").alias("total_fixed"),
        F.round(
            F.lit(100.0) * promo.cast("double") / total.cast("double"), 6
        ).alias("promo_pct"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered join (explicit runtime-filter scale path for J1/J6-class
# joins whose build side is too big to broadcast as rows)
# ---------------------------------------------------------------------------

_BLOOM_JOIN_ORACLE = """
SELECT o.o_orderpriority AS o_orderpriority,
       count(*) AS n_items,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 450000
GROUP BY o.o_orderpriority
"""


@query("bloom_prefiltered_order_join", _BLOOM_JOIN_ORACLE, tags=("J1", "J9"))
def bloom_prefiltered_order_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-value orders joined to their lineitems THROUGH a bloom
    pre-filter (`operators/bloom.py`): the selective order-key set is
    folded into a broadcast 128 KB bitmap and lineitem rows are pruned
    map-side before the join's shuffle. Result is exactly the plain
    join's (bloom false positives are removed by the real join; false
    negatives are impossible), which is what the oracle checks — the
    pruning shows up in the plan, not the answer. The 100 TB shape:
    when the filtered dimension has too many keys to broadcast as rows,
    the bitmap still fits on every executor and the fact-side exchange
    shrinks by the join's selectivity (~10% here).

    Reference parity: the reference's dict-lookup joins
    (``src/mysql2neo4j.py:398-489``) are the row-at-a-time analog of
    exactly this prune-before-join shape."""
    from leader_graph_spark.operators.bloom import bloom_prefiltered_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 450000
    )
    joined = bloom_prefiltered_join(
        li.select("l_orderkey", "l_extendedprice"),
        orders.select("o_orderkey", "o_orderpriority"),
        big_key="l_orderkey",
        small_key="o_orderkey",
        m_bits=1 << 16,
        k_hashes=3,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .cast("double")
        .alias("revenue"),
    )
