"""Warehouse-shape queries: the TPC-H-style join/agg benchmarks that
anchor the performance story, the keyed-upsert recompute (K2), the tag
histogram (A9), distinct statistics, and the multimodal metadata scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.operators.multimodal import attach_fake_payloads
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import join_dim, load_table

# ---------------------------------------------------------------------------
# TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-k
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT l_orderkey, CAST(revenue AS DOUBLE) AS revenue, o_orderdate, o_orderpriority
FROM (
  SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS revenue,
         o_orderdate, o_orderpriority
  FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate > TIMESTAMP '1997-01-01'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
  ORDER BY revenue DESC, l_orderkey
  LIMIT 10
)
"""


@query("shipping_priority_top10", _Q3_ORACLE, bench=True, tags=("J1", "A1", "W2"))
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join → grouped
    DECIMAL revenue → top-10 with a unique tie-break. The dimension
    filter reaches the parquet scan; the small filtered side
    broadcasts. Top-10 ordering happens on the exact DECIMAL revenue;
    only the final projection casts to DOUBLE (DECIMAL final columns
    render engine-dependently under the driver's hash)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = lineitem.filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(28,6)")
    return (
        o.join(F.broadcast(building), o.o_custkey == building.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("revenue").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: snowflake join through region
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


@query("local_supplier_volume", _Q5_ORACLE, bench=True, tags=("J1", "J2", "A1"))
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join with the region/nation
    dimensions broadcast and the customer-supplier co-nation predicate —
    the join-reordering stress test."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    nr = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(28,6)")
    return (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == nr.n_nationkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# K2 — keyed upsert as pure recompute
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH updates AS (
  SELECT o_custkey AS custkey, max(o_orderdate) AS last_order_dt
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name,
       coalesce(u.last_order_dt, TIMESTAMP '1970-01-01') AS last_open_order,
       (u.custkey IS NOT NULL) AS was_updated
FROM customer c LEFT JOIN updates u ON c.c_custkey = u.custkey
"""


@query("keyed_upsert_recompute", _UPSERT_ORACLE, tags=("K2",))
def keyed_upsert_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``UPDATE … SET x WHERE id`` stages (K2,
    ``utils/db_utils.py:64-89``) as a pure recompute: base LEFT JOIN
    updates + coalesce produces the post-update table — idempotent,
    oracle-checkable, and the natural lake-table MERGE shape."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.max("o_orderdate").alias("last_order_dt"))
    )
    return customer.join(updates, customer.c_custkey == updates.custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("last_order_dt"), F.lit("1970-01-01").cast("timestamp")).alias(
            "last_open_order"
        ),
        F.col("custkey").isNotNull().alias("was_updated"),
    )


# ---------------------------------------------------------------------------
# K2 complement — snapshot CDC diff (full outer old-vs-new)
# ---------------------------------------------------------------------------

_CDC_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       o.o_totalprice AS old_price,
       n.o_totalprice AS new_price
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
"""


@query("snapshot_diff_cdc", _CDC_DIFF_ORACLE, tags=("K2", "cdc", "full-outer"))
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two table snapshots (the
    complement of the K2 keyed-upsert recompute: instead of applying
    updates, DERIVE them): full outer join on the key classifies every
    row as added / removed / changed / unchanged. Both snapshots are
    deterministic residue-filtered views of ``orders`` so every class
    is populated; at scale this is one co-partitioned shuffle join on
    the snapshot key, and the 'changed' predicate extends to any
    column set (hash the row for wide tables)."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.filter(k % 7 != 0).select(
        k.alias("old_key"), F.col("o_totalprice").alias("old_price")
    )
    new = orders.filter(k % 5 != 0).select(
        k.alias("new_key"),
        F.when(k % 3 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    joined = old.join(new, old.old_key == new.new_key, "full_outer")
    return joined.select(
        F.coalesce("old_key", "new_key").alias("orderkey"),
        F.when(F.col("old_key").isNull(), "added")
        .when(F.col("new_key").isNull(), "removed")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        "old_price",
        "new_price",
    )


# ---------------------------------------------------------------------------
# A9 — tag histogram over synthesized markup
# ---------------------------------------------------------------------------

_TAG_HIST_ORACLE = """
WITH markup AS (
  SELECT '<p>' || text || '</p><a href="x">' || source || '</a><h2>' || lang || '</h2>' AS html
  FROM documents
),
tags AS (
  SELECT unnest(regexp_extract_all(html, '<([a-z0-9]+)[^>]*>', 1)) AS tag FROM markup
)
SELECT tag, count(*) AS n FROM tags GROUP BY tag
"""


@query("tag_histogram", _TAG_HIST_ORACLE, tags=("A9", "F3"))
def tag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML tag histogram (``save_html_from_remark.py:202-209``):
    regexp_extract_all → explode → count, over deterministic synthesized
    markup."""
    docs = load_table(spark, sf_dir, "documents")
    markup = docs.select(
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit("</p><a href=\"x\">"), F.col("source"),
            F.lit("</a><h2>"), F.col("lang"), F.lit("</h2>"),
        ).alias("html")
    )
    return (
        markup.select(
            F.explode(F.regexp_extract_all("html", F.lit("<([a-z0-9]+)[^>]*>"), 1)).alias("tag")
        )
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Distinct statistics (exact + approximate)
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


@query("distinct_user_stats", _DISTINCT_ORACLE, tags=("A1", "A7"))
def distinct_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand-shuffle-dedup under the hood)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS n_events,
       TRUE AS hll_within_5pct
FROM events GROUP BY event_type
"""


@query("approx_distinct_users", _APPROX_DISTINCT_ORACLE, tags=("approx-agg",))
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path where exact
    distinct's expand-shuffle is unaffordable. The raw sketch estimate
    is engine-specific, so the driver-visible row carries the EXACT
    count (cross-engine) plus a bound assertion the value hash pins:
    ``hll_within_5pct`` is computed in Spark as
    |approx − exact| ≤ 0.05·exact (rsd=0.01 ⇒ ~1% expected error —
    5× headroom) and the oracle emits literal TRUE, so any estimator
    drift turns the driver row red instead of invisible (round-6: was
    rows-only)."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("hll_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Multimodal metadata scan
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS payload_bytes,
       ['png', 'jpeg', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
       CAST((doc_id % 8 + 1) * 64 AS INT) AS width,
       CAST((doc_id % 5 + 1) * 64 AS INT) AS height
FROM documents
"""


@query("multimodal_metadata", _MULTIMODAL_ORACLE, tags=("multimodal",))
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal table scan that never touches pixel bytes beyond
    length: binary payload column + typed metadata struct, projected to
    narrow columns (blob column pruned unless referenced). Decode /
    feature extraction is the mapInPandas path in
    operators/multimodal.py (rows-only + unit tests)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = attach_fake_payloads(docs, text_col="text", id_col="doc_id")
    return mm.select(
        "doc_id",
        F.octet_length("payload").alias("payload_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


# The fake decode derives every feature from md5(payload) and the
# payload is the utf-8 text bytes, so DuckDB's md5(text) (which hashes
# the utf-8 encoding) reproduces the full feature set exactly:
# mean_pixel = first digest byte / 255, phash = first 16 hex chars,
# n_bytes = byte length.
_MM_FEATURES_ORACLE = """
SELECT doc_id,
       ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) / 255.0 AS mean_pixel,
       substr(md5(text), 1, 16) AS phash,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
FROM documents
"""


@query("multimodal_features", _MM_FEATURES_ORACLE, tags=("multimodal", "mapInPandas"))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the binary payloads via mapInPandas
    (deterministic fake decode in this container — the real codec slots
    into the same plumbing). The fake features are md5-derived, so the
    whole decode path sits under the value hash: batch shape, byte
    fidelity of the binary column through Arrow, and the feature
    arithmetic all verify against the SQL twin."""
    from leader_graph_spark.operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents")
    mm = attach_fake_payloads(docs, text_col="text", id_col="doc_id")
    return extract_image_features(mm, id_col="doc_id")


# Video-frame sampling (round 10): clips synthesized as sequences of
# 32-byte frames — each frame the md5 hex of (doc_id, frame index) so
# the SQL twin rebuilds every selected frame's fingerprint exactly.
# Clip length doc_id%7+1 frames vs n_frames=4 exercises both the
# short-clip (every frame) and the uniform-stride subsample paths.
_VIDEO_FRAMES_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % 7 + 1 AS INT) AS total,
         CAST(LEAST(4, doc_id % 7 + 1) AS INT) AS k
  FROM documents
),
sel AS (
  -- k is at most n_frames=4, so a static 0..3 series filtered by k
  -- (this DuckDB build rejects column-parameterized generate_series)
  SELECT DISTINCT b.doc_id, CAST(gs.i * b.total // b.k AS INT) AS frame_idx
  FROM base b, generate_series(0, 3) AS gs(i)
  WHERE gs.i < b.k
)
SELECT doc_id,
       frame_idx,
       CAST(frame_idx * 1000 // 25 AS BIGINT) AS ts_ms,
       substr(md5(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(frame_idx AS VARCHAR))), 1, 16)
         AS frame_phash
FROM sel
"""


def _synth_video_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    frames = F.transform(
        F.sequence(F.lit(0), (d % 7).cast("int")),
        lambda i: F.md5(F.concat(d.cast("string"), F.lit("-"), i.cast("string"))),
    )
    return docs.select(
        "doc_id", F.encode(F.concat_ws("", frames), "utf-8").alias("payload")
    )


@query("video_frame_sampling", _VIDEO_FRAMES_ORACLE, tags=("multimodal", "video", "mapInPandas"))
def video_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-stride frame sampling over video blobs
    (``operators/multimodal.py:sample_video_frames``): one clip row
    fans out to ≤4 frame rows (index, frame-rate timestamp, per-frame
    fingerprint) via flatMap-shaped mapInPandas; the blob is dropped at
    the sampler so only narrow frame rows continue downstream. The
    stride arithmetic ((i·total)//k with first-frame inclusion), the
    short-clip path, byte-exact frame slicing through Arrow and the
    md5 fingerprints all sit under the value hash against the SQL
    twin."""
    from leader_graph_spark.operators.multimodal import sample_video_frames

    clips = _synth_video_payloads(spark, sf_dir)
    return sample_video_frames(clips, id_col="doc_id")


# Audio windowed-PCM stats (round 10): clips synthesized as 256
# offset-binary 16-bit big-endian samples from a doc_id-keyed integer
# formula, built JVM-side as a hex string and unhex'd to binary. The
# oracle never touches bytes — it recomputes the samples from the same
# formula — so the byte-level encode (lpad/hex/unhex), the numpy
# big-endian decode, and the window arithmetic all sit under the hash.
_AUDIO_WINDOWS_ORACLE = """
WITH s AS (
  SELECT d.doc_id, gs.i AS j,
         ((d.doc_id * 31 + gs.i * 17) % 65536) - 32768 AS v
  FROM documents d, generate_series(0, 255) AS gs(i)
),
w AS (
  SELECT doc_id, j // 64 AS window_idx, j, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv
  FROM s
)
SELECT doc_id,
       CAST(window_idx AS INT) AS window_idx,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS INT) AS peak,
       CAST(count(*) FILTER (WHERE j % 64 > 0 AND v * pv < 0) AS INT) AS zero_crossings
FROM w
GROUP BY doc_id, window_idx
"""


def _synth_audio_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hexstr = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda j: F.lpad(F.hex((d * 31 + j * 17) % 65536), 4, "0"),
        ),
    )
    return docs.select("doc_id", F.unhex(hexstr).alias("payload"))


@query("audio_window_energy", _AUDIO_WINDOWS_ORACLE, tags=("multimodal", "audio", "mapInPandas"))
def audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PCM energy/activity stats over audio blobs
    (``operators/multimodal.py:audio_window_stats``): each clip fans
    out to one row per 64-sample window carrying exact-integer energy
    (sum of squares), absolute peak, and the within-window
    zero-crossing count — the features speech pipelines gate on
    (silence trim, clipping detection). flatMap-shaped mapInPandas;
    audio bytes are dropped at the operator and never reshuffle."""
    from leader_graph_spark.operators.multimodal import audio_window_stats

    clips = _synth_audio_payloads(spark, sf_dir)
    return audio_window_stats(clips, id_col="doc_id")


# ---------------------------------------------------------------------------
# SQL-API surface: same Catalyst plans from SQL text
# ---------------------------------------------------------------------------

_REVENUE_REGION_SQL = """
SELECT r.r_name AS region_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS DOUBLE) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("revenue_by_region_sql", _REVENUE_REGION_SQL, tags=("sql-api", "J1", "A1"))
def revenue_by_region_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API path: temp views + ``spark.sql`` — Catalyst produces
    the same plan as the DataFrame API (here the query text doubles as
    its own oracle, which is the strongest possible parity check)."""
    from leader_graph_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REVENUE_REGION_SQL)


_LATE_SHIP_EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
)
GROUP BY o_orderpriority
"""


@query("late_shipping_orders_exists", _LATE_SHIP_EXISTS_SQL, tags=("sql-api", "subquery-exists"))
def late_shipping_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape correlated EXISTS: orders with any line shipped
    more than 90 days after order date, counted per priority. Catalyst
    decorrelates the EXISTS into a left-semi join (verified in the
    plan) — no per-row subquery execution. Query text doubles as its
    own oracle."""
    from leader_graph_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATE_SHIP_EXISTS_SQL)


_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 *
      (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
    > 3 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders i
           WHERE i.o_custkey = o.o_custkey)
"""


@query("orders_above_customer_avg", _ABOVE_AVG_SQL, tags=("sql-api", "subquery-scalar"))
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape correlated scalar subqueries: orders priced above
    1.5× their customer's average, stated as ``2·price·n > 3·sum`` so
    every comparison stays in exact DECIMAL/BIGINT arithmetic (a float
    avg would be summation-order-dependent and engine-divergent).
    Catalyst decorrelates both scalar subqueries into one aggregate
    joined back on o_custkey."""
    from leader_graph_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ABOVE_AVG_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral nation-pair trade volume by year
# ---------------------------------------------------------------------------

_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(sum(volume) AS DECIMAL(28,6)) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
"""


@query("nation_pair_trade_volume", _Q7_ORACLE, tags=("J1", "A1", "tpch-q7"))
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral volume between two nations by ship
    year. The disjunctive nation-pair predicate lives on the two nation
    lookups (25 rows, inlined by :func:`join_dim`), so the fact scan
    carries only the shipdate range filter to parquet and the OR never
    blocks pushdown."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    volume = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    joined = (
        li.join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
    )
    for fact_key, name in (("s_nationkey", "supp_nation"), ("c_nationkey", "cust_nation")):
        joined = join_dim(joined, fact_key, sf_dir, "nation", "n_nationkey", {"n_name": name})
    return (
        joined.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(volume).cast("decimal(28,6)").cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer, top 20
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name, CAST(revenue AS DOUBLE) AS revenue
FROM (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS revenue
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY revenue DESC, c_custkey
  LIMIT 20
)
"""


@query("returned_item_losses", _Q10_ORACLE, tags=("J1", "A1", "W2", "tpch-q10"))
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over one
    year, top 20. Both selective filters (returnflag, orderdate range)
    push to their parquet scans; nation is a :func:`join_dim` lookup;
    the top-20 is a TakeOrdered over the aggregated (customer-sized)
    side, never a global sort of the fact table."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(28,6)")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        customer.select("c_custkey", "c_name", "c_nationkey"), o.o_custkey == F.col("c_custkey")
    )
    return (
        join_dim(joined, "c_nationkey", sf_dir, "nation", "n_nationkey", ["n_name"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", F.col("revenue").cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# SCD2 historization of the per-user event-type state
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
runs AS (
  SELECT user_id, ts, event_type,
         sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM event_type THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY rn) AS version
  FROM o
),
g AS (
  SELECT user_id AS key, version, min(event_type) AS attr, min(ts) AS valid_from,
         CAST(count(*) AS INT) AS n_events
  FROM runs GROUP BY user_id, version
)
SELECT key, CAST(version AS INT) AS version, attr, valid_from,
       lead(valid_from) OVER (PARTITION BY key ORDER BY version) AS valid_to,
       n_events,
       (lead(valid_from) OVER (PARTITION BY key ORDER BY version) IS NULL) AS is_current
FROM g
"""


@query("user_state_scd2", _SCD2_ORACLE, bench=True, tags=("K2", "scd2", "historization"))
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 historization of each user's event-type state: consecutive
    equal values collapse into version rows with validity intervals —
    the historized form of the reference's REPLACE-INTO latest-state
    upserts (K2). One shuffle on the key; all windows share the same
    partitioning."""
    from leader_graph_spark.operators.scd import scd2_collapse

    events = load_table(spark, sf_dir, "events")
    return scd2_collapse(
        events, key_col="user_id", attr_col="event_type", ts_col="ts",
        tie_col="event_id",
    )


def _zorder_sql() -> str:
    from leader_graph_spark.operators.layout import normalize_dim_sql, zorder_key_sql

    mo = "year(o.o_orderdate) * 12 + month(o.o_orderdate)"
    return f"""
WITH bounds AS (
  SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS mo_lo,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS mo_hi
  FROM orders
),
norm AS (
  SELECT o.o_orderkey,
         {normalize_dim_sql("o.o_custkey", "b.ck_lo", "b.ck_hi")} AS ck_norm,
         {normalize_dim_sql(mo, "b.mo_lo", "b.mo_hi")} AS mo_norm
  FROM orders o CROSS JOIN bounds b
)
SELECT o_orderkey, ck_norm, mo_norm, zval,
       CAST(zval >> 24 AS BIGINT) AS zbucket
FROM (
  SELECT o_orderkey, ck_norm, mo_norm,
         {zorder_key_sql(["ck_norm", "mo_norm"])} AS zval
  FROM norm
)
"""


_ZORDER_SQL = _zorder_sql()


@query("zorder_layout_keys", _ZORDER_SQL, tags=("layout", "zorder", "sql-api"))
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys for orders over (custkey,
    order-month) — the multi-dimensional file-skipping layout behind
    Delta OPTIMIZE ZORDER / Iceberg clustering, as exact portable
    integer bit arithmetic (``operators/layout.py``). ``zbucket`` (top
    8 bits, 256 buckets) is the write-path range-partition target:
    files cover small rectangles of the (customer, month) space, so
    min/max stats prune on EITHER dimension. The SQL text doubles as
    its own oracle. No reference counterpart (MySQL, no layout
    management — SURVEY.md §4)."""
    from leader_graph_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ZORDER_SQL)


def _hilbert_sql() -> str:
    from leader_graph_spark.operators.layout import hilbert_ctes_sql, normalize_dim_sql

    mo = "year(o.o_orderdate) * 12 + month(o.o_orderdate)"
    body, last = hilbert_ctes_sql("norm", 16, carry=["o_orderkey"])
    return f"""
WITH bounds AS (
  SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS mo_lo,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS mo_hi
  FROM orders
),
norm AS (
  SELECT o.o_orderkey,
         {normalize_dim_sql("o.o_custkey", "b.ck_lo", "b.ck_hi")} AS x,
         {normalize_dim_sql(mo, "b.mo_lo", "b.mo_hi")} AS y
  FROM orders o CROSS JOIN bounds b
),
{body}
SELECT o_orderkey, x AS ck_res, y AS mo_res, d AS hval,
       CAST(d >> 24 AS BIGINT) AS hbucket
FROM {last}
"""


_HILBERT_SQL = _hilbert_sql()


@query("hilbert_layout_keys", _HILBERT_SQL, tags=("layout", "hilbert", "sql-api"))
def hilbert_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys over the same (custkey,
    order-month) space as ``zorder_layout_keys`` — the locality upgrade
    over Morton order (no quadrant-boundary jumps: consecutive indices
    are always grid-adjacent, so range-partitioned files cover tighter
    rectangles). The 16-bit reflect/swap loop is unrolled into 16
    chained CTEs of portable integer CASE arithmetic
    (``operators/layout.py``; XOR avoided — DuckDB's ``^`` is POWER);
    the SQL text doubles as its own oracle, and the unroll is pinned to
    the python reference model over a full grid in tests. Note the
    residual x/y columns after the loop are the ROTATED coordinates,
    exported as ck_res/mo_res (deterministic, hash-checked) rather than
    the input dims."""
    from leader_graph_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_HILBERT_SQL)


# ---------------------------------------------------------------------------
# SCD2 time travel: state as of a point in time
# ---------------------------------------------------------------------------

_ASOF_T = "2024-01-16 00:00:00"

_SCD2_ASOF_ORACLE = f"""
SELECT key, version, attr, valid_from, valid_to, n_events, is_current
FROM ({_SCD2_ORACLE})
WHERE valid_from <= TIMESTAMP '{_ASOF_T}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_ASOF_T}')
"""


@query(
    "user_state_asof_midmonth",
    _SCD2_ASOF_ORACLE,
    tags=("K2", "scd2", "time-travel"),
)
def user_state_asof_midmonth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction over the SCD2 history: each user's
    single valid version row as of Jan 16 (mid-range of the driver's
    event window) — the time-travel read that justifies historizing at
    all ("what did the warehouse believe on date T"), and the batch
    counterpart of the reference's latest-state lookups
    (``src/leader_relation_data2mysql.py`` REPLACE-INTO keeps ONLY the
    latest state; SCD2 + this filter answers the same query for every T).

    Scale shape: inherits ``scd2_collapse``'s single hash exchange; the
    as-of predicate is a per-row filter on the version intervals — at
    most one version per key survives, with no extra shuffle (no
    row_number re-rank needed: SCD2 intervals partition time, so the
    interval containing T is unique by construction)."""
    from leader_graph_spark.operators.scd import scd2_collapse

    events = load_table(spark, sf_dir, "events")
    t = F.to_timestamp(F.lit(_ASOF_T))
    scd2 = scd2_collapse(
        events, key_col="user_id", attr_col="event_type", ts_col="ts",
        tie_col="event_id",
    )
    return scd2.where(
        (F.col("valid_from").cast("timestamp") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to").cast("timestamp") > t))
    )


# ---------------------------------------------------------------------------
# Incremental join maintenance (IVM)
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@query("incremental_join_maintenance", _IVM_ORACLE, tags=("ivm", "warehouse"))
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders⋈customer view maintained INCREMENTALLY: both tables
    are split into a 90% base and a 10% insert-delta (md5 buckets, so
    the split is deterministic), the stored result is built from the
    bases only, and the delta rows arrive through the differential rule
    ΔL⋈(R∪ΔR) ∪ L⋈ΔR (``operators/ivm.py``) — maintenance work scales
    with the delta, never the history. The oracle is the full
    recompute, so the differential algebra (completeness AND no double
    counting across the two branches) sits under the value hash; the
    reference instead drops and refills its derived tables every run
    (``src/leader_relation_data2mysql.py``).

    Aggregated per nation in cents so the output is compact and
    summation-order-free."""
    from leader_graph_spark.operators.ivm import incremental_join_update
    from leader_graph_spark.operators.sampling import _hash_bucket

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    o_delta_pred = _hash_bucket("o_custkey", "ivm") < 100_000
    c_delta_pred = _hash_bucket("c_custkey", "ivm") < 100_000
    base_l, delta_l = orders.where(~o_delta_pred), orders.where(o_delta_pred)
    base_r = customer.where(~c_delta_pred).withColumnRenamed("c_custkey", "o_custkey")
    delta_r = customer.where(c_delta_pred).withColumnRenamed("c_custkey", "o_custkey")

    stored = base_l.join(base_r, "o_custkey")
    maintained = incremental_join_update(
        stored, base_l, delta_l, base_r, delta_r, on="o_custkey"
    )
    return maintained.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# SCD2 consumer: time in state
# ---------------------------------------------------------------------------

_STATE_DURATION_ORACLE = f"""
SELECT attr AS event_type,
       CAST(count(*) AS BIGINT) AS n_closed_versions,
       CAST(sum(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT) AS total_micros
FROM ({_SCD2_ORACLE})
WHERE valid_to IS NOT NULL
GROUP BY attr
"""


@query("user_state_durations", _STATE_DURATION_ORACLE, tags=("K2", "scd2", "durations"))
def user_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state from the SCD2 history: total dwell time per state
    value across all closed versions — the duration analysis ("how long
    do users stay in each state?") that latest-state stores (the
    reference's REPLACE INTO) structurally cannot answer and SCD2
    exists to enable. Open versions (valid_to NULL) are excluded: their
    duration depends on "now", which has no place in a deterministic
    result.

    Scale shape: inherits the single SCD2 exchange; durations are
    integer MICROSECONDS (``unix_micros``/``epoch_us`` — DuckDB's
    ``epoch()`` returns fractional-second doubles whose sum is
    order-dependent) so the per-state SUM is exact."""
    from leader_graph_spark.operators.scd import scd2_collapse

    events = load_table(spark, sf_dir, "events")
    scd2 = scd2_collapse(
        events, key_col="user_id", attr_col="event_type", ts_col="ts",
        tie_col="event_id",
    )
    return (
        scd2.where(F.col("valid_to").isNotNull())
        .groupBy(F.col("attr").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_closed_versions"),
            F.sum(
                F.unix_micros(F.col("valid_to").cast("timestamp"))
                - F.unix_micros(F.col("valid_from").cast("timestamp"))
            )
            .cast("bigint")
            .alias("total_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Retractable aggregate maintenance (inserts + deletes)
# ---------------------------------------------------------------------------

_RETRACT_ORACLE = """
WITH bucketed AS (
  SELECT o_orderpriority, year(o_orderdate) * 12 + month(o_orderdate) AS month_key,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ((instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 268435456
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 16777216
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 1048576
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1) * 65536
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1) * 4096
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 7, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5('ret|' || CAST(o_orderkey AS VARCHAR)), 8, 1)) - 1)) % 1000000
           AS bucket
  FROM orders
),
final AS (
  SELECT * FROM bucketed WHERE bucket >= 150000 OR bucket < 50000
)
SELECT o_orderpriority, CAST(month_key AS INT) AS month_key,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM final GROUP BY o_orderpriority, month_key
"""


@query("retractable_agg_maintenance", _RETRACT_ORACLE, tags=("ivm", "retraction", "warehouse"))
def retractable_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate maintenance under inserts AND deletes: orders split
    deterministically into an initial state (md5 bucket ≥ 100k), a
    delete batch ([100k, 150k) — rows retracted FROM the state), and an
    insert batch (< 50k); the per-(priority, month) metric table is
    maintained through ``operators/skew.py:apply_retractable_delta`` —
    count/sum retract algebraically, min/max recompute only for the
    groups a delete touched (probing the current base for dirty keys,
    never rescanning history). The oracle aggregates the final relation
    directly, so the whole retraction algebra — including dirty-group
    min/max repair and untouched-group passthrough — sits under the
    value hash."""
    from leader_graph_spark.operators.sampling import _hash_bucket
    from leader_graph_spark.operators.skew import apply_retractable_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int").alias("month_key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        _hash_bucket("o_orderkey", "ret").alias("bucket"),
    )
    keys = ["o_orderpriority", "month_key"]
    v0 = orders.where(F.col("bucket") >= 100_000)
    inserts = orders.where(F.col("bucket") < 50_000).withColumn("w", F.lit(1))
    deletes = (
        orders.where((F.col("bucket") >= 100_000) & (F.col("bucket") < 150_000))
        .withColumn("w", F.lit(-1))
    )
    current = orders.where((F.col("bucket") >= 150_000) | (F.col("bucket") < 50_000))

    state0 = v0.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total"),
        F.min("cents").alias("min_v"),
        F.max("cents").alias("max_v"),
    )
    maintained = apply_retractable_delta(
        state0, inserts.unionByName(deletes), current, keys=keys, value_col="cents"
    )
    return maintained.select(
        "o_orderpriority",
        "month_key",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("bigint").alias("total_cents"),
        F.col("min_v").cast("bigint").alias("min_cents"),
        F.col("max_v").cast("bigint").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume customers (group-HAVING join-back)
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big ON o.o_orderkey = big.l_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY CAST(o.o_totalprice AS DECIMAL(18,2)) DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
"""


@query("large_volume_customers", _Q18_ORACLE, tags=("J8", "A1", "W3"))
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose lineitems sum to more than 250
    quantity units, joined back to their customer and re-aggregated —
    the canonical group-HAVING semi-join pattern (reference analogue:
    the dup-check aggregation gates of src/leader_other_info_2_mysql.py,
    which decide per-key whether a group crosses a threshold before
    joining detail rows back).

    Scale shape: the HAVING aggregate runs FIRST on lineitem alone
    (map-side partial sums on l_orderkey, no wide join input), and its
    survivor set — a few % of orders at the 250 threshold — drives the
    detail join, so the expensive customer×orders×lineitem join only
    ever sees qualifying orders. The survivor set joins lineitem on the
    SAME l_orderkey partitioning the aggregate just produced (AQE
    reuses the exchange), and the top-100 is TakeOrderedAndProject with
    a (price, date, orderkey) total order — quantity sums stay DECIMAL
    through the HAVING comparison and the final sort; only the output
    projection casts to DOUBLE."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty")
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("big_qty"))
        .where(F.col("big_qty") > 250)
        .select("l_orderkey")
    )
    detail = lineitem.join(big, "l_orderkey")
    return (
        detail.join(orders, detail.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
        )
        .agg(F.sum("qty").cast("decimal(28,2)").alias("sum_qty_dec"))
        .orderBy(F.desc("price_dec"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("price_dec").cast("double").alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )
