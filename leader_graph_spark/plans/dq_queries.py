"""Data-quality queries: declarative rule validation and column
profiling over the lake tables.

The reference validates records row-at-a-time inside its extractors
(``html_extractor/*`` try/except per field); a warehouse needs the
set-based complement — run a rule pack over a whole table and get a
violation ledger (Deequ/Great-Expectations shape), plus a per-column
statistical profile to catch drift before queries silently go wrong
(the vacuous-predicate incident in ``SCALE.md`` is exactly the failure
a profile would have flagged). Both queries produce tiny outputs from
full scans, so every aggregate is map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Declarative rule validation (Deequ-style)
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH n AS (SELECT count(*) AS n_checked FROM orders)
SELECT 'total_price_positive' AS rule, n.n_checked,
       (SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS n_violations FROM n
UNION ALL
SELECT 'order_status_domain', n.n_checked,
       (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM n
UNION ALL
SELECT 'order_date_in_range', n.n_checked,
       (SELECT count(*) FROM orders
        WHERE o_orderdate < TIMESTAMP '1990-01-01' OR o_orderdate >= TIMESTAMP '2010-01-01') FROM n
UNION ALL
SELECT 'priority_format', n.n_checked,
       (SELECT count(*) FROM orders
        WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) FROM n
UNION ALL
SELECT 'customer_fk_exists', n.n_checked,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) FROM n
"""


@query("dq_rule_violations", _DQ_ORACLE, tags=("dq", "validation"))
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five declarative quality rules over ``orders`` — range,
    domain-set, regex-format, and referential integrity — reported as a
    (rule, n_checked, n_violations) ledger, the set-based counterpart
    of the reference's per-row try/except validation and the X9/X11
    quarantine queries (those repair single records; this certifies a
    whole table before a pipeline consumes it).

    Scale shape: the four predicate rules share ONE scan — a single
    aggregate of conditional sums, unpivoted to rows via ``stack`` (no
    per-rule passes, no shuffle beyond the 1-row aggregate); the FK
    rule is a left-anti join on the key (co-partitioned at scale; the
    one rule that genuinely needs a second input). Zero violations is a
    meaningful result — the ledger row still appears, so the check is
    auditable (absence-of-row would be indistinguishable from
    not-having-run)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    viol = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = orders.agg(
        F.count("*").alias("n_checked"),
        viol(F.col("o_totalprice") <= 0).alias("v_price"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
        viol(
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp"))
        ).alias("v_date"),
        viol(~F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).alias("v_fmt"),
    )
    pred_rules = agg.select(
        F.expr(
            "stack(4, 'total_price_positive', v_price, 'order_status_domain', v_status, "
            "'order_date_in_range', v_date, 'priority_format', v_fmt) AS (rule, n_violations)"
        ),
        "n_checked",
    ).select("rule", "n_checked", "n_violations")

    fk = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(F.broadcast(orders.agg(F.count("*").alias("n_checked"))))
        .select(F.lit("customer_fk_exists").alias("rule"), "n_checked", "n_violations")
    )
    return pred_rules.unionByName(fk)


# ---------------------------------------------------------------------------
# Column profiling
# ---------------------------------------------------------------------------

# (column, kind) — kind picks the cross-engine min/max formatter.
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "int":
            mn, mx = f"printf('%d', min({col}))", f"printf('%d', max({col}))"
        elif kind == "num":
            mn, mx = f"printf('%.2f', min({col}))", f"printf('%.2f', max({col}))"
        elif kind == "ts":
            mn = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn, mx = f"min({col})", f"max({col})"
        parts.append(
            f"SELECT '{col}' AS col_name, count(*) AS n_rows,\n"
            f"       count(*) - count({col}) AS n_nulls,\n"
            f"       count(DISTINCT {col}) AS n_distinct,\n"
            f"       {mn} AS min_repr, {mx} AS max_repr FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


_PROFILE_ORACLE = _profile_oracle()


@query("orders_column_profile", _PROFILE_ORACLE, tags=("dq", "profiling"))
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders``: null count, exact distinct
    count, and min/max rendered through explicit cross-engine
    formatters (printf / strftime — never CAST-to-string, whose float
    formatting is engine-specific). The schema-drift tripwire a
    pipeline runs at ingest.

    Scale shape: one narrow scan PER COLUMN (columnar formats read just
    that column — at 100 TB six single-column scans beat one six-column
    scan feeding 6 count-distincts, because multiple exact distincts in
    one aggregate force Spark's expand, multiplying the shuffle ×6 —
    the cost that pushed ``supplier_nation_reach`` to bitmap branches).
    Exact
    distinct per column is the profile's honest form; the approx path
    at extreme cardinality is ``approx_distinct_users``'s HLL."""
    orders = load_table(spark, sf_dir, "orders")
    outs = []
    for col, kind in _PROFILE_COLS:
        if kind == "int":
            mn = F.printf(F.lit("%d"), F.min(col))
            mx = F.printf(F.lit("%d"), F.max(col))
        elif kind == "num":
            mn = F.printf(F.lit("%.2f"), F.min(col))
            mx = F.printf(F.lit("%.2f"), F.max(col))
        elif kind == "ts":
            mn = F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss")
        else:
            mn, mx = F.min(col), F.max(col)
        outs.append(
            orders.select(col).agg(
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count(col)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                mn.alias("min_repr"),
                mx.alias("max_repr"),
            ).select(
                F.lit(col).alias("col_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_repr",
                "max_repr",
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


# ---------------------------------------------------------------------------
# Key-skew diagnosis
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH per_key AS (
  SELECT l_partkey, count(*) AS key_rows FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(key_rows) AS n_rows FROM per_key),
bucketed AS (
  -- floor(log2(n)) as pure integer arithmetic (length of the binary
  -- representation): ln(n)/ln(2) in doubles can land an ulp under an
  -- exact power of two and floor into the wrong bucket.
  SELECT CAST(length(bin(key_rows)) - 1 AS INT) AS log2_bucket, key_rows
  FROM per_key
)
SELECT b.log2_bucket,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(b.key_rows) AS BIGINT) AS n_rows,
       CAST(max(b.key_rows) AS BIGINT) AS max_key_rows,
       CAST(floor(1000000.0 * CAST(sum(b.key_rows) AS DOUBLE) / CAST(t.n_rows AS DOUBLE)) AS BIGINT)
         AS row_share_ppm
FROM bucketed b CROSS JOIN tot t
GROUP BY b.log2_bucket, t.n_rows
"""


@query("lineitem_key_skew_report", _SKEW_ORACLE, tags=("dq", "skew", "profiling"))
def lineitem_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for ``lineitem.l_partkey``: the
    distribution of per-key row counts as a log2 histogram (bucket,
    #keys, rows covered, heaviest key, ppm share of all rows) — the
    number you consult BEFORE choosing between a plain shuffle join,
    salting, or the bucketed interval form (SCALE.md's skew section);
    a new top bucket appearing between ingests is a hot-key regression
    alert.

    Scale shape: per-key counts are one map-side-combinable groupBy on
    the join key itself; the histogram then reduces ~|keys| rows to
    ≤64 buckets, and the 1-row total broadcasts in via cross join. The
    ppm share is floor-integer (the ``corpus_mixture_report`` pattern)
    so no output depends on double summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count("*").alias("key_rows"))
    tot = per_key.agg(F.sum("key_rows").alias("n_rows"))
    # floor(log2) via binary-string length — exact integers, no ulp risk
    # at power-of-two boundaries (see the oracle comment).
    bucketed = per_key.select(
        (F.length(F.bin("key_rows")) - 1).cast("int").alias("log2_bucket"),
        "key_rows",
    )
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("log2_bucket", "n_rows")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("key_rows").cast("bigint").alias("rows_in_bucket"),
            F.max("key_rows").cast("bigint").alias("max_key_rows"),
        )
        .select(
            "log2_bucket",
            "n_keys",
            F.col("rows_in_bucket").alias("n_rows"),
            "max_key_rows",
            F.floor(
                F.lit(1000000.0)
                * F.col("rows_in_bucket").cast("double")
                / F.col("n_rows").cast("double")
            )
            .cast("bigint")
            .alias("row_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Piggybacked DQ metrics (observe(): no extra pass)
# ---------------------------------------------------------------------------


# Benford's-law expected first-digit shares in ppm — PRECOMPUTED
# literals (log10(1+1/d)), so neither engine evaluates a log and the
# whole audit is integer arithmetic.
_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice >= 1
),
counts AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
tot AS (SELECT sum(n) AS t FROM counts),
exp AS (
  SELECT * FROM (VALUES {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_PPM.items()))})
  AS e(d, expected_ppm)
)
SELECT e.d AS first_digit,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_rows,
       CAST((1000000 * COALESCE(c.n, 0)) // t AS BIGINT) AS observed_ppm,
       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
       CAST(abs((1000000 * COALESCE(c.n, 0)) // t - e.expected_ppm) AS BIGINT) AS abs_dev_ppm
FROM exp e LEFT JOIN counts c ON c.d = e.d, tot
"""


@query("benford_price_audit", _BENFORD_ORACLE, tags=("dq", "benford", "audit"))
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order prices (round-5) — the
    classic anomaly screen for fabricated or re-binned numeric data:
    naturally-scaled amounts put digit d first with probability
    log10(1+1/d). The expectations are PRECOMPUTED ppm literals, so
    the whole audit — observed shares, deviations — is integer
    arithmetic both engines reproduce exactly (floor-ppm discipline).
    Map-side digit extraction + a 9-row aggregate; the one-row total
    broadcasts."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    exp = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "d int, expected_ppm long"
    )
    return (
        exp.join(counts, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_rows"),
            F.expr("CAST((1000000 * COALESCE(n, 0)) div t AS BIGINT)").alias("observed_ppm"),
            F.col("expected_ppm").cast("bigint").alias("expected_ppm"),
            F.expr(
                "CAST(abs((1000000 * COALESCE(n, 0)) div t - expected_ppm) AS BIGINT)"
            ).alias("abs_dev_ppm"),
        )
    )
