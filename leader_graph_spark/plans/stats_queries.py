"""Statistical profiling queries: group-wise linear regression /
correlation, and robust (IQR) outlier profiling.

The reference has no statistics layer (its analytics stop at counts and
existence checks); these are the dataset-profiling operators a
training-data pipeline runs before and after curation — drift checks
("is price trending with time in this slice?"), feature sanity
(Pearson r), and robust outlier fences for length-based filtering.

Determinism: regression sufficient statistics (Σx, Σy, Σxy, Σx², Σy²)
are exact integers — days since epoch and price *cents* via the
portable floor(x·100+0.5) — summed as BIGINT/DECIMAL(38,0) (HUGEINT on
the DuckDB side), so no result depends on floating-point summation
order; doubles appear only in the final slope/intercept/r division,
written with identical parenthesization in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import join_dim, load_table

# ---------------------------------------------------------------------------
# Per-nation price-over-time regression + correlation
# ---------------------------------------------------------------------------

_REGRESSION_ORACLE = """
WITH pts AS (
  SELECT n.n_name,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS x,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS yc
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
s AS (
  SELECT n_name, count(*) AS n,
         sum(x) AS sx, sum(yc) AS sy,
         sum(x * x) AS sxx,
         sum(CAST(x AS HUGEINT) * yc) AS sxy,
         sum(CAST(yc AS HUGEINT) * yc) AS syy
  FROM pts GROUP BY n_name
),
d AS (
  SELECT n_name, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         n * syy - sy * sy AS vary
  FROM s
)
SELECT n_name, CAST(n AS BIGINT) AS n_orders,
       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope_cents_per_day,
       round((CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE)) / n, 6)
         AS intercept_cents,
       round(CAST(num AS DOUBLE) / sqrt(CAST(den AS DOUBLE) * CAST(vary AS DOUBLE)), 6)
         AS pearson_r
FROM d
"""


@query(
    "nation_price_trend_regression",
    _REGRESSION_ORACLE,
    tags=("stats", "regression", "correlation"),
)
def nation_price_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation least-squares fit of order price (cents) against
    order date (days since epoch): slope, intercept, and Pearson r —
    closed-form regression from five sufficient statistics, the
    map-side-combinable way to regress at 100 TB (one narrow shuffle of
    25 stat rows; never a per-group data collect, never an iterative
    solver). Spark's built-in regr_slope/corr aggregate in floating
    point, where summation order is nondeterministic under partial
    aggregation — exact integer statistics sidestep that, which is also
    what makes the result hashable against the oracle.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pts = (
        join_dim(
            orders.join(customer, orders.o_custkey == customer.c_custkey),
            "c_nationkey", sf_dir, "nation", "n_nationkey", ["n_name"],
        )
        .select(
            "n_name",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("yc"),
        )
    )
    s = pts.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("yc")).alias("sxy"),
        F.sum(F.col("yc").cast("decimal(20,0)") * F.col("yc")).alias("syy"),
    )
    dec = "decimal(38,0)"
    d = s.select(
        "n_name",
        "n",
        "sx",
        "sy",
        (F.col("n").cast(dec) * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (F.col("n").cast(dec) * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")).alias("vary"),
    )
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    return d.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n"), 6
        ).alias("intercept_cents"),
        F.round(
            F.col("num").cast("double")
            / F.sqrt(F.col("den").cast("double") * F.col("vary").cast("double")),
            6,
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Robust (IQR) outlier profiling of document lengths
# ---------------------------------------------------------------------------

_IQR_ORACLE = """
WITH bounds AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents GROUP BY lang
),
fences AS (
  SELECT lang, n_docs, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi
  FROM bounds
)
SELECT f.lang, f.n_docs,
       round(f.q1, 4) AS q1, round(f.q3, 4) AS q3,
       round(f.lo, 4) AS lo_fence, round(f.hi, 4) AS hi_fence,
       CAST(sum(CASE WHEN d.n_chars < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(sum(CASE WHEN d.n_chars > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM documents d JOIN fences f ON d.lang = f.lang
GROUP BY f.lang, f.n_docs, f.q1, f.q3, f.lo, f.hi
"""


@query("doc_length_iqr_profile", _IQR_ORACLE, tags=("stats", "outliers", "curation"))
def doc_length_iqr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Tukey fences over document length: exact
    interpolated quartiles, 1.5·IQR fences, and how many documents fall
    outside each — the robust-outlier profile a curation pipeline
    consults before setting length filters (robust because one
    pathological 100 MB doc moves a mean-based filter but not a
    quartile-based one).

    Scale shape: the quartiles reduce to a per-lang aggregate (sort
    within lang partitions — the exact-percentile cost already accepted
    by ``order_price_percentiles``); the 5-row fence table broadcasts
    back onto the corpus, so classification is map-side and the only
    corpus-sized shuffle is the per-lang count pair. Classification
    compares against UNROUNDED fence doubles (identical in both
    engines); rounding is display-only.
    """
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    fences = bounds.select(
        "lang",
        "n_docs",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    flagged = docs.select("lang", "n_chars").join(F.broadcast(fences), "lang")
    return (
        flagged.groupBy("lang", "n_docs", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("n_chars") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("n_chars") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high_outliers"),
        )
        .select(
            "lang",
            "n_docs",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            F.round("lo", 4).alias("lo_fence"),
            F.round("hi", 4).alias("hi_fence"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable histogram-sketch quantiles
# ---------------------------------------------------------------------------

_NBINS = 1000

_HIST_SKETCH_ORACLE = f"""
WITH b AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT o_orderpriority,
         LEAST(CAST(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / {_NBINS})) AS INT),
               {_NBINS - 1}) AS bin
  FROM orders CROSS JOIN b
),
counts AS (
  SELECT o_orderpriority, bin, count(*) AS c FROM binned GROUP BY o_orderpriority, bin
),
cum AS (
  SELECT o_orderpriority, bin, c,
         sum(c) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum_c,
         sum(c) OVER (PARTITION BY o_orderpriority) AS n
  FROM counts
),
hits AS (
  SELECT o_orderpriority,
         min(CASE WHEN cum_c * 2 >= n THEN bin END) AS bin50,
         min(CASE WHEN cum_c * 10 >= n * 9 THEN bin END) AS bin90
  FROM cum GROUP BY o_orderpriority
)
SELECT h.o_orderpriority,
       round(b.lo + (h.bin50 + 0.5) * ((b.hi - b.lo) / {_NBINS}), 4) AS approx_median,
       round(b.lo + (h.bin90 + 0.5) * ((b.hi - b.lo) / {_NBINS}), 4) AS approx_p90
FROM hits h CROSS JOIN b
"""


@query(
    "histogram_sketch_percentiles",
    _HIST_SKETCH_ORACLE,
    tags=("percentile-sketch", "mergeable-state"),
)
def histogram_sketch_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a MERGEABLE fixed-bin histogram sketch — the
    deterministic middle ground between ``order_price_percentiles``
    (exact, needs a per-group sort) and ``approx_order_price_percentiles``
    (t-digest, engine-specific state ⇒ rows-only check): bin counts are
    plain integers that merge by addition across partitions/batches/
    days (the same ⊕ contract as an algebraic count/sum merge), the error
    is bounded by the bin width (range/1000 here, pinned against the
    exact percentile in tests), and — unlike the t-digest — every step
    is exactly reproducible, so this sketch gets a FULL value oracle.

    Scale shape: one pass for global bounds (2-value aggregate,
    broadcast back), one map-side-combinable (group, bin) count — the
    shuffle carries ≤ groups·bins rows of integers — then bin-local
    window arithmetic on that tiny table. The bin→value report uses
    bin midpoints; all double arithmetic is identical expressions in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(_NBINS)
    binned = orders.crossJoin(F.broadcast(b)).select(
        "o_orderpriority",
        "lo",
        "hi",
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
            F.lit(_NBINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("o_orderpriority", "lo", "hi", "bin").agg(
        F.count("*").alias("c")
    )
    from pyspark.sql import Window

    wcum = Window.partitionBy("o_orderpriority").orderBy("bin")
    wall = Window.partitionBy("o_orderpriority")
    cum = counts.select(
        "o_orderpriority",
        "lo",
        "hi",
        "bin",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(wall).alias("n"),
    )
    hits = cum.groupBy("o_orderpriority", "lo", "hi").agg(
        F.min(F.when(F.col("cum_c") * 2 >= F.col("n"), F.col("bin"))).alias("bin50"),
        F.min(F.when(F.col("cum_c") * 10 >= F.col("n") * 9, F.col("bin"))).alias("bin90"),
    )
    return hits.select(
        "o_orderpriority",
        F.round(
            F.col("lo") + (F.col("bin50") + F.lit(0.5)) * width, 4
        ).alias("approx_median"),
        F.round(
            F.col("lo") + (F.col("bin90") + F.lit(0.5)) * width, 4
        ).alias("approx_p90"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence (categorical drift detection)
# ---------------------------------------------------------------------------

_CHISQ_ORACLE = """
WITH cells AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
),
rows_t AS (SELECT lang, sum(o) AS row_n FROM cells GROUP BY lang),
cols_t AS (SELECT source, sum(o) AS col_n FROM cells GROUP BY source),
tot AS (SELECT sum(o) AS n FROM cells),
contrib AS (
  SELECT c.lang, c.source,
         CAST(floor(
           ((CAST(c.o AS DOUBLE) - (CAST(r.row_n AS DOUBLE) * CAST(cl.col_n AS DOUBLE) / CAST(t.n AS DOUBLE)))
            * (CAST(c.o AS DOUBLE) - (CAST(r.row_n AS DOUBLE) * CAST(cl.col_n AS DOUBLE) / CAST(t.n AS DOUBLE)))
            / (CAST(r.row_n AS DOUBLE) * CAST(cl.col_n AS DOUBLE) / CAST(t.n AS DOUBLE)))
           * 1000000.0 + 0.5) AS BIGINT) AS chi_micro
  FROM cells c
  JOIN rows_t r ON c.lang = r.lang
  JOIN cols_t cl ON c.source = cl.source
  CROSS JOIN tot t
)
SELECT CAST(count(*) AS BIGINT) AS n_nonzero_cells,
       CAST(sum(chi_micro) AS BIGINT) AS chi_square_micro
FROM contrib
"""


@query("lang_source_chisquare", _CHISQ_ORACLE, tags=("stats", "drift", "chisquare"))
def lang_source_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of (lang, source)
    — the categorical drift detector: run it on yesterday's and
    today's corpus and a jump means the language mix shifted within
    sources (an ingest change, a scraper losing a locale). Observed
    counts are exact integers; each cell's (O−E)²/E contribution is
    collapsed to micro-units via the portable floor(x·1e6+0.5) BEFORE
    summation, so the statistic is order-free under the value hash
    (summing raw doubles would depend on partial-aggregation order).
    Zero-count cells contribute their expectation — omitted here (both
    engines omit identically: the cell table only materializes observed
    pairs), which understates χ² equally on both sides and is the
    standard sparse-table convention.

    Scale shape: the corpus reduces map-side to |langs|·|sources|
    cells; everything after is arithmetic on that tiny table (marginals
    join back onto cells; the 1-row total broadcasts)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_t = cells.groupBy("lang").agg(F.sum("o").alias("row_n"))
    cols_t = cells.groupBy("source").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("row_n").cast("double") * F.col("col_n").cast("double") / F.col("n").cast("double")
    chi = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    contrib = (
        cells.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(tot))
        .select(F.floor(chi * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias("chi_micro"))
    )
    return contrib.agg(
        F.count("*").cast("bigint").alias("n_nonzero_cells"),
        F.sum("chi_micro").cast("bigint").alias("chi_square_micro"),
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) sketches: approximate set intersection, deterministically
# ---------------------------------------------------------------------------

_KMV_K = 64


def _kmv_hash_sql(expr: str) -> str:
    md5 = f"md5(CAST({expr} AS VARCHAR))"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({md5}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


_KMV_ORACLE = f"""
WITH a_sk AS (
  SELECT DISTINCT {_kmv_hash_sql('o_custkey')} AS h FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = 1994
  ORDER BY h LIMIT {_KMV_K}
),
b_sk AS (
  SELECT DISTINCT {_kmv_hash_sql('o_custkey')} AS h FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = 1995
  ORDER BY h LIMIT {_KMV_K}
),
u AS (
  SELECT h FROM (SELECT h FROM a_sk UNION SELECT h FROM b_sk)
  ORDER BY h LIMIT {_KMV_K}
),
stats AS (
  SELECT count(*) AS n, max(h) AS kth,
         (SELECT count(*) FROM u
          WHERE h IN (SELECT h FROM a_sk) AND h IN (SELECT h FROM b_sk)) AS n_both
  FROM u
),
ests AS (
  SELECT
    CASE WHEN n >= {_KMV_K}
         THEN round(({_KMV_K} - 1) / (kth / 4294967296.0), 6)
         ELSE CAST(n AS DOUBLE) END AS union_est,
    round(n_both / CAST(n AS DOUBLE), 6) AS jaccard_est
  FROM stats
)
SELECT union_est, jaccard_est,
       round(union_est * jaccard_est, 6) AS intersection_est
FROM ests
"""


@query("kmv_customer_overlap", _KMV_ORACLE, tags=("sketch", "kmv", "set-intersection"))
def kmv_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate repeat-customer overlap (1994 ∩ 1995 buyers) from
    two K-Minimum-Values sketches (``operators/kmv.py``; Beyer et al.
    2007) — the summary family's set-INTERSECTION member: HLL can only
    union, exact bitmaps pay linear memory, KMV answers
    union/Jaccard/intersection from k values per side. The md5 "random"
    hash makes the whole estimator deterministic, so the oracle
    reproduces the sketch AND every estimate bit-for-bit — the
    approximation error itself is under the value hash. Sketch build =
    per-partition bottom-k then bottom-k of the merge (algebraic, no
    rescan); estimates are arithmetic over ≤ 2k values."""
    from leader_graph_spark.operators.kmv import kmv_overlap_estimates, kmv_sketch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    )
    a = kmv_sketch(orders.where(F.col("yr") == 1994), key_col="o_custkey", k=_KMV_K)
    b = kmv_sketch(orders.where(F.col("yr") == 1995), key_col="o_custkey", k=_KMV_K)
    return kmv_overlap_estimates(a, b, k=_KMV_K)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift per nation
# ---------------------------------------------------------------------------

_KS_DRIFT_ORACLE = """
WITH px AS (
  SELECT n.n_name AS nation,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS is_early
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
per_val AS (
  SELECT nation, cents,
         sum(is_early) AS a_cnt, sum(1 - is_early) AS b_cnt
  FROM px GROUP BY nation, cents
),
cum AS (
  SELECT nation,
         sum(a_cnt) OVER (PARTITION BY nation ORDER BY cents) AS cum_a,
         sum(b_cnt) OVER (PARTITION BY nation ORDER BY cents) AS cum_b,
         sum(a_cnt) OVER (PARTITION BY nation) AS n_a,
         sum(b_cnt) OVER (PARTITION BY nation) AS n_b
  FROM per_val
)
SELECT nation,
       CAST(max(n_a) AS BIGINT) AS n_early,
       CAST(max(n_b) AS BIGINT) AS n_late,
       CAST(max(abs(cum_a * 1000000000 // n_a - cum_b * 1000000000 // n_b)) AS BIGINT)
         AS ks_nano
FROM cum GROUP BY nation
"""


@query("price_drift_ks", _KS_DRIFT_ORACLE, tags=("stats-drift", "dq"))
def price_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per nation: how
    far the order-price distribution moved between the early
    (< 1998) and late (≥ 1998) periods — the distribution-drift gate a
    training pipeline runs between ingestion snapshots before letting
    a new batch into the mix (PSI's nonparametric sibling: no binning
    choice, sensitive to any CDF displacement).

    Exactness: prices go through the portable cents fixed-point; each
    side's ECDF is computed in nano-units by INTEGER division
    (cum·1e9 div n), so the max-gap statistic is a BIGINT both engines
    agree on bit-for-bit. (At corpus scales where a group's count
    approaches 1e9 rows, cum·1e9 nears the BIGINT edge — the nano
    numerator would move to DECIMAL(38,0); at these SFs BIGINT holds
    with 9 digits of headroom.)

    Scale shape: one fact-side join and a nation lookup, a (nation,
    cents) pre-aggregate that collapses duplicate price points
    map-side, then a nation-partitioned ordered window over DISTINCT
    price values only — the window never sees raw orders, and its
    partitioning key is the same nation key the final aggregate
    groups on, so the cumulative pass and the max-gap reduce share
    one exchange."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    px = (
        join_dim(
            orders.join(customer, orders.o_custkey == customer.c_custkey),
            "c_nationkey", sf_dir, "nation", "n_nationkey", ["n_name"],
        )
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
            )
            .otherwise(0)
            .alias("is_early"),
        )
    )
    per_val = px.groupBy("nation", "cents").agg(
        F.sum("is_early").alias("a_cnt"),
        F.sum(F.lit(1) - F.col("is_early")).alias("b_cnt"),
    )
    w_ord = Window.partitionBy("nation").orderBy("cents")
    w_all = Window.partitionBy("nation")
    cum = per_val.select(
        "nation",
        F.sum("a_cnt").over(w_ord).alias("cum_a"),
        F.sum("b_cnt").over(w_ord).alias("cum_b"),
        F.sum("a_cnt").over(w_all).alias("n_a"),
        F.sum("b_cnt").over(w_all).alias("n_b"),
    )
    return cum.groupBy("nation").agg(
        F.max("n_a").cast("bigint").alias("n_early"),
        F.max("n_b").cast("bigint").alias("n_late"),
        F.max(
            F.abs(
                F.expr("cum_a * 1000000000 div n_a - cum_b * 1000000000 div n_b")
            )
        )
        .cast("bigint")
        .alias("ks_nano"),
    )
