"""Scale-pattern tests: bucketed co-located joins, observable metrics,
schema evolution — the cluster techniques that local[32] can still
verify structurally."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_avoids_shuffle(spark, tmp_path, sf_smoke):
    """Writing both join sides bucketed by the join key lets a later
    join run without exchanging either side (SortMergeJoin with no
    Exchange under it) — the pre-partitioning story for repeated joins
    at 100 TB."""
    import shutil

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # The in-memory catalog forgets tables between sessions but the
    # warehouse directory persists — clear stale locations too.
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "b_orders"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        "b_lineitem"
    )
    # Disable auto-broadcast: at test scale the planner would broadcast
    # (hiding the bucketing); at 100 TB neither side broadcasts and the
    # bucketed layout is what saves the shuffle.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_observe_metrics(spark, sf_smoke):
    """df.observe — the engine's run-statistics surface (the reference's
    processed/success counters, ``processor/data_processor.py:72-79``)."""
    from pyspark.sql import Observation

    obs = Observation("ingest_stats")
    df = (
        spark.read.parquet(f"{sf_smoke}/orders.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("o_totalprice") > 100000).cast("long")).alias("n_big"),
        )
        .filter(F.col("o_orderstatus") == "O")
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == 1500
    assert 0 < got["n_big"] < 1500


def test_schema_evolution_merge(spark, tmp_path):
    """Declared-schema evolution: new columns appear as nulls for old
    files (the lake replacement for the reference's runtime ALTER TABLE,
    ``leader/bio_processor.py:271-302``)."""
    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(p)
    spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double").write.mode(
        "append"
    ).parquet(p)
    merged = spark.read.option("mergeSchema", True).parquet(p)
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_partition_pruning(spark, tmp_path, sf_smoke):
    """partitionBy layout + filter → scan reads only matching
    partitions (PartitionFilters in the plan), the parquet-lake
    substitute for the reference's MySQL secondary indexes."""
    from leader_graph_spark.sources.tables import load_table

    out = str(tmp_path / "events_by_type")
    load_table(spark, sf_smoke, "events").write.partitionBy("event_type").parquet(out)
    df = spark.read.parquet(out).filter("event_type = 'click'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_click = df.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_click < n_all


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    """Predicate + projection reach the parquet reader as
    PushedFilters/ReadSchema — Catalyst pushdown is live, not assumed."""
    from leader_graph_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    df = (
        load_table(spark, sf_smoke, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,30" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_bloom_filter_join_pruning_at_scale(spark, sf_smoke):
    """Runtime Bloom-filter join pruning (InjectRuntimeFilter): a
    selective dimension filter is turned into a bloom filter applied on
    the fact side BEFORE the join shuffle. Below the 10 GB
    application-side threshold Spark correctly skips it (local data);
    with thresholds scaled down, the same plan gains the filter — the
    behavior a 100 TB fact join relies on to not shuffle dead rows."""
    from pyspark.sql import functions as F

    from leader_graph_spark.sources.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    orders = load_table(spark, sf_smoke, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert "bloom" not in j._jdf.queryExecution().optimizedPlan().toString().lower()
        for k, v in confs.items():
            spark.conf.set(k, v)
        j2 = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert "bloomfilter" in j2._jdf.queryExecution().optimizedPlan().toString().lower()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


SHUFFLE_BUDGETS = {
    # Committed plan-shape budgets for the headline bench queries:
    # count of non-broadcast Exchange nodes in the executed plan.
    # A failure here means a rewrite added a shuffle the 100 TB story
    # doesn't account for — justify and update the budget, don't bump
    # it casually.
    "ann_lsh_topk": 4,
    "events_tumbling_hourly": 1,
    "flagship_colleagues_bucketed": 2,
    "flagship_colleagues_interval": 2,
    "local_supplier_volume": 1,
    # the distributed plan (test_minhash_shuffle_budget_both_branches
    # forces it; the driver branch testdata takes has none)
    "minhash_near_dup_docs": 6,
    "pricing_summary": 1,
    # r11 hot-school skew guard: the initial (pre-AQE) plan carries the
    # per-school fanout-count exchange plus the salted hot-branch join
    # sides next to the cold pair join; at runtime the hot set is empty
    # (AQE empty-relation no-op), the cold sides reuse one exchange,
    # and measured sf0.1 bytes went DOWN (37.2 -> 30.5 MB r+w).
    "schoolmates_shared_part": 5,
    "shipping_priority_top10": 1,
    # round-4 bitmap-distinct rewrite: two branches (one per distinct
    # column), each shuffling ≤4KB bitmaps on (supplier, bucket) then
    # supplier — narrow where the old expand plan doubled the full
    # joined rows; the join exchanges are shared via reuse.
    "supplier_nation_reach": 4,
    "ngram_jaccard_prefix_filtered": 6,
    # one hash exchange (asserted exactly in test_operators) + the
    # final interval-lead sort exchange
    "user_state_scd2": 2,
    # r10: +3 from fan_out of the single-split doc scan feeding the
    # span-gram pipeline (runtime-conditional — repartitions ONLY when
    # the scan has fewer splits than defaultParallelism, so at scale
    # the exchange never materializes; at smoke/sf0.1 it deliberately
    # trades one narrow input-sized shuffle for 32-way tokenize+hash
    # parallelism, measured 3.16 -> 1.71 s).
    "dup_span_coverage": 6,
    # composed capstone: curation signals + packing prefix-sum + split —
    # the sum of its stages' budgets, nothing added by the composition
    "corpus_release_manifest": 13,
    # probe-prefix build (dfreq join + windows) + full-index candidate
    # join + in-row array-intersect verify
    "containment_near_dup_pairs": 7,
    # round-6 promotions of the round-5 lanes into the headline set:
    # iterative graph queries checkpoint per round, so the VISIBLE
    # plan is the final round (truncated lineage) — the budget pins
    # that truncation keeps working, not the per-round shuffle count
    # (asserted per-iteration in the algorithm tests).
    "kcore_copurchase": 1,
    "personalized_pagerank_regions": 0,
    # the incremental merge replays base labels + three delta batches
    # WITHOUT intermediate checkpoints by design (each batch is tiny
    # vs the base); the full unrolled merge is in-plan at smoke scale.
    "incremental_component_merge": 23,
    # DSIR scores + domain caps + deterministic mixture resample:
    # one exchange per ranked stage, rest broadcast.
    "curated_pretrain_mix": 2,
    # pure mapInPandas codec pipeline — zero shuffles: blobs never move.
    "image_phash_codec_roundtrip": 0,
}

# Same contract for non-bench queries whose scale story IS a shuffle
# count claimed in their docstrings.
REGISTRY_SHUFFLE_BUDGETS = {
    "funnel_view_click_purchase": 1,   # chained windows, one user_id exchange
    "user_value_ewma": 1,              # fold over collected array, one exchange
    "event_sequence_regex_match": 1,   # ordered string build, one exchange
    "cohort_retention_daily": 2,       # day-set agg + rollup, NO join
    "incremental_join_maintenance": 1, # delta branches broadcast at this size
    # one hash exchange by length_bucket serves the assignment window
    # and BOTH downstream aggregations (bucket partitioning co-locates
    # (bucket, batch)); the other is fan_out's round-robin on the tiny
    # single-file input, a no-op at scale
    "length_bucket_padding_report": 2,
    # round-5 two-phase distributed-ntile rewrite: each quartile pass
    # is ONE range exchange plus two aggregate-bounded tiny exchanges
    # (32-row totals + carry), materialized behind a localCheckpoint —
    # the visible plan is the final pass only (checkpoint truncates),
    # hence the small pin; the point of the budget is that no pass
    # ships a data-sized single-reducer sort (the window lint asserts
    # the rest).
    "rfm_customer_segments": 3,
}


@pytest.mark.parametrize("name", sorted(REGISTRY_SHUFFLE_BUDGETS))
def test_registry_query_shuffle_budget(spark, sf_smoke, name):
    from leader_graph_spark.plans import REGISTRY

    plan = (
        REGISTRY[name].spark(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    )
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= REGISTRY_SHUFFLE_BUDGETS[name], (
        f"{name}: {shuffles} shuffles > budget {REGISTRY_SHUFFLE_BUDGETS[name]}"
    )


def test_topk_queries_plan_take_ordered(spark, sf_smoke):
    """The ranked-retrieval top-k queries must compile to
    TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    global sort feeding a limit."""
    from leader_graph_spark.plans import REGISTRY

    for name in ("bm25_retrieval_topk", "copurchase_link_prediction"):
        plan = (
            REGISTRY[name].spark(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, name


def _bench_shuffles(spark, sf_dir, name) -> int:
    from leader_graph_spark.plans import bench_queries

    spec = bench_queries()[name]
    plan = spec.bench_spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange")


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_bench_query_shuffle_budget(spark, sf_smoke, name):
    shuffles = _bench_shuffles(spark, sf_smoke, name)
    assert shuffles <= SHUFFLE_BUDGETS[name], (
        f"{name}: {shuffles} shuffles > budget {SHUFFLE_BUDGETS[name]}"
    )


def test_minhash_shuffle_budget_both_branches(spark, sf_smoke):
    """``minhash_near_dup_docs`` takes the driver branch at every
    testdata scale, whose result is a local relation with no exchange;
    its ``SHUFFLE_BUDGETS`` entry bounds the distributed plan, forced
    here with ``DEDUP_DRIVER_MAX_BYTES`` patched to 0."""
    from unittest import mock

    from leader_graph_spark.operators import dedup

    name = "minhash_near_dup_docs"
    assert _bench_shuffles(spark, sf_smoke, name) == 0
    with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", 0):
        shuffles = _bench_shuffles(spark, sf_smoke, name)
    assert shuffles <= SHUFFLE_BUDGETS[name], (
        f"{name} distributed: {shuffles} shuffles > budget {SHUFFLE_BUDGETS[name]}"
    )


def test_hll_sketch_state_merge(spark, sf_smoke):
    """Holistic-aggregate state maintenance: per-partition HLL sketches
    merged across partitions track the single-pass sketch estimate
    within 2% (register merge is pointwise max, but DataSketches
    unions promote through HLL_8 and re-encoded registers can land a
    few counts apart — observed at sf0.1), and within 5% of the exact
    distinct count — the incremental route for the metrics an
    algebraic state merge cannot maintain."""
    from pyspark.sql import functions as F

    from leader_graph_spark.operators.skew import distinct_sketches, merge_distinct_sketches
    from leader_graph_spark.sources.tables import load_table

    events = load_table(spark, sf_smoke, "events")
    cutoff = F.col("event_id") % 3  # three "ingest batches"
    parts = [
        distinct_sketches(
            events.filter(cutoff == i), keys=["event_type"], value_col="user_id"
        )
        for i in range(3)
    ]
    merged = {
        r.event_type: r.n_distinct_est
        for r in merge_distinct_sketches(*parts, keys=["event_type"]).collect()
    }
    single = {
        r.event_type: r.n_distinct_est
        for r in merge_distinct_sketches(
            distinct_sketches(events, keys=["event_type"], value_col="user_id"),
            keys=["event_type"],
        ).collect()
    }
    for k, v in merged.items():  # merge algebra: ≤2% of one-pass
        assert abs(v - single[k]) <= 0.02 * single[k], (k, v, single[k])
    exact = dict(
        events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    )
    for k, n in exact.items():
        assert abs(merged[k] - n) <= max(2, 0.05 * n)


def test_zorder_chunks_bound_both_dimensions(spark, sf_dir):
    """The file-skipping property behind z-ordered layout: chop the
    rows into 64 zval-ordered chunks (simulated files) — the average
    per-chunk min/max span is SMALL on BOTH dimensions, whereas a
    single-key sort bounds only its own key and leaves the other
    dimension's span at ~full range."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leader_graph_spark.plans import REGISTRY

    df = REGISTRY["zorder_layout_keys"].spark(spark, sf_dir)
    full = 65535

    def avg_spans(order_col):
        w = Window.orderBy(order_col)
        chunks = df.withColumn("chunk", F.ntile(64).over(w))
        spans = chunks.groupBy("chunk").agg(
            (F.max("ck_norm") - F.min("ck_norm")).alias("ck_span"),
            (F.max("mo_norm") - F.min("mo_norm")).alias("mo_span"),
        ).agg(F.avg("ck_span").alias("ck"), F.avg("mo_span").alias("mo")).first()
        return spans.ck / full, spans.mo / full

    z_ck, z_mo = avg_spans("zval")
    s_ck, s_mo = avg_spans("ck_norm")
    # z-order: both dimensions bounded well below full range.
    assert z_ck < 0.35 and z_mo < 0.35, (z_ck, z_mo)
    # single-key sort: its own key is tight but the other dim is ~full.
    assert s_ck < 0.05 and s_mo > 0.8, (s_ck, s_mo)
    # and z-order's worse dimension still beats single-key's worse one.
    assert max(z_ck, z_mo) < max(s_ck, s_mo) / 2


def test_cms_counters_merge_cellwise(spark, sf_smoke):
    """The CMS incremental-maintenance property: counter grids built
    per source partition ADD CELL-WISE to the global grid — no history
    rescan, same estimates (the frequency-state analogue of the HLL
    register merge)."""
    from pyspark.sql import functions as F

    from leader_graph_spark.plans.text_queries import _CMS_DEPTH
    from leader_graph_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    j = 0  # one depth row suffices to pin the merge shape
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col("term"), F.lit(f"#{j}"))), 1, 2), 16, 10
    ).cast("long")
    global_grid = {
        r.bucket: r.n
        for r in toks.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n")).collect()
    }
    per_source = (
        toks.groupBy("source", bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
    )
    merged = {r.bucket: r.n for r in per_source.collect()}
    assert merged == global_grid
    assert len(global_grid) > 20


def test_hilbert_model_invariants_and_sql_unroll(spark):
    """The python Hilbert model satisfies the curve invariants
    (bijective over the grid; consecutive indices are grid-adjacent),
    and the unrolled portable SQL reproduces the model exactly over a
    full 16x16 grid on the Spark engine (DuckDB equality is covered by
    the query's oracle parity)."""
    from leader_graph_spark.operators.layout import hilbert_ctes_sql, hilbert_key_py

    bits = 4
    n = 1 << bits
    cells = {}
    for x in range(n):
        for y in range(n):
            cells[hilbert_key_py(bits, x, y)] = (x, y)
    assert len(cells) == n * n
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = cells[d], cells[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1

    body, last = hilbert_ctes_sql("grid", bits, carry=["gx", "gy"])
    sql = f"""WITH grid AS (
      SELECT id div 16 AS gx, id % 16 AS gy,
             CAST(id div 16 AS BIGINT) AS x, CAST(id % 16 AS BIGINT) AS y
      FROM range(256)
    ),
    {body}
    SELECT gx, gy, d FROM {last}"""
    got = {(r.gx, r.gy): r.d for r in spark.sql(sql).collect()}
    want = {(x, y): hilbert_key_py(bits, x, y) for x in range(n) for y in range(n)}
    assert got == want


def test_hilbert_locality_at_least_matches_zorder(spark, sf_dir):
    """Hilbert's no-jump property: zval-ordered and hval-ordered
    64-chunk layouts both bound the two dimensions, and the Hilbert
    layout's average per-chunk span (worse dimension) is no worse than
    z-order's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leader_graph_spark.plans import REGISTRY

    z = REGISTRY["zorder_layout_keys"].spark(spark, sf_dir).select(
        "o_orderkey", "ck_norm", "mo_norm", F.col("zval").alias("v")
    )
    h = REGISTRY["hilbert_layout_keys"].spark(spark, sf_dir).select(
        "o_orderkey", F.col("hval").alias("v")
    )
    # hilbert rows carry rotated residuals; recover the input dims by
    # joining the z-order projection on the order key.
    h = h.join(z.select("o_orderkey", "ck_norm", "mo_norm"), "o_orderkey")

    def worse_avg_span(df):
        w = Window.orderBy("v")
        spans = (
            df.withColumn("chunk", F.ntile(64).over(w))
            .groupBy("chunk")
            .agg(
                (F.max("ck_norm") - F.min("ck_norm")).alias("ck_span"),
                (F.max("mo_norm") - F.min("mo_norm")).alias("mo_span"),
            )
            .agg(F.avg("ck_span").alias("ck"), F.avg("mo_span").alias("mo"))
            .first()
        )
        return max(spans.ck, spans.mo)

    z_span = worse_avg_span(z)
    h_span = worse_avg_span(h)
    assert h_span < 0.35 * 65535
    assert h_span <= z_span * 1.05, (h_span, z_span)


def test_dynamic_partition_pruning(spark, tmp_path, sf_smoke):
    """DYNAMIC partition pruning: when the partition filter arrives at
    RUNTIME through a join against a filtered dimension (no literal
    predicate on the fact side), Spark must inject a dynamicpruning
    subquery into the partitioned scan — the mechanism that keeps a
    100 TB date/type-partitioned fact table from being fully scanned by
    star-schema joins. Static pruning (literal filters) is covered by
    test_partition_pruning; this pins the runtime path."""
    from pyspark.sql import functions as F

    from leader_graph_spark.sources.tables import load_table

    out = str(tmp_path / "events_dpp")
    load_table(spark, sf_smoke, "events").write.partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "interactive"), ("purchase", "commerce")],
        "event_type string, family string",
    )
    joined = fact.join(dim.filter(F.col("family") == "commerce"), "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # the pruned scan reads only the purchase partition's rows
    n_purchase = fact.filter("event_type = 'purchase'").count()
    assert joined.count() == n_purchase


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's OptimizeSkewedJoin: a 90%-hot join key makes one shuffle
    partition dwarf the median; with the size thresholds scaled down to
    local data, the FINAL adaptive plan marks the sort-merge join
    skew=true (the hot partition split into subpartitions) — the
    runtime half of the skew story whose manual half is
    operators/skew.py's salting."""
    left = spark.range(0, 150_000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("p" * 64), F.col("id")).alias("payload"),
    )
    right = spark.range(0, 30_000).select(
        F.col("id").alias("rk"), (F.col("id") * 2).alias("rv")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = left.join(right, left.k == right.rk)
        n = len(j.collect())  # collect drives j's own execution to the final plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        # 135k hot-key-0 rows + the 3k cold keys that fall below rk<30k
        assert n == 138_000
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_distributed_ntile_bit_identical(spark):
    """_distributed_ntile must equal ntile(4) for every n, including
    n % 4 != 0 where the naive rank*k div n fence spreads the
    remainder instead of front-loading it."""
    from pyspark.sql import Window

    from leader_graph_spark.plans.analytics_queries import _distributed_ntile

    for n in (1, 2, 3, 5, 7, 10, 13, 101, 1000):
        df = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 13).alias("v")
        )
        mine = {
            (r.k, r.b)
            for r in _distributed_ntile(df, [F.asc("v"), F.asc("k")], "b").collect()
        }
        want = {
            (r.k, r.b)
            for r in df.select(
                "k", F.ntile(4).over(Window.orderBy("v", "k")).alias("b")
            ).collect()
        }
        assert mine == want, n
