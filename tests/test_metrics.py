"""Runtime shuffle-bytes ledger (leader_graph_spark/metrics.py) and the
per-headline-query byte budgets.

Wall-clock on local[32] has a ~0.5s floor that hides the costs that
dominate at cluster scale; shuffle BYTES don't. These budgets pin, for
every headline bench query at smoke scale, that (a) the shuffle volume
stays within the measured envelope (x2 headroom over the round-7
measurement so data jitter never flakes, tight enough that an
accidental broadcast->shuffle regression or a lost prefix filter blows
the budget), (b) nothing spills to disk, and (c) the number of
driver-side actions (jobs — each a full scheduling barrier on a real
cluster) stays bounded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.metrics import measure_query
from leader_graph_spark.plans import bench_queries

# (total shuffle MB read+write, jobs) budgets per headline query,
# measured at sf0.001 in round 7 and given ~2x / +30% headroom.
BENCH_BUDGETS: dict[str, tuple[float, int]] = {
    "ann_lsh_topk": (4.5, 10),
    "containment_near_dup_pairs": (5.3, 15),
    "corpus_release_manifest": (3.1, 21),
    "curated_pretrain_mix": (2.0, 25),
    # round-10 bench-set widening: the three sf1-heaviest regimes join
    # the per-round guard (VERDICT r9 Next #7); measured at sf0.001
    # in round 10 (0.0 MB / 3 jobs — broadcast-only at smoke scale)
    "current_colleague_customers": (0.5, 5),
    # round-8 static scope for its min-label loop: measured 15
    "dedup_canonical_docs": (1.1, 22),
    "dup_span_coverage": (2.5, 10),
    "events_tumbling_hourly": (0.2, 5),
    "flagship_colleagues_bucketed": (0.1, 8),
    "flagship_colleagues_interval": (0.1, 8),
    "funnel_view_click_purchase": (0.2, 5),
    # round-10 widening: measured 0.05 MB / 5 jobs at sf0.001
    "hourly_gap_filled_series": (0.2, 7),
    "image_phash_codec_roundtrip": (0.01, 4),
    # probes fused into checkpoint jobs + driver-side quotient
    # solve (round 7): 105 -> 62 and 17 -> 13 driver actions;
    # static-loop execution (round 8) cut the AQE sub-jobs: measured 38
    "incremental_component_merge": (1.3, 48),
    # tightened after the bipartite symmetrize fast path dropped the
    # redundant distinct's full shuffle (round 7: 98 -> 70 MB at sf0.1,
    # 0.8 MB at this smoke scale)
    # round-8 static-loop scope + terminal degree checkpoint: measured 8
    "kcore_copurchase": (1.6, 11),
    "local_supplier_volume": (0.05, 17),
    "minhash_near_dup_docs": (1.0, 8),
    # round-8 array-form verify trades ~1.5 MB more smoke-scale shuffle
    # (sets collected once per side) for the sublinear third decade
    "ngram_jaccard_prefix_filtered": (6.0, 16),
    # round-8 static-loop scope halved the AQE sub-jobs: measured 36
    "personalized_pagerank_regions": (0.2, 45),
    "pricing_summary": (0.05, 5),
    # r11 hot-school skew guard (skew_guarded_self_pairs): +1 job for
    # the study checkpoint and +broadcast builds of the (empty at this
    # scale) hot-group set; measured 0.054 MB / 9 jobs at sf0.001.
    "schoolmates_shared_part": (0.3, 10),
    "shipping_priority_top10": (0.1, 10),
    # round-10 widening: measured 0.35 MB / 5 jobs at sf0.001
    "simhash_near_dup_pairs": (0.8, 7),
    # round-10 widening: adjacency-intersection triangles, measured
    # 0.085 MB / 16 jobs at sf0.001
    "supplier_clustering_coefficients": (0.2, 21),
    "supplier_nation_reach": (0.05, 16),
    "user_state_scd2": (0.2, 6),
    # round-10 widening: delta-frontier Bellman-Ford, measured
    # 1.63 MB / 15 jobs at sf0.001; r10 opt: the size-guarded frontier
    # broadcast cuts sf0.1 shuffle 110 -> 24 MB but adds one broadcast
    # build job per round (22 = 6 rounds x (ckpt + bcast) + prologue)
    "weighted_sssp_copurchase": (3.3, 22),
}


# The MinHash lanes solve every testdata corpus on the driver
# (operators.dedup.minhash_near_duplicates within DEDUP_DRIVER_MAX_BYTES),
# so their BENCH_BUDGETS entries above bound the distributed plan only
# when that branch is off: test_distributed_minhash_bytes_budget runs
# them at DEDUP_DRIVER_MAX_BYTES=0 (measured at sf0.001: 0.42 MB / 5 jobs
# and 0.43 MB / 9 jobs). These bound the driver branch the lanes take
# by default, measured at 0 MB / 2 jobs (the collect and the action)
# and 0.008 MB / 6 jobs (connected_components solves the collected pair
# list on the driver too; 0.028 MB / 14 jobs while it ran its loop).
DRIVER_MINHASH_BUDGETS: dict[str, tuple[float, int]] = {
    "minhash_near_dup_docs": (0.0, 3),
    "dedup_canonical_docs": (0.03, 8),
}


def _bytes_budget(spark, sf_dir, name, mb_budget, jobs_budget):
    spec = bench_queries()[name]
    led = measure_query(spark, lambda: spec.bench_spark(spark, sf_dir)).as_dict()
    mb = led["shuffle_read_mb"] + led["shuffle_write_mb"]
    assert mb <= mb_budget, f"{name}: {mb:.3f} shuffle MB > budget {mb_budget}"
    assert led["disk_spill_mb"] == 0, f"{name}: spilled {led['disk_spill_mb']} MB to disk"
    assert led["jobs"] <= jobs_budget, (
        f"{name}: {led['jobs']} driver actions > budget {jobs_budget}"
    )


def test_budget_table_covers_every_bench_query():
    assert sorted(BENCH_BUDGETS) == sorted(bench_queries())


def test_measure_query_sees_shuffle(spark):
    led = measure_query(
        spark,
        lambda: spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count(),
    )
    assert led.shuffle_write_bytes > 0
    assert led.shuffle_read_bytes > 0
    assert led.jobs >= 1
    assert led.stages >= 2
    assert led.wall_sec > 0


def test_measure_query_no_shuffle_is_zero(spark):
    led = measure_query(spark, lambda: spark.range(1000).select("id"))
    assert led.shuffle_write_bytes == 0
    assert led.shuffle_read_bytes == 0
    assert led.jobs == 1


def test_measurements_are_isolated(spark):
    """Back-to-back measurements must not bleed into each other: the
    delta is taken by job/stage id high-water mark."""
    measure_query(
        spark,
        lambda: spark.range(500_000).groupBy((F.col("id") % 3).alias("k")).count(),
    )
    led = measure_query(spark, lambda: spark.range(10).select("id"))
    assert led.shuffle_write_bytes == 0
    assert led.jobs == 1


@pytest.mark.parametrize("name", sorted(BENCH_BUDGETS))
def test_bench_query_bytes_budget(spark, sf_smoke, name):
    _bytes_budget(spark, sf_smoke, name, *BENCH_BUDGETS[name])


@pytest.mark.parametrize("name", sorted(DRIVER_MINHASH_BUDGETS))
def test_distributed_minhash_bytes_budget(spark, sf_smoke, name):
    from unittest import mock

    from leader_graph_spark.operators import dedup

    with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", 0):
        _bytes_budget(spark, sf_smoke, name, *BENCH_BUDGETS[name])


@pytest.mark.parametrize("name", sorted(DRIVER_MINHASH_BUDGETS))
def test_driver_minhash_bytes_budget(spark, sf_smoke, name):
    _bytes_budget(spark, sf_smoke, name, *DRIVER_MINHASH_BUDGETS[name])


def _listed_ledger(spark, mark: tuple[int, int]) -> dict:
    """Reference ledger: list the whole status store and sum every entry
    newer than ``mark``."""
    from leader_graph_spark.metrics import _stage_list, _store

    job_mark, stage_mark = mark
    out = dict.fromkeys(
        ("jobs", "stages", "skipped_stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"), 0
    )
    stages = _stage_list(spark)
    for s in (stages.apply(i) for i in range(stages.size())):
        if s.stageId() <= stage_mark:
            continue
        if str(s.status()) == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
    jobs = _store(spark).jobsList(spark._jvm.java.util.ArrayList())
    out["jobs"] = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > job_mark)
    return out


def _listed_max_ids(spark) -> tuple[int, int]:
    from leader_graph_spark.metrics import _stage_list, _store

    jobs = _store(spark).jobsList(spark._jvm.java.util.ArrayList())
    stages = _stage_list(spark)
    return (
        max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
        max((stages.apply(i).stageId() for i in range(stages.size())), default=-1),
    )


def test_measure_by_id_matches_the_store_listing(spark):
    """The ledger reads each job and stage above the start mark by id;
    after a long session history it must count what listing the whole
    store counts: jobs, stages, skipped stages, tasks and bytes."""
    from leader_graph_spark.metrics import _max_ids

    for _ in range(50):
        spark.range(1).collect()
    mark = _listed_max_ids(spark)
    assert _max_ids(spark) == mark

    def multi_stage():
        a = spark.range(200_000).groupBy((F.col("id") % 13).alias("k")).count()
        b = spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id").alias("s"))
        return a.join(b.hint("shuffle_merge"), "k").groupBy("count").agg(F.sum("s"))

    led = measure_query(spark, multi_stage)
    want = _listed_ledger(spark, mark)
    assert want["jobs"] >= 2 and want["stages"] >= 3 and want["skipped_stages"] >= 1, want
    got = {k: getattr(led, k) for k in want}
    assert got == want
