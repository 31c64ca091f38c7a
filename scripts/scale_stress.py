"""Scale-stress harness: measure how the headline queries ACTUALLY
scale, not just how their plans read.

    python scripts/scale_stress.py [--factor 8] [--out /tmp/sf_stress]

Builds a key-consistent ~factor× replica of /root/testdata/sf0.1
(foreign keys offset per replica so joins keep their selectivity;
document text passed through a per-replica alphabet rotation and
embeddings rotated per replica so the dedup/ANN pipelines do NOT see
replicas as near-duplicates — the goal is "the same workload, bigger",
not a pathological all-duplicates corpus), then times a battery of
registered queries at both scales and prints observed time ratio vs
the data ratio. A linear-plan query should land near the data ratio
(below it while the small scale is dominated by fixed per-query
latency); anything far above is a scaling bug.

Dimension tables (nation/region) are NOT replicated — at 100 TB the
dimensions stay dimension-sized; replicating facts against fixed dims
is exactly how the real table ratios evolve.
"""

from __future__ import annotations

import argparse
import os
import shutil
import string
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"
OFF = 100_000_000  # id offset per replica — far above any base key

# (table, [id columns to offset per replica]). nation IS replicated
# (with customer/supplier nation keys offset to match) so per-nation
# group sizes stay CONSTANT as data grows — the realistic 100 TB shape
# ("more workplaces", not quadratically denser ones); that keeps the
# interval-join pair output linear in the factor, so the flagship
# queries can be measured too. region stays a fixed dimension.
FACT_TABLES = {
    "nation": ["n_nationkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ["region"]

QUERIES = [
    "pricing_summary",
    "shipping_priority_top10",
    "local_supplier_volume",
    "supplier_nation_reach",
    "flagship_colleagues_interval",
    "flagship_colleagues_bucketed",
    "schoolmates_shared_part",
    "events_tumbling_hourly",
    "user_state_scd2",
    "minhash_near_dup_docs",
    "dedup_canonical_docs",
    "ngram_jaccard_prefix_filtered",
    "ann_lsh_topk",
    "dup_span_coverage",
    "balanced_shard_report",
    "length_bucket_padding_report",
    "funnel_view_click_purchase",
    "containment_near_dup_pairs",
    "bloom_prefiltered_order_join",
    "leakage_safe_split",
    # round-5 additions: the distributed-ntile rewrite, the df-capped
    # stopword Jaccard, and the star-alternation CC (its round count is
    # log-sized, so replica growth should barely move it)
    "rfm_customer_segments",
    "ngram_jaccard_stopword_filtered",
    "connected_components_bigstar",
    # round-5 second wave: graph sampling/motifs, curation composition,
    # codec path, incremental CC
    "kcore_copurchase",
    "membership_random_walks",
    "supplier_clustering_coefficients",
    "link_prediction_training_pairs",
    "incremental_component_merge",
    "dsir_importance_scores",
    "curated_pretrain_mix",
    "doc_length_percentiles",
    "image_phash_codec_roundtrip",
    "readability_flesch_scores",
    "kmv_customer_overlap",
    # round-6 additions: motif compiler (positive + negated forms) and
    # the char-n-gram prefix lane whose naive form this battery caught
    # blowing up
    "motif_two_hop_membership",
    "motif_missing_shortcut_edges",
    "char_ngram_dup_docs",
]


def _rotated(r: int) -> str:
    """Per-replica lowercase substitution alphabet. Replica 0 is the
    identity; every other replica gets a DERANGED permutation seeded by
    r. A plain Caesar rotation (the round-5..7 form) wraps at r % 26 —
    at factor 100 replicas 0/26/52/78 carry IDENTICAL text, and the
    text-dedup lanes (minhash/ngram/containment) see a pathological
    cross-replica duplicate corpus instead of 'the same workload,
    bigger' (caught by the round-8 third-decade battery: minhash bytes
    ratio 5.6x for 3.3x data — the generator, not the engine). Random
    permutations seeded per replica collide with probability ~n²/26!;
    identity collisions are excluded explicitly."""
    import random

    if r == 0:
        return string.ascii_lowercase
    rng = random.Random(1_000_003 * r)
    perm = list(string.ascii_lowercase)
    while True:
        rng.shuffle(perm)
        s = "".join(perm)
        if s != string.ascii_lowercase:
            return s


def build_replica(spark, out_dir: str, factor: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in DIM_TABLES:
        shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, keys in FACT_TABLES.items():
        base = spark.read.parquet(f"{BASE}/{t}.parquet")
        parts = []
        for r in range(factor):
            df = base
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(r * OFF))
            if t == "documents" and r > 0:
                # per-replica alphabet rotation: deterministic, length-
                # preserving, destroys cross-replica shingle overlap
                df = df.withColumn(
                    "text",
                    F.translate("text", string.ascii_lowercase, _rotated(r)),
                )
            if t == "embeddings" and r > 0:
                # rotate the vector by r dims AND flip a per-replica
                # deterministic sign pattern: both norm-preserving, and
                # the sign pattern keeps replicas r and r+64 from being
                # identical (the bare rotation wraps at r % 64 — same
                # third-decade wrap artifact as the text rotation)
                import random as _random

                n = 64
                rr = r % n or 1
                signs = [
                    1.0 if _random.Random(7_000_003 * r + i).random() < 0.5 else -1.0
                    for i in range(n)
                ]
                rotated = F.concat(
                    F.slice("embedding", rr + 1, n - rr),
                    F.slice("embedding", 1, rr),
                )
                df = df.withColumn(
                    "embedding",
                    F.zip_with(
                        rotated,
                        F.array(*[F.lit(s) for s in signs]),
                        lambda x, s: x * s,
                    ),
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"built {t}: {out.count()} rows", flush=True)


def time_queries(spark, sf_dir: str, names, runs: int) -> dict[str, float]:
    from leader_graph_spark.plans import REGISTRY

    # warm codegen/worker paths at the smoke scale (bench_spark: time
    # the operator, not any verification harness wrapped around it)
    for n in names:
        REGISTRY[n].bench_spark(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    best: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(runs):
        for n in names:
            t0 = time.time()
            REGISTRY[n].bench_spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best[n] = min(best[n], time.time() - t0)
    return best


def main() -> int:
    import json
    import math

    p = argparse.ArgumentParser()
    p.add_argument("--factor", type=int, default=8)
    p.add_argument("--out", default="/tmp/sf_stress")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--skip-build", action="store_true")
    p.add_argument("--queries", help="comma-separated subset of QUERIES")
    p.add_argument(
        "--bench-set",
        action="store_true",
        help="use the full headline bench set instead of QUERIES",
    )
    p.add_argument("--json-out", help="write per-query times + exponents as JSON")
    args = p.parse_args()
    global QUERIES
    if args.queries:
        QUERIES = [q for q in args.queries.split(",") if q]
    elif args.bench_set:
        from leader_graph_spark.plans import bench_queries

        QUERIES = sorted(bench_queries())

    from leader_graph_spark.session import get_spark

    spark = get_spark("scale_stress")
    if not args.skip_build:
        build_replica(spark, args.out, args.factor)
    small = time_queries(spark, BASE, QUERIES, args.runs)
    big = time_queries(spark, args.out, QUERIES, args.runs)
    print(f"\n{'query':34s} {'sf0.1':>8s} {args.factor}x{'':>5s} ratio  exp")
    report = {}
    for n in QUERIES:
        ratio = big[n] / small[n]
        # scaling exponent: time ∝ data^exp ⇒ exp = log(ratio)/log(factor).
        # exp ≤ 1 is linear-or-better; small-scale fixed latency pushes it
        # below 1, so the superlinear flag keys off the RATIO with slack.
        exp = math.log(ratio) / math.log(args.factor) if ratio > 0 else 0.0
        flag = "" if ratio <= args.factor * 1.3 else "  <-- SUPERLINEAR"
        print(f"{n:34s} {small[n]:8.3f} {big[n]:8.3f} {ratio:6.2f} {exp:5.2f}{flag}")
        report[n] = {
            "sec_small": round(small[n], 3),
            "sec_big": round(big[n], 3),
            "ratio": round(ratio, 2),
            "exponent": round(exp, 3),
            "superlinear": ratio > args.factor * 1.3,
        }
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(
                {
                    "base": BASE,
                    "factor": args.factor,
                    "runs": args.runs,
                    "queries": report,
                },
                f,
                indent=1,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
