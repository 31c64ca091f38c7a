"""Stage breakdown of ``dedup_canonical_docs`` — the bench set's most
expensive entry (round-4 VERDICT item 5).

The shipped operator (``operators/dedup.py:canonical_near_dup_docs``)
is MinHash-LSH candidate pairs -> 4 hops of min-label propagation
(``connected_components(max_iter=4)``) -> min-id canonical election, all
in one deterministic plan. This script times each stage behind an
explicit materialization boundary so round 5 can tell whether cost
growth comes from the pair-producing pipeline (corpus/shape-driven)
or from the propagation rounds (cluster-structure-driven):

  pairs       — MinHash signatures + banding + candidate join +
                Jaccard filter, materialized via localCheckpoint
  propagation — 4 min-label hops over the materialized pairs: one
                narrow checkpoint and one collect for a pair list
                within ``DRIVER_CC_MAX_EDGES``, as in the shipped query
  election    — final keep/drop select + noop write
  shipped     — the registered query end-to-end, for reconciliation
                (pairs + propagation + election should ~= shipped;
                the checkpoint seam is already inside the shipped op)

Interleaved best-of-N on the sf0.1 documents table, with the
driver-side MinHash branch turned off (``DEDUP_DRIVER_MAX_BYTES``
patched to 0) so every stage is the distributed one.
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from leader_graph_spark.graph.algorithms import connected_components, symmetrize
from leader_graph_spark.operators import dedup
from leader_graph_spark.operators.dedup import minhash_near_duplicates
from leader_graph_spark.plans.dedup_queries import (
    BANDS,
    NUM_HASHES,
    SHINGLE_N,
    THRESHOLD,
    dedup_canonical_docs,
)
from leader_graph_spark.session import get_spark
from leader_graph_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
WARM_DIR = "/root/testdata/sf0.001"
RUNS = 3


def _pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=THRESHOLD,
    )


def main():
    # Profile the distributed MinHash stages: a corpus within the limit
    # would otherwise be solved on the driver from one collect.
    with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", 0):
        _profile()


def _profile():
    spark = get_spark("profile_dedup_stages")
    dedup_canonical_docs(spark, WARM_DIR).write.format("noop").mode("overwrite").save()
    meta = {}
    timings: dict[str, list[float]] = {
        k: [] for k in ("pairs", "propagation", "election", "shipped")
    }
    for run in range(RUNS):
        # pairs: the MinHash pipeline up to the materialized edge list
        t0 = time.perf_counter()
        pairs = _pairs(spark, SF_DIR).localCheckpoint()
        n_pairs = pairs.count()
        timings["pairs"].append(round(time.perf_counter() - t0, 3))

        # propagation: 4 hops over already-materialized edges
        docs_ids = (
            load_table(spark, SF_DIR, "documents")
            .select(F.col("doc_id").alias("id"))
            .localCheckpoint()
        )
        edges = pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
        t0 = time.perf_counter()
        labels = connected_components(docs_ids, edges, max_iter=4)
        labels.write.format("noop").mode("overwrite").save()
        timings["propagation"].append(round(time.perf_counter() - t0, 3))

        # election: the final keep/drop projection over materialized labels
        labels_cp = labels.localCheckpoint()
        t0 = time.perf_counter()
        labels_cp.select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            (F.col("id") == F.col("component")).alias("is_kept"),
        ).write.format("noop").mode("overwrite").save()
        timings["election"].append(round(time.perf_counter() - t0, 3))

        # shipped query end-to-end for reconciliation
        t0 = time.perf_counter()
        dedup_canonical_docs(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings["shipped"].append(round(time.perf_counter() - t0, 3))

        if run == 0:
            meta["n_pairs"] = n_pairs
            meta["n_edges_sym"] = symmetrize(edges).count()
            meta["n_docs"] = docs_ids.count()
    out = {
        "sf": 0.1,
        "runs": RUNS,
        **meta,
        "best": {k: min(v) for k, v in timings.items()},
        "all": timings,
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
