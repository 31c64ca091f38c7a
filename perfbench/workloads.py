"""The benchmark's workloads: fixed sets of registered query lanes.

Each lane is a name in ``leader_graph_spark.plans.REGISTRY``; a pass runs
every lane of the workload once through ``spec.bench_spark`` and a noop-sink
write. Every lane has a DuckDB oracle, which the output check uses.

Lanes also belong to a group, named after the part of the engine they
exercise. The traced run names the dominant layer of each group next to the
layer predicted for it in ``PREDICTED``.
"""

from __future__ import annotations

from dataclasses import dataclass

# group -> the layer expected to dominate its lanes
PREDICTED = {
    "graph_loops": "plans.build_s",
    "pair_joins": "exec.action_s",
    "dedup_text": "exec.jvm_cpu_s",
    "extract_pipeline": "seam.python_cpu_s",
}


@dataclass(frozen=True)
class Workload:
    lanes: dict[str, str]  # lane -> group
    why: str
    sf: float = 0.01  # generated data scale, TPC-H style


WORKLOADS: dict[str, Workload] = {
    "loops_extract": Workload(
        {
            "lpa_membership_communities": "graph_loops",
            "infobox_person_details": "extract_pipeline",
        },
        "many small jobs: label propagation runs its checkpointed rounds while the "
        "plan is built, and infobox parsing runs in Python workers behind the Arrow seam",
    ),
    "joins_dedup": Workload(
        {
            "flagship_colleagues_interval": "pair_joins",
            "current_colleague_customers": "pair_joins",
            "salted_event_enrichment": "pair_joins",
            "minhash_near_dup_docs": "dedup_text",
        },
        "self-joins deriving about 45k colleague pairs, a salted skew join, and MinHash "
        "hashing on executor CPU; at this scale plan build costs about as much as the action",
    ),
}
