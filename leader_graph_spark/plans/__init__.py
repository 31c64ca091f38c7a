"""Query registry — importing this package registers every query."""

from leader_graph_spark.plans.registry import REGISTRY, QuerySpec, bench_queries, query

# Import for side effect: each module registers its queries.
from leader_graph_spark.plans import (  # noqa: E402,F401
    analytics_queries,
    dedup_queries,
    graph_queries,
    pipeline_queries,
    relational,
    similarity_queries,
    streaming_queries,
    text_queries,
    warehouse_queries,
)
from leader_graph_spark.plans import mlprep_queries  # noqa: E402,F401

# Round-4 additions: file-boundary round-trip queries (S1/S4/K3/K4/S6
# made oracle-visible), retrieval/matching (BM25, fuzzy pairs, link
# prediction), and statistical profiling (regression, IQR fences).
from leader_graph_spark.plans import boundary_queries  # noqa: E402,F401
from leader_graph_spark.plans import retrieval_queries  # noqa: E402,F401
from leader_graph_spark.plans import stats_queries  # noqa: E402,F401
from leader_graph_spark.plans import behavior_queries  # noqa: E402,F401
from leader_graph_spark.plans import dq_queries  # noqa: E402,F401

__all__ = ["REGISTRY", "QuerySpec", "bench_queries", "query"]
