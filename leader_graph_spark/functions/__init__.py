from leader_graph_spark.functions import scalar

__all__ = ["scalar"]
