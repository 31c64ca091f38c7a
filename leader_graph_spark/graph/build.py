"""Property-graph construction as plain DataFrames.

The reference materializes Person/Organization nodes and typed edges
into Neo4j row-at-a-time (``src/mysql2neo4j.py:542-600,628-698``). Here
the graph IS two DataFrames — vertices with an ``id`` column and edges
with ``src``/``dst``/``relationship`` (the GraphFrames convention) —
built by batch joins/unions, never per-row round trips. Derived
relationships (the analytical workload) live in ``graph.derived``.

Entity mapping onto the synthetic star schema:
  Person        → customer / supplier (md5 content keys, F1)
  Organization  → nation (level 1) / region (level 2 parent)
  BELONGS_TO    → nation→region hierarchy (J2)
  WORKS_FOR     → customer→nation membership (J10)
  SUPPLIES_TO   → supplier→nation derived through the fact table
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.functions.scalar import md5_key
from leader_graph_spark.sources.tables import join_dim, load_table


def build_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nodes in one DataFrame: id (md5 content key), label, name,
    natural_key. Mirrors the reference's node imports
    (``src/mysql2neo4j.py:572-590,630-669``) as a single union."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    parts = [
        customer.select(
            md5_key(F.lit("customer"), "c_name").alias("id"),
            F.lit("Person").alias("label"),
            F.col("c_name").alias("name"),
            F.col("c_custkey").cast("bigint").alias("natural_key"),
        ),
        supplier.select(
            md5_key(F.lit("supplier"), "s_name").alias("id"),
            F.lit("Person").alias("label"),
            F.col("s_name").alias("name"),
            F.col("s_suppkey").cast("bigint").alias("natural_key"),
        ),
        nation.select(
            md5_key(F.lit("nation"), "n_name").alias("id"),
            F.lit("Organization").alias("label"),
            F.col("n_name").alias("name"),
            F.col("n_nationkey").cast("bigint").alias("natural_key"),
        ),
        region.select(
            md5_key(F.lit("region"), "r_name").alias("id"),
            F.lit("Organization").alias("label"),
            F.col("r_name").alias("name"),
            F.col("r_regionkey").cast("bigint").alias("natural_key"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def belongs_to_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BELONGS_TO hierarchy pairs (src = nation, dst = region), md5
    vertex ids; the region is looked up as a dimension
    (:func:`join_dim`)."""
    nation = load_table(spark, sf_dir, "nation")
    return join_dim(nation, "n_regionkey", sf_dir, "region", "r_regionkey", ["r_name"]).select(
        md5_key(F.lit("nation"), "n_name").alias("src"),
        md5_key(F.lit("region"), "r_name").alias("dst"),
    )


def works_for_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORKS_FOR membership pairs (src = customer, dst = nation), md5
    vertex ids, with the customer's ``c_custkey``; the nation is looked
    up as a dimension (:func:`join_dim`)."""
    customer = load_table(spark, sf_dir, "customer")
    return join_dim(customer, "c_nationkey", sf_dir, "nation", "n_nationkey", ["n_name"]).select(
        md5_key(F.lit("customer"), "c_name").alias("src"),
        md5_key(F.lit("nation"), "n_name").alias("dst"),
        "c_custkey",
    )


def build_membership_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static edges: BELONGS_TO hierarchy + WORKS_FOR membership.
    src/dst are the md5 vertex ids; relationship is the edge type."""
    return belongs_to_edges(spark, sf_dir).withColumn(
        "relationship", F.lit("BELONGS_TO")
    ).unionByName(
        works_for_edges(spark, sf_dir).select(
            "src", "dst", F.lit("WORKS_FOR").alias("relationship")
        )
    )
