"""As-of (temporal) join: for every left row, the most recent right row
with ``right_ts <= left_ts`` on the same key.

The reference never needs one (its career intervals are closed ranges,
``src/mysql2neo4j.py:398-489``), but any event-sourced training-data
pipeline does: "state as of this order", "last click before this
impression". Spark has no native ASOF JOIN, and the naive formulation
(equi-join on key + ``r.ts <= l.ts`` + row_number) materializes every
(left, earlier-right) pair before pruning — quadratic per key, fatal at
100 TB.

This implements the *union trick* instead: tag both sides, union them
into one (key, ts, side) stream, and carry the latest right payload
forward with ``last(ignorenulls)`` over an ordered window. One shuffle
on the key, linear work per partition, no pair blowup — the same shape
Flink uses for temporal joins and pandas for ``merge_asof``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Left as-of join, backward direction (latest right at-or-before).

    ``right`` must be unique per (key, ts) — pre-aggregate ties first
    (e.g. ``max_by``) or the carried payload is nondeterministic.
    Returns all ``left`` columns plus each payload column as
    ``asof_<name>`` (null when no right row precedes the left row).
    """
    l_struct = F.struct(*[F.col(c) for c in left.columns])
    r_struct = F.struct(*[F.col(c) for c in right_payload])
    l_type = left.select(*left.columns).schema.simpleString().removeprefix("struct")
    r_type = right.select(*right_payload).schema.simpleString().removeprefix("struct")

    # side=0 sorts right rows before left rows at equal ts → inclusive <=.
    tagged_r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(f"struct{l_type}").alias("__l"),
        r_struct.alias("__r"),
    )
    tagged_l = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        l_struct.alias("__l"),
        F.lit(None).cast(f"struct{r_type}").alias("__r"),
    )

    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = tagged_r.unionByName(tagged_l).withColumn(
        "__match", F.last("__r", ignorenulls=True).over(w)
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__match.{c}").alias(f"asof_{c}") for c in right_payload
    ]
    return merged.filter(F.col("__side") == 1).select(*out_cols)
