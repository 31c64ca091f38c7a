"""Interval-overlap self-join — the reference's flagship query shape.

The reference derives SCHOOLMATES / COLLEAGUES edges by self-joining
people through a shared key (school / workplace / current org) and
keeping pairs whose study/work intervals overlap, with the overlap
window computed as (latest start, earliest end) and pairs deduplicated
by id ordering (``src/mysql2neo4j.py:255-489``).

Semantics reproduced exactly:

- intervals are month-scalars (``year*12 + month``), with missing start
  months coalesced to January and missing end months to December
  (``src/mysql2neo4j.py:273-274,411-415``);
- overlap test ``s1.start <= s2.end AND s2.start <= s1.end``;
- overlap bounds via greatest(start)/least(end) (collapsing the
  reference's 24-line CASE ladders at ``src/mysql2neo4j.py:280-311``);
- pair dedup by ``id1 < id2`` (``src/mysql2neo4j.py:267,402``);
- keys compare with SQL ``=``, so a row whose key is null pairs with no
  row (the reference's ``MATCH`` and the flagship oracle's
  ``a.c_nationkey = b.c_nationkey``). Both joins build their pairs
  through ``operators.pairs.keyed_pairs``.

Scale design (100 TB): the naive equi-join on the shared key is correct
but a hot key (one giant school) produces O(n^2) pairs in a single
shuffle partition. ``interval_overlap_self_join_bucketed`` blocks each
interval into coarse month buckets and joins on (key, bucket), so a hot
key's pairs spread across many partitions and AQE's skew-join splitting
gets evenly sized work units; each candidate pair is emitted exactly
once by anchoring on the bucket that contains the later start.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from leader_graph_spark.operators.pairs import keyed_pairs


def _overlap_pairs(
    df: DataFrame,
    join_keys: Sequence[str],
    key_cols: Sequence[str],
    id_col: str,
    start_col: str,
    end_col: str,
    carry_cols: Sequence[str],
    anchor: Column | None = None,
) -> DataFrame:
    a_start, b_start = F.col(f"a.{start_col}"), F.col(f"b.{start_col}")
    a_end, b_end = F.col(f"a.{end_col}"), F.col(f"b.{end_col}")
    where = (a_start <= b_end) & (b_start <= a_end)
    if anchor is not None:
        where = where & anchor
    out_cols = [F.col(f"a.{k}").alias(k) for k in key_cols]
    out_cols += [
        F.col(f"a.{id_col}").alias(f"{id_col}_1"),
        F.col(f"b.{id_col}").alias(f"{id_col}_2"),
    ]
    for c in carry_cols:
        out_cols += [F.col(f"a.{c}").alias(f"{c}_1"), F.col(f"b.{c}").alias(f"{c}_2")]
    out_cols += [
        F.greatest(a_start, b_start).alias("overlap_start"),
        F.least(a_end, b_end).alias("overlap_end"),
    ]
    return keyed_pairs(df, join_keys, id_col, where=where).select(*out_cols)


def interval_overlap_self_join(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    id_col: str,
    start_col: str = "start_m",
    end_col: str = "end_m",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """All unordered pairs of rows sharing ``key_cols`` whose
    [start_col, end_col] month-scalar intervals overlap.

    Output columns: key_cols, ``{id_col}_1``/``_2``, carry cols suffixed
    ``_1``/``_2``, ``overlap_start`` / ``overlap_end`` month-scalars.
    """
    return _overlap_pairs(df, key_cols, key_cols, id_col, start_col, end_col, carry_cols)


def interval_overlap_self_join_bucketed(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    id_col: str,
    start_col: str = "start_m",
    end_col: str = "end_m",
    carry_cols: Sequence[str] = (),
    bucket_months: int = 120,
) -> DataFrame:
    """Skew-resistant variant: explode each interval into coarse
    month-range buckets, equi-join on (key..., bucket), then apply the
    exact overlap filter.

    Each overlapping pair is emitted exactly once, from the bucket that
    contains ``greatest(start_1, start_2)`` — both intervals necessarily
    cover that month, so the pair meets in that bucket, and the
    anchoring predicate rejects it in every other shared bucket. No
    post-hoc ``dropDuplicates`` (which would itself be a shuffle) is
    needed.
    """
    bucketed = df.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(start_col) / bucket_months).cast("long"),
                (F.col(end_col) / bucket_months).cast("long"),
            )
        ),
    )
    later_start = F.greatest(F.col(f"a.{start_col}"), F.col(f"b.{start_col}"))
    anchor = (later_start / bucket_months).cast("long") == F.col("a.__bucket")
    return _overlap_pairs(
        bucketed,
        [*key_cols, "__bucket"],
        key_cols,
        id_col,
        start_col,
        end_col,
        carry_cols,
        anchor,
    )


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_months: int = 1,
) -> DataFrame:
    """Generic RANGE JOIN: every (point, interval) pair with
    ``start <= point < end`` — the shape behind "orders inside promo
    windows", "events during an incident", "reading within a
    calibration period".

    Why not a plain BETWEEN join: a non-equi predicate gives Catalyst
    no join key, so it plans BroadcastNestedLoopJoin — O(|points|·
    |intervals|) comparisons, the first thing that dies at 100 TB.
    This bucketizes time instead: each interval EXPLODES to the month
    buckets it covers (bounded by interval length / bucket size — tiny
    for human-scale windows), each point maps to exactly ONE bucket,
    and the join is a plain equi-join on the bucket with the exact
    range predicate as a post-filter. No candidate pair is missed (a
    point inside an interval shares the interval's bucket covering it)
    and none duplicates (the point has one bucket).

    Shuffle = points keyed by an int bucket + the exploded intervals;
    with few intervals AQE broadcasts their explosion and the points
    never shuffle at all. Columns from both inputs are preserved
    (prefix-free names required).
    """
    mo = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    bucket = lambda c: F.floor(mo(c) / bucket_months)  # noqa: E731
    # Reversed intervals (end < start) can never satisfy the range
    # predicate, but Spark's sequence() would DESCEND through their
    # buckets and fan out garbage candidates — drop them before the
    # explode (semantics unchanged: the naive BETWEEN join also emits
    # nothing for them).
    iv = intervals.where(F.col(start_col) <= F.col(end_col)).withColumn(
        "__bucket",
        F.explode(F.sequence(bucket(F.col(start_col)), bucket(F.col(end_col)))),
    )
    pt = points.withColumn("__bucket", bucket(F.col(point_col)))
    exact = (F.col(start_col) <= F.col(point_col)) & (F.col(point_col) < F.col(end_col))
    return pt.join(iv, "__bucket").where(exact).drop("__bucket")
