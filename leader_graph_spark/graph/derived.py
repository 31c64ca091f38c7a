"""Derived-relationship edge builders — the reference's analytical core.

Reproduces the three Cypher derivation queries of
``src/mysql2neo4j.py:229-489`` as DataFrame joins with *exact* null
semantics:

- SAME_HOMETOWN (J3): group people by a shared attribute, all unordered
  pairs within a group (``:229-253``).
- SCHOOLMATES (J4): pairs through a shared school; ``atTheSameTime`` is
  three-valued logic collapsed to false when any year bound is missing
  (``:270-276``); missing start months count as January, missing end
  months as December (``:273-274``); overlap window via latest-start /
  earliest-end (``:280-311``); excluded school (``:265``).
- COLLEAGUES (J5 current / J6 historical): current pairs carry
  ``overlapPeriod='till now'`` (``:373-396``); historical pairs require
  all four date parts non-null on both sides (``:398-489``) and are the
  interval-overlap join (``operators.intervals``) over those rows.

Every builder pairs rows through ``operators.pairs.keyed_pairs``, whose
keys compare with SQL ``=``: a person whose group, school or org is
null pairs with no one, as in the reference's Cypher ``MATCH``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from leader_graph_spark.functions.scalar import format_period
from leader_graph_spark.operators.intervals import interval_overlap_self_join
from leader_graph_spark.operators.pairs import keyed_pairs

# skew_guarded_self_pairs: a group of more than PAIR_HOT_CAP rows is
# hot (cap² ≈ 10¹⁰ pair-ops is the single-task straggler knee) and its
# quadratic join cell is cut PAIR_SALT_BUCKETS ways. Both are read at
# call time; PAIR_SALT_BUCKETS must stay >= 1 (pmod(..., 0) is null and
# would drop every hot pair), and a cap of 0 salts every group.
PAIR_HOT_CAP = 100_000
PAIR_SALT_BUCKETS = 32


def skew_guarded_self_pairs(
    base: DataFrame,
    *,
    group_col: str,
    id_col: str,
    emit: Callable[[], list[Column]],
    ordered: bool = True,
) -> DataFrame:
    """All within-group row pairs, with a runtime HOT-KEY split
    (guide §2.5; VERDICT r10 item 3/next-4).

    The plain self-equi-join on ``group_col`` lands every pair of a
    group in ONE join task, so per-task work is quadratic in the
    group's fanout — one hot key at 100 TB parks the stage on a single
    core. The fanout bound is data, not plan, so the guard must be
    runtime-conditional (the ``fan_out`` discipline):

    - ``base`` is localCheckpointed once; the hot-count subtree and
      both join sides re-read the materialized rows instead of
      re-running the caller's upstream pipeline 3×.
    - Per-group fanout counts are aggregated (narrow: group key +
      count) and groups over ``PAIR_HOT_CAP`` rows are BROADCAST;
      the set is empty on bounded-fanout data, making the hot branch
      an AQE empty-relation no-op.
    - COLD groups take the original symmetric self-join: both sides
      are the identical subtree, so the one exchange is written once
      and read twice (ReuseExchange) — bytes unchanged vs. the
      unguarded form.
    - HOT groups are salted (§2.5): the left side keeps its own
      deterministic bucket ``pmod(xxhash64(id), k)`` (never rand() —
      retried map tasks must re-derive identical buckets,
      SPARK-38388), the right side explodes k ways, and the join key
      becomes (group, bucket): the quadratic cell is cut k ways
      (``PAIR_SALT_BUCKETS``).
      Replication is paid by hot rows only. Every (a, b) combination
      is matched exactly once — b appears once per bucket value and
      a's own bucket selects exactly one replica — so the
      cold ∪ hot union is the exact pair multiset of the plain join.

    ``emit() -> [Column]`` builds the output projection from the
    aliased sides ``a``/``b``; ``ordered=True`` keeps ``a.id < b.id``
    (each unordered pair once), ``False`` keeps ``a.id != b.id``
    (both directions).
    """
    k = PAIR_SALT_BUCKETS
    ck = base.localCheckpoint()
    hot = F.broadcast(
        ck.groupBy(F.col(group_col).alias("_hg"))
        .agg(F.count(F.lit(1)).alias("_hn"))
        .where(F.col("_hn") > PAIR_HOT_CAP)
        .select("_hg")
    )
    cold = ck.join(hot, ck[group_col] == hot["_hg"], "left_anti")
    cold_pairs = keyed_pairs(cold, [group_col], id_col, ordered=ordered).select(*emit())
    hot_rows = ck.join(hot, ck[group_col] == hot["_hg"], "left_semi")
    hl = hot_rows.withColumn("_pb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)))
    hr = hot_rows.withColumn(
        "_pb", F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(k - 1).cast("bigint")))
    )
    hot_pairs = keyed_pairs(hl, [group_col, "_pb"], id_col, other=hr, ordered=ordered).select(
        *emit()
    )
    return cold_pairs.unionByName(hot_pairs)


def same_group_pairs(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """J3: all unordered pairs within a non-null, non-empty group
    (``src/mysql2neo4j.py:229-253``). Dedup by ``id1 < id2``. The
    empty-string check runs on a string view of the column so numeric
    group keys work too."""
    base = df.filter(
        F.col(group_col).isNotNull() & (F.col(group_col).cast("string") != "")
    )
    out = [F.col(f"a.{group_col}").alias(group_col)]
    out += [F.col(f"a.{id_col}").alias(f"{id_col}_1"), F.col(f"b.{id_col}").alias(f"{id_col}_2")]
    for c in carry_cols:
        out += [F.col(f"a.{c}").alias(f"{c}_1"), F.col(f"b.{c}").alias(f"{c}_2")]
    return keyed_pairs(base, [group_col], id_col).select(*out)


def _months(year: Column, month: Column, default_month: int) -> Column:
    return year * 12 + F.coalesce(month, F.lit(default_month))


def schoolmate_edges(
    study: DataFrame,
    *,
    school_col: str = "school",
    id_col: str = "person_id",
    start_year: str = "start_year",
    start_month: str = "start_month",
    end_year: str = "end_year",
    end_month: str = "end_month",
    exclude_schools: Sequence[str] = (),
) -> DataFrame:
    """J4 SCHOOLMATES with reference-exact null semantics.

    Output: school, ``{id}_1``/``_2``, ``at_same_time`` (false — not
    null — when any year bound missing), ``overlap_period``
    (``YYYY.MM-YYYY.MM`` when at_same_time, else null).
    """
    base = study
    if exclude_schools:
        base = base.filter(~F.col(school_col).isin(list(exclude_schools)))

    def side(s: str) -> tuple[Column, Column, Column, Column]:
        sy, sm = F.col(f"{s}.{start_year}"), F.col(f"{s}.{start_month}")
        ey, em = F.col(f"{s}.{end_year}"), F.col(f"{s}.{end_month}")
        return _months(sy, sm, 1), _months(ey, em, 12), sy, ey

    def emit() -> list[Column]:
        a_start, a_end, a_sy, a_ey = side("a")
        b_start, b_end, b_sy, b_ey = side("b")
        bounds_present = (
            a_sy.isNotNull() & a_ey.isNotNull() & b_sy.isNotNull() & b_ey.isNotNull()
        )
        overlaps = (a_start <= b_end) & (b_start <= a_end)
        # Three-valued logic collapsed to false exactly as the reference
        # does when any year is missing (src/mysql2neo4j.py:270-276).
        at_same_time = F.when(bounds_present & overlaps, F.lit(True)).otherwise(
            F.lit(False)
        )
        period = F.when(
            at_same_time, format_period(F.greatest(a_start, b_start), F.least(a_end, b_end))
        )
        return [
            F.col(f"a.{school_col}").alias(school_col),
            F.col(f"a.{id_col}").alias(f"{id_col}_1"),
            F.col(f"b.{id_col}").alias(f"{id_col}_2"),
            at_same_time.alias("at_same_time"),
            period.alias("overlap_period"),
        ]

    # Hot-school fanout guard (r11): a school shared by c people emits
    # c²/2 pairs from one join task; see skew_guarded_self_pairs.
    return skew_guarded_self_pairs(
        base, group_col=school_col, id_col=id_col, emit=emit, ordered=True
    )


def current_colleague_edges(
    people: DataFrame,
    *,
    org_col: str,
    id_col: str,
    position_col: str | None = None,
) -> DataFrame:
    """J5 current colleagues: pairs through the shared current org,
    ``overlap_period='till now'`` (``src/mysql2neo4j.py:373-396``)."""
    carry = (position_col,) if position_col else ()
    pairs = same_group_pairs(people, group_col=org_col, id_col=id_col, carry_cols=carry)
    return pairs.withColumn("overlap_period", F.lit("till now"))


def historical_colleague_edges(
    work: DataFrame,
    *,
    org_col: str = "workplace",
    id_col: str = "person_id",
    start_year: str = "start_year",
    start_month: str = "start_month",
    end_year: str = "end_year",
    end_month: str = "end_month",
) -> DataFrame:
    """J6 historical colleagues: all four date parts must be non-null on
    both sides (``src/mysql2neo4j.py:404-409``), overlap on month
    scalars, formatted overlap window."""
    complete = work.filter(
        F.col(start_year).isNotNull()
        & F.col(start_month).isNotNull()
        & F.col(end_year).isNotNull()
        & F.col(end_month).isNotNull()
    )
    months = complete.select(
        org_col,
        id_col,
        (F.col(start_year) * 12 + F.col(start_month)).alias("start_m"),
        (F.col(end_year) * 12 + F.col(end_month)).alias("end_m"),
    )
    return interval_overlap_self_join(months, key_cols=[org_col], id_col=id_col).select(
        org_col,
        f"{id_col}_1",
        f"{id_col}_2",
        format_period(F.col("overlap_start"), F.col("overlap_end")).alias("overlap_period"),
    )
