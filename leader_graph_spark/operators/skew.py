"""Skew mitigation operators: salted aggregation and salted join.

AQE's skew-join splitting (enabled in ``session.py``) handles most
runtime skew in joins, but a skewed *aggregation* key — five event
types over billions of rows, one mega-school in the interval joins —
still funnels every row of the hot key through one reduce task. The
classic fix is salting: spread each key over ``n_salts`` sub-keys,
partially aggregate, then combine. Results are identical to the
unsalted groupBy for algebraic aggregates (sum/count/min/max are
associative+commutative, and DECIMAL sums are order-exact), so the
plain GROUP BY is the oracle.

The same trick for joins replicates the small side once per salt so a
salted big side still meets every match — the manual fallback for
engines/paths where AQE's automatic splitting can't kick in (e.g.
shuffle-hash aggregation, pre-Spark-3 clusters, bucketed tables).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    salt_source: str,
    n_salts: int = 16,
    sum_cols: Sequence[str] = (),
    count: bool = True,
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-stage aggregation over salted keys.

    Stage 1 groups by (group_cols…, salt) — the hot key's rows spread
    over ``n_salts`` reduce tasks; stage 2 combines the ≤ n_salts
    partial rows per key (trivially small). ``salt_source`` is any
    roughly-uniform column (a row id); the salt is ``pmod(xxhash64(…),
    n_salts)``, deterministic so reruns partition identically. Output:
    group_cols + ``sum_<c>``/``n_rows``/``min_<c>``/``max_<c>``.
    Averages = ``sum_<c> / n_rows`` downstream; non-algebraic
    aggregates (medians, collect_list) cannot be salted this way.
    """
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_source), F.lit(n_salts)))
    partial_aggs = (
        [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
        + ([F.count(F.lit(1)).alias("n_rows")] if count else [])
        + [F.min(c).alias(f"min_{c}") for c in min_cols]
        + [F.max(c).alias(f"max_{c}") for c in max_cols]
    )
    partial = salted.groupBy(*group_cols, "__salt").agg(*partial_aggs)
    final_aggs = (
        [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
        + ([F.sum("n_rows").alias("n_rows")] if count else [])
        + [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
        + [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
    )
    return partial.groupBy(*group_cols).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    *,
    key: str,
    n_salts: int = 16,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big`` has skewed keys: salt the big side,
    replicate the small side once per salt value, join on (key, salt).

    Each big row carries exactly one salt, each small row exists under
    every salt, so every (big, small) match survives exactly once —
    identical results to the plain join, but the hot key's rows land in
    ``n_salts`` shuffle partitions instead of one. Cost: small side
    shuffles n_salts×, so keep it for genuinely skewed big sides where
    the small side is modest (else broadcast it and skip salting).

    ``salt_source`` must vary per ROW (a row id) — salting by the join
    key itself would put the whole hot key under one salt again; when
    omitted, a per-row id is synthesized.

    Only ``inner`` and ``left`` are supported: the small side is
    replicated once per salt, so right/full outer joins would emit each
    UNMATCHED small-side row n_salts times (matched rows are fine).
    Flip the operands (skew lives on the probe side anyway) or dedup
    unmatched rows before reaching for an outer form.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "replicating the small side would duplicate unmatched rows "
            "under right/full outer semantics"
        )
    big_s = (
        big.withColumn("__salt", F.pmod(F.xxhash64(salt_source), F.lit(n_salts)))
        if salt_source
        else big.withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
        )
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>"))
    )
    return big_s.join(small_s, [key, "__salt"], how).drop("__salt")


def distinct_sketches(
    df: DataFrame, *, keys: Sequence[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HLL sketches for HOLISTIC distinct-count maintenance —
    the route an algebraic state merge can't take (COUNT DISTINCT is
    not algebraic: distinct sets don't add).

    Each partition of history (a day, an ingest batch) aggregates once
    into a ``hll_sketch_agg`` binary; sketches then merge in any order
    via :func:`merge_distinct_sketches` without rescanning history —
    the incremental form of the 100 TB distinct-users metric table.
    Estimates are deterministic for identical input sets, and
    merge-then-estimate tracks the estimate-of-union within ~2% (HLL
    register merge is a pointwise max, but DataSketches unions promote
    through HLL_8, so re-encoded registers can estimate a few counts
    apart from the direct aggregation), asserted in tests."""
    return df.groupBy(*keys).agg(
        F.expr(f"hll_sketch_agg({value_col}, {lg_k})").alias("sketch")
    )


def merge_distinct_sketches(*sketch_frames: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union per-partition sketch tables and merge per key: returns
    (keys…, n_distinct_est). The shuffle carries one ≤2^lg_k-register
    sketch per (partition, key), never raw ids."""
    it = iter(sketch_frames)
    union = next(it)
    for f in it:
        union = union.unionByName(f)
    return union.groupBy(*keys).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("n_distinct_est")
    )


def apply_retractable_delta(
    state: DataFrame,
    changes: DataFrame,
    current: DataFrame,
    *,
    keys: list[str],
    value_col: str,
    weight_col: str = "w",
) -> DataFrame:
    """Maintain per-key (n, total, min_v, max_v) under INSERTS *and*
    DELETES — the retraction half an insert-only state merge cannot
    express.

    ``changes`` carries ``weight_col`` = +1 (insert) / −1 (delete).
    Count and sum retract algebraically (weighted sums); min/max do
    NOT — deleting the current minimum needs the runner-up, which the
    aggregate already discarded. So: groups touched by at least one
    delete are DIRTY and recompute their min/max from ``current`` (the
    post-change base relation, probed only for dirty keys — at 100 TB
    this is the crucial asymmetry: the common insert-mostly stream
    never rescans anything, and a delete rescans ONE group's rows, not
    history); insert-only groups merge algebraically. n/total always
    merge algebraically (exact either way).

    Groups whose count reaches 0 drop out (a fully-deleted group must
    disappear, not linger as a zero row).
    """
    w = F.col(weight_col)
    delta = changes.groupBy(*keys).agg(
        F.sum(w).alias("_dn"),
        F.sum(w * F.col(value_col)).alias("_dtotal"),
        F.max(F.when(w < 0, 1).otherwise(0)).alias("_has_delete"),
        F.min(F.when(w > 0, F.col(value_col))).alias("_ins_min"),
        F.max(F.when(w > 0, F.col(value_col))).alias("_ins_max"),
    )
    merged = (
        state.join(delta, keys, "full")
        .select(
            *keys,
            (F.coalesce("n", F.lit(0)) + F.coalesce("_dn", F.lit(0))).alias("n"),
            (F.coalesce("total", F.lit(0)) + F.coalesce("_dtotal", F.lit(0))).alias("total"),
            F.least(F.col("min_v"), F.col("_ins_min")).alias("_clean_min"),
            F.greatest(F.col("max_v"), F.col("_ins_max")).alias("_clean_max"),
            F.coalesce("_has_delete", F.lit(0)).alias("_has_delete"),
        )
        .where(F.col("n") > 0)
    )
    dirty_keys = merged.where(F.col("_has_delete") == 1).select(*keys)
    recomputed = (
        current.join(dirty_keys, keys, "left_semi")
        .groupBy(*keys)
        .agg(F.min(value_col).alias("_rec_min"), F.max(value_col).alias("_rec_max"))
    )
    return (
        merged.join(recomputed, keys, "left")
        .select(
            *keys,
            "n",
            "total",
            F.when(F.col("_has_delete") == 1, F.col("_rec_min"))
            .otherwise(F.col("_clean_min"))
            .alias("min_v"),
            F.when(F.col("_has_delete") == 1, F.col("_rec_max"))
            .otherwise(F.col("_clean_max"))
            .alias("max_v"),
        )
    )
