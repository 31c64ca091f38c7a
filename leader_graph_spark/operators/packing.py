"""Sequence packing — grouping documents into fixed token budgets.

LLM pre-training consumes fixed-length sequences; feeding one short
document per sequence wastes most of the context window, so pipelines
PACK documents: concatenate whole documents into groups whose token
total approaches a budget (e.g. 4096). Two distributed forms:

- :func:`pack_by_cumsum` — deterministic contiguous packing in a total
  key order: pack_id = floor(preceding_cumsum / budget). One window
  over one sort; a pack can overshoot the budget by at most one
  document (the straddler starts the next pack's count but stays in
  its floor-assigned pack). Fully expressible in ANSI SQL → the
  oracle-checked form, and the one to use at 100 TB (a single shuffle
  by the sort key; no state, no driver loop).
- :func:`pack_greedy_partitions` — exact no-overflow next-fit packing
  per partition via ``applyInPandas``: packs never exceed the budget
  (oversized documents get a singleton pack). Pack numbering is
  md5-derived and the per-group sequential state is reproducible by a
  recursive-CTE oracle (``greedy_packs_no_overflow``), so this form is
  fully value-checked too — its scale cost vs cumsum packing is the
  per-group single-threaded pass.

Both keep documents whole; chunk-splitting long documents is the
upstream truncation step, not packing's job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pack_by_cumsum(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    budget: int,
    order_col: str | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Contiguous packing: documents in ``order_col`` order (default:
    ``id_col``, must be a total order) are assigned
    ``pack_id = floor(tokens_before / budget)``. The order key must
    also be non-null: a wide input (columns beyond the packer's own)
    gets its assignment back through an equi-join on the key, which
    drops rows whose key is null.

    A bare ``Window.orderBy`` prefix sum would move EVERY row to one
    reducer — the classic global-window trap — so this runs the
    distributed two-phase form instead: range-partition by the sort
    key, prefix-sum within each partition, then add each partition's
    carry-in offset (the per-partition totals are one row per
    partition — metadata-sized — aggregated once and joined back via
    broadcast). Identical output to the naive form at any partition
    count; scales as an ordinary sort. Output adds ``pack_id`` and
    ``pack_offset`` (the document's token start inside its pack run).
    """
    order = order_col or id_col
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Materialize the input once (r10 optimization): repartitionByRange
    # executes its child an extra time for the range-boundary sampling
    # pass, and the carry-broadcast subtree below references the ranged
    # stream a second time — left lazy, the caller's upstream pipeline
    # (for corpus_release_manifest, the whole curation-verdict chain)
    # runs 2-3x per query. The checkpoint must stay metadata-sized: a
    # WIDE caller frame (e.g. carrying document text) would otherwise
    # be pinned in executor storage for the session at plan-build time
    # (ADVICE r10). Narrow inputs — every current caller — checkpoint
    # as-is; wide inputs checkpoint only the packer's own columns and
    # re-attach the assignment through the total-order key, paying one
    # extra pass of the caller's pipeline instead of resident blobs.
    needed = list(dict.fromkeys([order, id_col, token_col]))
    extra = [c for c in df.columns if c not in needed]
    wide_src = df if extra else None
    df = df.select(*needed).localCheckpoint() if extra else df.localCheckpoint()
    ranged = df.repartitionByRange(n, F.col(order)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum(token_col).over(w_local), F.lit(0)).cast("bigint")
    # Carry-in per partition: exclusive prefix sum of partition totals.
    # n rows total — broadcast back onto the data.
    totals = ranged.groupBy("_pid").agg(F.sum(token_col).cast("bigint").alias("_ptotal"))
    w_carry = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = totals.select(
        "_pid", F.coalesce(F.sum("_ptotal").over(w_carry), F.lit(0)).alias("_carry")
    )
    before = (F.col("_carry") + local_before).alias("_before")
    assigned = (
        ranged.join(F.broadcast(carry), "_pid")
        .select(
            *[c for c in df.columns],
            (before.cast("bigint") / budget).cast("bigint").alias("pack_id"),
            F.pmod(before.cast("bigint"), F.lit(budget)).alias("pack_offset"),
        )
    )
    if wide_src is None:
        return assigned
    # Wide caller: hand the (order-key -> pack) assignment back to the
    # original frame. ``order`` is a total order by contract, so the
    # equi-join is 1:1 and the output multiset matches the narrow form.
    return wide_src.join(
        assigned.select(order, "pack_id", "pack_offset"), order
    ).select(
        *wide_src.columns,
        "pack_id",
        "pack_offset",
    )


_PACK_SCHEMA_SUFFIX = [
    T.StructField("pack_id", T.LongType()),
    T.StructField("pack_tokens", T.LongType()),
]


def pack_greedy_partitions(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    budget: int,
    partition_col: str,
) -> DataFrame:
    """Exact next-fit packing within each ``partition_col`` group:
    documents stream in id order, the single open pack closes when the
    next document would overflow ``budget``. No pack exceeds the budget
    unless a single document alone does (it becomes a singleton pack).

    Pack ids are ``hash_prefix × 2^32 + local_counter`` so they are
    globally unique without cross-partition coordination — the pattern
    for any per-group id assignment at scale."""
    out_schema = T.StructType(list(df.schema.fields) + _PACK_SCHEMA_SUFFIX)

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        base = (
            int.from_bytes(
                hashlib.md5(repr(tuple(key)).encode()).digest()[:4], "big"
            )
            & 0x7FFFFFFF
        ) << 32
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        local, used = 0, 0
        first = True
        pack_ids, pack_used = [], []
        for tok in pdf[token_col]:
            tok = int(tok)
            if not first and used + tok > budget:
                local += 1
                used = 0
            first = False
            used += tok
            pack_ids.append(base + local)
            pack_used.append(used)
        return pdf.assign(pack_id=pack_ids, pack_tokens=pack_used)

    return df.groupBy(partition_col).applyInPandas(pack, out_schema)


def length_bucketed_batches(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    bucket_width: int,
    batch_size: int,
) -> DataFrame:
    """Dynamic-batching prep: assign each document to a LENGTH BUCKET
    (floor(tokens / bucket_width)) and, within the bucket, to a fixed
    ``batch_size`` batch in (tokens, id) order.

    Why buckets: a training/inference loader pads every sequence in a
    batch to the batch maximum, so batching randomly-ordered documents
    wastes ~(max−mean)/max of the compute; batching within narrow
    length buckets bounds padding per row at ``bucket_width − 1``
    tokens. This emits the assignment (doc → bucket, batch_idx,
    position) — :func:`padding_report` aggregates the waste.

    Scale shape: the bucket key is map-side arithmetic; ONE hash
    exchange by bucket feeds the per-bucket sort window, and every
    downstream per-(bucket, batch) aggregation reuses that
    partitioning (bucket partitioning co-locates (bucket, batch)), so
    the whole pipeline is a single shuffle. Buckets are balanced by
    construction — width is fixed, so a skewed length distribution
    spreads over more buckets rather than growing one partition
    (contrast partitioning by source/domain)."""
    bucket = F.floor(F.col(token_col) / F.lit(bucket_width)).alias("length_bucket")
    w = Window.partitionBy("length_bucket").orderBy(
        F.col(token_col), F.col(id_col)
    )
    rn = F.row_number().over(w)
    return df.select(F.col(id_col), F.col(token_col), bucket).select(
        "*",
        F.floor((rn - F.lit(1)) / F.lit(batch_size)).alias("batch_idx"),
        ((rn - F.lit(1)) % F.lit(batch_size)).alias("batch_pos"),
    )


def padding_report(batches: DataFrame, *, token_col: str) -> DataFrame:
    """Per-length-bucket padding economics for an assignment produced
    by :func:`length_bucketed_batches`: every batch pads its rows to
    the batch max, so ``padded_cells = Σ_batches max·rows`` and
    ``waste = padded_cells − Σ tokens``. All-integer output (waste in
    ppm of padded cells via exact floor division) so the oracle
    comparison never rests on float rounding."""
    per_batch = batches.groupBy("length_bucket", "batch_idx").agg(
        F.count(F.lit(1)).alias("rows"),
        F.max(token_col).alias("mx"),
        F.sum(token_col).alias("tok"),
    )
    return (
        per_batch.groupBy("length_bucket")
        .agg(
            F.sum("rows").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
            F.sum(F.col("mx") * F.col("rows")).cast("bigint").alias("padded_cells"),
        )
        .select(
            "length_bucket",
            "n_docs",
            "n_batches",
            "total_tokens",
            "padded_cells",
            F.expr(
                "CAST((1000000 * (padded_cells - total_tokens)) div padded_cells AS BIGINT)"
            ).alias("waste_ppm"),
        )
    )


def striped_shard_assignment(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    n_shards: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Token-balanced shard assignment for data-parallel training:
    documents in (tokens DESC, id) order are dealt onto ``n_shards``
    in serpentine rounds (0,1,…,n−1,n−1,…,1,0,…) — the classic
    longest-processing-time striping, which bounds the shard token
    spread by roughly one document of each size band instead of the
    O(n_docs/n_shards · spread) a hash split can reach on a skewed
    length distribution.

    The global rank is NOT a bare ``Window.orderBy`` (that moves every
    row to one reducer) but the same two-phase form as
    :func:`pack_by_cumsum`: range-partition by the sort key, count
    within each partition, add the per-partition carry-in (one
    metadata-sized row per partition, broadcast back). Scales as an
    ordinary sort. Output: input columns + ``shard``."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    order = [F.col(token_col).desc(), F.col(id_col)]
    ranged = df.repartitionByRange(n, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.count(F.lit(1)).over(w_local), F.lit(0))
    totals = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_ptotal"))
    w_carry = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    carry = totals.select(
        "_pid", F.coalesce(F.sum("_ptotal").over(w_carry), F.lit(0)).alias("_carry")
    )
    rank0 = (F.col("_carry") + local_before).cast("bigint")
    rnd = F.floor(rank0 / F.lit(n_shards))
    pos = F.pmod(rank0, F.lit(n_shards))
    shard = F.when(F.pmod(rnd, F.lit(2)) == 0, pos).otherwise(
        F.lit(n_shards - 1) - pos
    )
    return ranged.join(F.broadcast(carry), "_pid").select(
        *[c for c in df.columns], shard.cast("int").alias("shard")
    )
