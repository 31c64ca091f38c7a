"""Deterministic sampling operators for training-data curation.

``df.sample()`` is engine- and partitioning-dependent (seeded per
partition), so two runs over differently-partitioned copies of the
same data disagree — useless for reproducible dataset releases. These
operators derive membership from a hash of the ROW KEY instead: any
engine, any partitioning, same sample. Same principle as the
md5-bucket train/val/test split (``plans/text_queries.py:doc_hash_split``),
extended to per-stratum quotas and weighted sampling.

- :func:`stratified_sample_exact` — exactly ⌈n_s × fraction⌉ rows per
  stratum, chosen by hash rank. One window per stratum partition; at
  scale this is a single shuffle on the stratum key, and a skewed
  stratum is still one partition's sort (use the salted count path if
  a stratum alone exceeds an executor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HASH_MOD = 1_000_000


def _hash_bucket(key_col: str, salt: str) -> "F.Column":
    """Uniform bucket in [0, 1e6) from md5(salt|key) — reproducible in
    any engine with md5 + hex arithmetic (cf. doc_hash_split)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _HASH_MOD


def stratified_sample_exact(
    df: DataFrame,
    *,
    strata_col: str,
    key_col: str,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """Exact per-stratum quota sample: rank rows inside each stratum by
    (hash, key) and keep the first ⌈count × fraction⌉.

    The hash order makes the choice deterministic and unbiased w.r.t.
    any data ordering; the key tie-break makes it total. Rank order is
    the md5 hex STRING (lexicographic — identical in every engine, no
    hex-to-int arithmetic needed). Equivalent SQL (the oracle form):
    row_number() and count() windows over the stratum partition,
    filtered on rank ≤ ceil(cnt × fraction)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string")))
    w_rank = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    w_all = Window.partitionBy(strata_col)
    return (
        df.withColumn("_rk", F.row_number().over(w_rank))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .filter(F.col("_rk") <= F.ceil(F.col("_n") * fraction))
        .drop("_rk", "_n")
    )


def mixture_resample(
    df: DataFrame,
    *,
    stratum_col: str,
    key_col: str,
    target_shares: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic source-mixture resampling (the data-mixing knob of
    a pretraining pipeline): rescale each stratum toward a target share
    of the output while keeping total size ≈ N. Each stratum gets
    ``factor = target_share × N / n_stratum``; over-represented strata
    downsample (fractional hash-acceptance), under-represented ones
    repeat — integer epochs plus a fractional hash-accepted extra copy,
    the Pile-style epochs table computed from the data itself.

    ``n_copies = floor(factor) + (bucket < floor(frac(factor) × 1e6))``
    with the bucket the md5-uniform of (salt|key) — deterministic under
    any partitioning, append-stable, reproducible in any engine.

    Scale design: the per-stratum factor table is an aggregate of a few
    rows, broadcast-joined back; the copy decision is then pure
    map-side. Consumers materialize repeats with
    ``explode(sequence(1, n_copies))`` (rows with 0 copies drop out).

    Output: (key, stratum, mix_factor, n_copies). Strata absent from
    ``target_shares`` get factor 0.
    """
    counts = df.groupBy(F.col(stratum_col).alias("_st")).agg(
        F.count(F.lit(1)).alias("_n_s")
    )
    total = counts.agg(F.sum("_n_s").alias("_n"))
    shares = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in target_shares.items()], "_st string, _share double"
    )
    factors = (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(shares), "_st", "left")
        .select(
            "_st",
            (F.coalesce("_share", F.lit(0.0)) * F.col("_n") / F.col("_n_s")).alias(
                "_factor"
            ),
        )
    )
    frac = F.col("_factor") - F.floor("_factor")
    return (
        df.join(F.broadcast(factors), F.col(stratum_col) == F.col("_st"))
        .select(
            F.col(key_col).alias("key"),
            F.col(stratum_col).alias("stratum"),
            F.round("_factor", 6).alias("mix_factor"),
            (
                F.floor("_factor")
                + F.when(
                    _hash_bucket(key_col, salt) < F.floor(frac * _HASH_MOD), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("int")
            .alias("n_copies"),
        )
    )


def weighted_sample_topk(
    df: DataFrame,
    *,
    strata_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): per stratum, keep the ``k`` rows with the smallest
    exponential key ``-ln(u)/w`` — each row's inclusion probability is
    proportional to its weight, and because ``u`` is the md5-uniform of
    (salt|key) rather than an RNG draw, the sample is identical under
    any engine, partitioning, or row order (the same reproducibility
    contract as the other samplers here; Spark's ``sampleBy`` offers
    neither weights nor stability).

    One pass: the key is map-side arithmetic; the per-stratum top-k is
    a row_number window — one shuffle on the stratum. For a global
    (unstratified) top-k prefer ``orderBy(key).limit(k)`` so Spark
    plans TakeOrderedAndProject instead of a single-partition window.

    Weights must be > 0 (guard-filtered; a zero weight would make the
    key +inf, i.e. never sampled anyway).
    """
    u = (_hash_bucket(key_col, salt) + F.lit(0.5)) / F.lit(float(_HASH_MOD))
    aes = -F.log(u) / F.col(weight_col)
    w = Window.partitionBy(strata_col).orderBy(F.asc("_aes"), F.asc(key_col))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_aes", aes)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(*df.columns, F.col("_rk").cast("int").alias("rk"))
    )


def domain_capped_sample(
    df: DataFrame,
    *,
    domain_col: str,
    key_col: str,
    max_per_domain: int,
    salt: str = "domain-cap",
) -> DataFrame:
    """Per-domain contribution cap: keep at most ``max_per_domain``
    rows per domain, chosen by deterministic hash rank (hash asc, key
    tie-break) — the anti-domination step every web-corpus release
    runs so one crawl-heavy domain cannot own the training mix (the
    same failure mode mixture_resample fixes at the SOURCE level,
    enforced here at domain granularity).

    Scale shape: one shuffle on the domain key and a per-domain top-K
    window — identical to :func:`stratified_sample_exact`'s plan, and
    like it, a domain hot enough to dwarf an executor shows up first
    in ``lineitem_key_skew_report``'s log2 histogram (cap the probe
    with salted counts before sorting in that regime). Hash order
    makes the survivors stable under repartitioning AND append-stable
    in expectation (a new row evicts at most one old row per domain).

    Output: input rows + ``domain_rank`` (1-based hash rank within the
    domain) for auditability."""
    w = Window.partitionBy(domain_col).orderBy(
        _hash_bucket(key_col, salt), F.col(key_col)
    )
    return (
        df.withColumn("domain_rank", F.row_number().over(w))
        .where(F.col("domain_rank") <= max_per_domain)
    )


def dsir_importance_scores(
    df: DataFrame,
    target: DataFrame | None = None,
    *,
    key_col: str,
    text_col: str,
    n_buckets: int = 256,
    salt: str = "dsir",
    target_filter: Column | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), integer-exact variant: score every raw document by how much
    its hashed unigram features look like a small TARGET corpus
    relative to the raw corpus, then keep the top-scoring slice.

    Feature model: words hash into ``n_buckets`` md5 buckets (engine-
    portable, cf. ``_hash_bucket``); the per-bucket corpus counts give
    log-likelihood ratios. To stay hash-deterministic across engines
    the log is the INTEGER bit-length approximation the repo already
    uses for the skew histogram (floor(log2(n+1)) = len(bin(n+1))−1 —
    exact integer arithmetic, no libm ulp risk):

        score(doc) = Σ_tokens [ blen(tgt_count[b]+1) − blen(raw_count[b]+1) ]

    A doc whose tokens concentrate in buckets the target corpus uses
    heavily scores high. This is a coarsened DSIR (log base 2,
    rounded down) — the ORDERING it induces is the product the
    pipeline consumes, and it is bit-reproducible.

    Scale shape: both count tables are ≤ n_buckets rows (map-side
    combinable group-bys) and BROADCAST as a join against the exploded
    token stream; the score aggregates keyed by doc id — no shuffle of
    the corpus beyond the per-doc combine. Output: (key, n_tokens,
    dsir_score).

    ``target_filter`` (r11): when the target corpus is a ROW PREDICATE
    on ``df`` itself — every current caller passes
    ``df.where(lang = 'en')`` — hand the predicate in instead of a
    second frame: the raw and target bucket counts then fold in ONE
    combined aggregation over ONE token stream, cutting the corpus
    tokenize+md5 passes from three to two (the dominant CPU of the
    DSIR lanes). Counts, LUT, and scores are bit-identical: the fused
    ``count_if(pred)`` is exactly the separate pass's per-bucket
    target count, and a subset target can never populate a bucket the
    raw side misses (the full-outer's raw-null arm is dead for
    predicate targets). Exactly one of ``target`` / ``target_filter``
    must be given; the two-frame form stays for disjoint corpora."""
    from leader_graph_spark.operators.dedup import tokens

    if (target is None) == (target_filter is None):
        raise ValueError(
            "dsir_importance_scores: pass exactly one of target / target_filter"
        )

    def bucketed(frame: DataFrame, flag: Column | None = None) -> DataFrame:
        cols = [F.col(key_col), F.explode(tokens(text_col)).alias("tok")]
        if flag is not None:
            cols.insert(1, flag.alias("_tgt"))
        toks = frame.select(*cols).where(F.col("tok") != "")
        h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col("tok")))
        return toks.withColumn(
            "bucket",
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_buckets,
        )

    def blen(col):
        # floor(log2(n+1)) as integer bit length — engine-portable
        return (F.length(F.bin(col + 1)) - 1).cast("bigint")

    raw_toks = bucketed(df, flag=target_filter)
    if target_filter is not None:
        lut = (
            raw_toks.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("raw_n"),
                F.count(F.when(F.col("_tgt"), F.lit(1))).alias("tgt_n"),
            )
            .select("bucket", (blen(F.col("tgt_n")) - blen(F.col("raw_n"))).alias("bucket_score"))
        )
    else:
        raw_counts = raw_toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("raw_n"))
        tgt_counts = (
            bucketed(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("tgt_n"))
        )
        lut = (
            raw_counts.join(tgt_counts, "bucket", "full")
            .select(
                "bucket",
                (blen(F.coalesce("tgt_n", F.lit(0))) - blen(F.coalesce("raw_n", F.lit(0))))
                .alias("bucket_score"),
            )
        )
    return (
        raw_toks.join(F.broadcast(lut), "bucket")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("bucket_score").cast("bigint").alias("dsir_score"),
        )
    )
