"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; the bucketed
variants (sign-random-projection LSH, IVF coarse quantization) are the
100 TB scale path — they turn the all-pairs cross join into an
equi-join on bucket/centroid keys.

All float math is sequential-fold double arithmetic (``zip_with`` +
``aggregate``), which matches DuckDB's ``list_transform``+``list_sum``
evaluation order bit-for-bit, so cosine scores round-trip through the
oracle exactly (verified to 6 decimals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ann_lsh_topk sizes its two Arrow seams to at least this many rows per
# task, only ever below the default parallelism. With cores-sized tasks
# a few hundred rows each, 32 cores ran the lane slower than 8 (best of
# 5: 1.73 s against 1.07 s); at this size they ran alike (1.45 s against
# 1.41 s) and the lane's shuffle fell from 5.0 to 2.9 MB.
LSH_ROWS_PER_TASK = 4096


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-to-right fold dot product of two double arrays.

    Measured note: an unrolled ``0.0 + a[1]*b[1] + …`` element_at chain
    was tried and is ~2.5× SLOWER than this higher-order-function fold
    (the giant expression tree defeats codegen); the fold also matches
    DuckDB's list_sum evaluation order bit-for-bit, which the oracle
    parity relies on. ``dim`` is accepted for API stability and ignored."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def brute_force_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = 64,
) -> DataFrame:
    """Exact cosine top-k neighbors per vector via self cross-join.

    O(n²·d) — the correctness baseline; do NOT run at scale. The 100 TB
    entry points are :func:`ann_lsh_topk` (SRP-LSH buckets) and
    :func:`ann_ivf_topk` (inverted lists), measured against this for
    recall. The self-norm ``sqrt(v·v)`` is
    precomputed once per vector (same sequential fold → bit-identical
    to computing it per pair), so each pair costs one dot product
    instead of three. Ranking is on the rounded score with the neighbor
    id as tie-break, so results are deterministic and oracle-stable.
    Output: (id, neighbor_id, cosine_sim, rank)."""
    from leader_graph_spark.sources.tables import fan_out

    a = fan_out(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("na", F.sqrt(dot(F.col("va"), F.col("va"), dim)))
    b = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    ).withColumn("nb", F.sqrt(dot(F.col("vb"), F.col("vb"), dim)))
    scored = (
        a.join(b, F.col("id") != F.col("neighbor_id"))
        .select(
            "id",
            "neighbor_id",
            F.round(
                dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component i is derived
    from md5 so any engine (or the oracle) can reproduce it."""
    import hashlib

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"hp:{seed}:{i}".encode()).hexdigest()
        comps.append(int(h[:8], 16) / float(1 << 31) - 1.0)  # [-1, 1)
    return comps


def srp_lsh_buckets(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    parallelism: int | None = None,
) -> DataFrame:
    """Sign-random-projection bucket ids, OR-amplified across
    ``n_tables`` independent hash tables: within a table, bit p = sign
    of the dot product with a deterministic hyperplane. Output:
    (id, table, bucket) — one row per table per vector. Vectors sharing
    a bucket in ANY table are ANN candidates (AND within a table
    sharpens precision, OR across tables recovers recall — standard
    LSH amplification).

    Implemented as an Arrow-batched pandas UDF: all tables×planes
    projections are one numpy matmul per batch (measured ~2.5× faster
    than the expression-tree form, whose 64-literal plane arrays are
    re-built per row). Buckets feed an equi-join, so numpy's summation
    order is irrelevant to correctness — only signs are used."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [_hyperplane(t * 1000 + p, dim) for t in range(n_tables) for p in range(n_planes)]
    ).T  # dim × (tables·planes)
    weights = np.tile([1 << p for p in range(n_planes)], n_tables)
    id_field = emb.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # n × dim
            bits = (vecs @ planes) > 0  # n × (tables·planes)
            buckets = (bits * weights).reshape(len(pdf), n_tables, n_planes).sum(axis=2)
            ids = np.repeat(pdf[id_col].to_numpy(), n_tables)
            tables = np.tile(np.arange(n_tables), len(pdf))
            yield pd.DataFrame(
                {"id": ids, "table": tables, "bucket": buckets.reshape(-1)}
            )

    from leader_graph_spark.sources.tables import fan_out

    return fan_out(emb.select(id_col, vec_col), parallelism).mapInPandas(run, out_schema)


def scaled_lsh_params(
    n_rows: int, *, n_planes: int, n_tables: int, target_bucket: int
) -> tuple[int, int]:
    """Occupancy-targeted LSH sizing: derive (planes, tables) so the
    EXPECTED bucket size stays ≤ ``target_bucket`` as the corpus grows.

    With planes fixed, buckets-per-table is a constant 2^planes, so
    per-bucket occupancy — and the per-bucket verify work, which is
    quadratic in occupancy — grows quadratically with the corpus. The
    round-7 second-decade battery measured the consequence on
    ``ann_lsh_topk``: wall exponent 1.38 across 10×→30× at fixed
    (4, 4). The fix is the standard one: planes must track log2(n).

    planes' = max(n_planes, ceil(log2(n / target_bucket))) caps
    expected occupancy at ``target_bucket``; tables' = n_tables +
    2·(planes' − n_planes) adds two OR-amplification tables per extra
    AND bit to defend recall (full compensation would need
    exponentially many tables — LSH theory's ρ exponent — so this is
    a measured-recall knob, not an invariant). Calibration at the 10×
    replica (20k near-random vectors, full recall@5 vs brute force):
    one-table-per-bit at target 256 → (7,7), recall 0.29 — BELOW the
    registered query's 0.30 contract (caught by the 10× oracle
    replay); this formula at target 1024 → (5,6), recall 0.52 with
    the quadratic still capped. At the driver's verification scales
    the derivation returns the base (planes, tables) unchanged, so
    oracle hashes are stable by construction."""
    import math

    if n_rows <= target_bucket:
        return n_planes, n_tables
    planes = max(n_planes, math.ceil(math.log2(n_rows / target_bucket)))
    return planes, n_tables + 2 * (planes - n_planes)


def ann_lsh_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    target_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidate pairs = vectors sharing an SRP
    bucket in any of ``n_tables`` tables; exact cosine rank over the
    candidates. The candidate join is a plain equi-join on
    (table, bucket) — shuffles O(n·tables·avg_bucket) instead of the
    brute-force O(n²) cross join; recall/compute trades off via
    (n_planes, n_tables).

    ``target_bucket`` (the 100 TB knob): when set, (n_planes,
    n_tables) are re-derived from the corpus count via
    :func:`scaled_lsh_params` so expected bucket occupancy — the term
    the per-bucket gram verify is QUADRATIC in — stays capped as data
    grows; below ``target_bucket``·2^n_planes rows the explicit
    parameters are used unchanged. Costs one count() on the input.

    Verification is a per-bucket vectorized kernel (``applyInPandas``):
    each (table, bucket) group computes its normalized gram matrix with
    one BLAS matmul and emits only its in-bucket top-k per vector — a
    global top-k neighbor is by definition beaten by <k candidates
    globally, hence by <k within any shared bucket, so in-bucket top-k
    loses nothing. The shuffle carries n_tables·k rows per vector
    instead of every candidate pair."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n_rows = None
    if target_bucket is not None:
        n_rows = emb.count()
        n_planes, n_tables = scaled_lsh_params(
            n_rows,
            n_planes=n_planes,
            n_tables=n_tables,
            target_bucket=target_bucket,
        )
    # Arrow-seam task sizing (r11, guide §2.2/§4.2): with a cores-sized
    # task count, a small corpus hands each Python worker a few hundred
    # rows — per-task Arrow stream setup dominates and 32 cores run
    # SLOWER than 8 (PERF_r10 scaling ratio 0.63 on this lane). When the
    # corpus count is already observed (the target_bucket path — no new
    # action), size the seams to ≥ LSH_ROWS_PER_TASK rows per task and
    # only ever SHRINK below the default parallelism: a corpus past
    # cores × LSH_ROWS_PER_TASK rows keeps today's plan unchanged.
    default_par = emb.sparkSession.sparkContext.defaultParallelism
    hash_par = None
    if n_rows is not None:
        hash_par = max(1, min(default_par, -(-n_rows // LSH_ROWS_PER_TASK)))
    buckets = srp_lsh_buckets(
        emb, id_col=id_col, vec_col=vec_col, n_planes=n_planes, n_tables=n_tables,
        dim=dim, parallelism=hash_par,
    )
    vecs = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    joined = buckets.join(vecs, buckets.id == vecs.vid).select("table", "bucket", "id", "v")
    if n_rows is not None:
        verify_par = max(1, min(default_par, -(-n_rows * n_tables // LSH_ROWS_PER_TASK)))
        if verify_par < default_par:
            # pre-key the verify exchange at the derived width; the
            # per-bucket applyInPandas reuses this partitioning, so it
            # replaces (not adds to) the default cores-wide exchange
            joined = joined.repartition(verify_par, "table", "bucket")

    out_schema = T.StructType(
        [
            T.StructField("id", joined.schema["id"].dataType),
            T.StructField("neighbor_id", joined.schema["id"].dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id": [], "neighbor_id": [], "cosine_sim": []}).astype(
                {"id": pdf["id"].dtype, "neighbor_id": pdf["id"].dtype, "cosine_sim": float}
            )
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        norms = np.sqrt((V * V).sum(axis=1))
        S = (V @ V.T) / np.outer(norms, norms)
        np.fill_diagonal(S, -np.inf)
        kk = min(k, n - 1)
        nbr = np.argpartition(-S, kth=kk - 1, axis=1)[:, :kk]
        rows = np.arange(n)[:, None].repeat(kk, axis=1)
        return pd.DataFrame(
            {
                "id": ids[rows.ravel()],
                "neighbor_id": ids[nbr.ravel()],
                "cosine_sim": np.round(S[rows.ravel(), nbr.ravel()], 6),
            }
        )

    cands_topk = joined.groupBy("table", "bucket").applyInPandas(bucket_topk, out_schema)
    # The same pair can surface from several buckets; keep one row
    # (max guards against BLAS blocking producing a last-ulp wobble
    # across bucket shapes before rounding).
    deduped = cands_topk.groupBy("id", "neighbor_id").agg(
        F.max("cosine_sim").alias("cosine_sim")
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def embedding_near_duplicates(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_1 < id_2, sim ≥ threshold) —
    the semantic-dedup operator. Exact form; at scale the same
    predicate runs over SRP-bucket candidates."""
    from leader_graph_spark.sources.tables import fan_out

    a = fan_out(emb).select(
        F.col(id_col).alias("id_1"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("na", F.sqrt(dot(F.col("va"), F.col("va"), dim)))
    b = emb.select(
        F.col(id_col).alias("id_2"), F.col(vec_col).cast("array<double>").alias("vb")
    ).withColumn("nb", F.sqrt(dot(F.col("vb"), F.col("vb"), dim)))
    return (
        a.join(b, F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            F.round(
                dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def srp_plane_literals(
    *, n_planes: int = 4, n_tables: int = 4, dim: int = 64
) -> list[tuple[int, int, list[float]]]:
    """(table, bit_weight, components) for every SRP hyperplane —
    shared by the Spark plan and the DuckDB oracle so both hash vectors
    into identical buckets."""
    return [
        (t, 1 << p, _hyperplane(t * 1000 + p, dim))
        for t in range(n_tables)
        for p in range(n_planes)
    ]


def srp_near_duplicates(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    target_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-LSH buckets — the scale
    path for :func:`embedding_near_duplicates` (which is O(n²) by
    design). Candidate pairs share a sign-random-projection bucket in
    at least one of ``n_tables`` tables; exact cosine then verifies
    each candidate, so false positives are impossible — the
    approximation only loses pairs whose buckets never collide.
    For cosine ≥ 0.95 the per-bit collision rate is 1 − arccos(0.95)/π
    ≈ 0.90, so a 4-bit bucket matches with p ≈ 0.65 and 4 OR-ed tables
    reach ≈ 0.985 expected recall (unit-tested against the exact form).

    Everything stays JVM-side whole-stage codegen: bucket bits are
    sign(fold-dot(v, plane)) with the md5-derived planes inlined as
    array literals — the same sequential fold the oracle reproduces
    with ``list_sum`` — so unlike the numpy-batched
    :func:`srp_lsh_buckets` path this operator is fully
    value-hash-checkable. Per the measured rule (carrying vectors
    through the bucket join loses), the bucket join carries only ids;
    vectors re-join after pair-distinct."""
    from leader_graph_spark.sources.tables import fan_out

    if target_bucket is not None:
        # Occupancy cap (see scaled_lsh_params / SCALE.md round-7):
        # fixed planes make candidate pairs quadratic in the corpus.
        # NOT used by the registered embedding_near_dup query — its
        # oracle replays the literal (n_planes, n_tables) hyperplanes,
        # so that config is part of the query's spec; this knob is the
        # library surface for corpora past the occupancy knee.
        n_planes, n_tables = scaled_lsh_params(
            emb.count(),
            n_planes=n_planes,
            n_tables=n_tables,
            target_bucket=target_bucket,
        )
    vecs = fan_out(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sig_structs = []
    by_table: dict[int, Column] = {}
    for t, w, comps in srp_plane_literals(n_planes=n_planes, n_tables=n_tables, dim=dim):
        plane = F.array(*[F.lit(c) for c in comps])
        bit = F.when(dot(F.col("v"), plane) > 0, F.lit(w)).otherwise(F.lit(0))
        by_table[t] = bit if t not in by_table else by_table[t] + bit
    for t in sorted(by_table):
        sig_structs.append(
            F.struct(F.lit(t).alias("table"), by_table[t].cast("int").alias("bucket"))
        )
    sigs = vecs.select("id", F.explode(F.array(*sig_structs)).alias("s")).select(
        "id", F.col("s.table").alias("table"), F.col("s.bucket").alias("bucket")
    )
    a = sigs.select("table", "bucket", F.col("id").alias("id_1"))
    b = sigs.select("table", "bucket", F.col("id").alias("id_2"))
    pairs = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    va = vecs.select(F.col("id").alias("id_1"), F.col("v").alias("va")).withColumn(
        "na", F.sqrt(dot(F.col("va"), F.col("va")))
    )
    vb = vecs.select(F.col("id").alias("id_2"), F.col("v").alias("vb")).withColumn(
        "nb", F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        pairs.join(va, "id_1")
        .join(vb, "id_2")
        .select(
            "id_1",
            "id_2",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ann_ivf_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_mod: int = 40,
) -> DataFrame:
    """IVF-probe approximate top-k: vectors are coarse-quantized to
    their nearest centroid (see ``ivf_centroid_assignment``); the
    search joins only within a centroid's inverted list — after a
    ``repartition(assigned_centroid)`` layout this is a co-located
    join with no all-pairs stage. Output matches the top-k schema."""
    centroids = emb.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    from leader_graph_spark.sources.tables import fan_out

    vecs = fan_out(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    # csim is rounded to 6 decimals BEFORE the assignment ranking: the
    # double fold is engine-portable bit-for-bit, and rounding collapses
    # any sub-1e-6 centroid race onto the deterministic id tie-break.
    sim_c = F.round(
        dot(F.col("v"), F.col("cvec"))
        / (F.col("nrm") * F.sqrt(dot(F.col("cvec"), F.col("cvec")))),
        6,
    )
    w_assign = Window.partitionBy("id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    assigned = (
        vecs.crossJoin(F.broadcast(centroids))
        .select("id", "v", "nrm", "centroid_id", sim_c.alias("csim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("id", "v", "nrm", "centroid_id")
    )
    a = assigned.select("id", F.col("v").alias("va"), F.col("nrm").alias("na"), "centroid_id")
    b = assigned.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "centroid_id",
    )
    scored = (
        a.join(b, "centroid_id")
        .filter(F.col("id") != F.col("neighbor_id"))
        .select(
            "id",
            "neighbor_id",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def quantize_embeddings(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding STORAGE
    scale path: float32 → int8 cuts vector bytes (and every downstream
    shuffle that carries them) 4×, at ~0.4% relative error for
    near-uniform vectors. ``scale = max|v|/127``;
    ``q_i = floor(v_i/scale + 0.5)`` — floor(+0.5) instead of round()
    because engines disagree on round-half semantics while floor is
    IEEE-portable, making the quantized bytes oracle-checkable.

    Output: (id, scale, qvec array<int>); dequantize as ``q_i·scale``.
    Zero vectors get scale 0 and an all-zero qvec.
    """
    from leader_graph_spark.sources.tables import fan_out

    v = F.col(vec_col).cast("array<double>")
    base = fan_out(emb).select(
        F.col(id_col), v.alias("v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0).alias("scale"),
    )
    qvec = F.transform(
        "v",
        lambda x: F.when(
            F.col("scale") > 0, F.floor(x / F.col("scale") + 0.5)
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return base.select(id_col, "scale", qvec.alias("qvec"), "v")


def quantization_report(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 quantization fidelity report, all-scalar output
    (no array columns — the driver's canonicalizer requires hashable
    cells): the quantized bytes are value-checked through an md5
    checksum of the comma-joined qvec, plus max abs reconstruction
    error, MSE, and the cosine between the original and dequantized
    vector. Pure map-side (array HOFs inside codegen) — no shuffle.
    """
    q = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    dq = F.zip_with("v", "qvec", lambda x, qi: qi * F.col("scale"))
    err = F.zip_with("v", "qvec", lambda x, qi: F.abs(x - qi * F.col("scale")))
    sqerr = F.zip_with(
        "v", "qvec", lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale"))
    )
    norm_v = F.sqrt(F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    ))
    norm_dq = F.sqrt(F.aggregate(
        F.transform(dq, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    ))
    dot_vdq = F.aggregate(
        F.zip_with("v", dq, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # NOTE: the rounded scale must NOT be aliased "scale" inside the same
    # select — Spark 4 resolves lateral column aliases implicitly, so the
    # error lambdas below would silently rebind to the ROUNDED scale
    # (DuckDB prefers the base column; the engines then disagree in the
    # 6th decimal of max_abs_err). Round in a second projection instead.
    return q.select(
        id_col,
        F.col("scale"),
        F.md5(
            F.array_join(F.transform("qvec", lambda qi: qi.cast("string")), ",")
        ).alias("qvec_checksum"),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(sqerr, F.lit(0.0), lambda a, x: a + x) / F.size("v"), 6
        ).alias("mse"),
        F.when(norm_dq > 0, F.round(dot_vdq / (norm_v * norm_dq), 6))
        .otherwise(F.lit(0.0))
        .alias("cos_fidelity"),
    ).withColumn("scale", F.round("scale", 6))
