"""Document deduplication operators for the large-scale training-data
pipeline: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Beyond the reference surface (its only dedups are key-based first-wins
``org/create_c_org_info.py:401-426`` and set-membership
``proxy/pool.py:120-136``); these are the operators a 100 TB text
corpus needs. All hashing is md5-based so the DuckDB oracle can
reproduce every stage bit-for-bit (Spark's ``hash()``/``xxhash64`` are
engine-specific; md5 is portable).

Scale design:
- shingling explodes ~L rows per doc but immediately collapses to
  ``num_hashes`` signature rows per doc (map-side partial min) — the
  wide intermediate never shuffles;
- LSH banding turns the quadratic all-pairs problem into an equi-join
  on band keys; only same-bucket candidates are verified;
- exact Jaccard verification joins shingles only for candidate pairs
  (semi-join pushdown), not all docs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from leader_graph_spark.functions.scalar import bind
from leader_graph_spark.graph.algorithms import _driver_frame, _release
from leader_graph_spark.operators.pairs import keyed_pairs
from leader_graph_spark.sources.tables import fan_out

HEX = "0123456789abcdef"


def normalized(text: Column | str) -> Column:
    """Lowercase + whitespace-collapse canonical form for hashing."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup_keys(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct normalized
    text, keeping the smallest id (deterministic winner). Output:
    (content_hash, keep_id, n_dups)."""
    return (
        fan_out(df).select(F.col(id_col), F.md5(normalized(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def tokens(text: Column | str) -> Column:
    return F.split(F.trim(F.lower(F.col(text) if isinstance(text, str) else text)), r"\s+")


def shingle_array(text_col: Column | str, n: int = 3) -> Column:
    """All n-word shingles of a text as an array column (JVM-side HOFs,
    no explode).

    Bind per-row inputs outside the lambda: the token array is bound
    once per row (:func:`~leader_graph_spark.functions.scalar.bind`)
    and the ``transform`` lambda slices the bound variable. Read
    inline, ``split(trim(lower(text)))`` would re-run once per shingle
    — O(L²) per document, because subexpression elimination does not
    reach into lambda bodies. Measured on 4 cores (executor CPU of the
    distinct shingle rows, median of 5 warm runs): 0.47 s → 0.08 s on
    500 documents and 4.5 s → 0.35 s on 5 000; the
    ``minhash_near_dup_docs`` query 1.15 s → 0.34 s and 9.2 s → 1.65 s."""
    return bind(
        tokens(text_col),
        lambda toks: _windows(
            F.size(toks), n, lambda i: F.array_join(F.slice(toks, i, n), " ")
        ),
    )


def _windows(length: Column, n: int, window: Callable[[Column], Column]) -> Column:
    """``window(i)`` for every start ``i`` of an n-wide window over
    ``length`` items; empty when there are fewer than n items or the
    length is null."""
    count = length - F.lit(n - 1)
    return F.when(
        count >= 1, F.transform(F.sequence(F.lit(1), count), window)
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    rows_distinct: bool = False,
) -> DataFrame:
    """n-word shingles per document: (id, shingle), distinct by default.

    Built with array higher-order functions (JVM-side). The dedup is
    MAP-SIDE: ``array_distinct`` on the in-row shingle array before the
    explode — zero exchanges, where ``.distinct()`` on the exploded rows
    would shuffle the full shingle stream once just to dedupe it (the
    consumers then re-shuffle by shingle or by id anyway).

    CONTRACT: ``distinct=True`` guarantees distinct (id, shingle)
    output only under ONE INPUT ROW PER ``id_col`` (the document-table
    contract; every in-repo caller satisfies it — test-asserted). A
    caller that cannot guarantee it must pass ``rows_distinct=True``,
    which restores the cross-row ``.distinct()`` (one extra exchange)
    — per-id shingle-set sizes and Jaccard counts downstream would
    otherwise silently double-count (round-5 advice fix).
    ``distinct=False`` skips even the in-row dedup for consumers that
    are insensitive to duplicates (MinHash minimums)."""
    arr = shingle_array(text_col, n)
    if distinct:
        arr = F.array_distinct(arr)
    out = df.select(F.col(id_col), F.explode(arr).alias("shingle"))
    if rows_distinct:
        out = out.distinct()
    return out


MINHASH_PRIME = 2147483647  # 2^31 - 1
MINHASH_HEX_CHARS = 7  # 28-bit base value: a·v + b stays far below 2^63


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a, b) per seed, derived from
    md5 so the oracle embeds the same literals."""
    import hashlib

    coeffs = []
    for s in range(num_hashes):
        h = hashlib.md5(f"mh:{s}".encode()).hexdigest()
        a = (int(h[:8], 16) | 1) % MINHASH_PRIME  # odd, nonzero
        b = int(h[8:16], 16) % MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(
    shingles: DataFrame, *, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per doc via a universal hash family: one md5
    per shingle → 28-bit base value (``conv`` of the leading hex) →
    ``min((a_s·v + b_s) mod p)`` per seed. Output: (id, s0..s{k-1})
    integer mins; the min is computed map-side per partition before the
    shuffle (partial agg), so shuffle volume is k values per doc
    regardless of document length.

    Measured at sf0.1: ~30% faster than k direct md5 aggregates
    (one hash instead of k); an instr/substr digit-extraction variant
    of the base value was ~35% slower than either — ``conv`` is the
    fast hex→int path. The DuckDB oracle (no ``conv``) reproduces the
    identical value with instr arithmetic (verified equal).

    The k ``min()`` aggregates already share ONE md5 per shingle:
    subexpression elimination (which does reach aggregate inputs, unlike
    lambda bodies) computes ``v`` once. Hoisting the md5 into a
    projection before the aggregate measured no change (executor CPU
    0.12-0.21 s either way on 500 documents, 0.67-0.74 s on 5 000) —
    do not retry it."""
    v = F.conv(F.substring(F.md5("shingle"), 1, MINHASH_HEX_CHARS), 16, 10).cast("long")
    aggs = [
        F.min((F.lit(a) * v + F.lit(b)) % MINHASH_PRIME).alias(f"s{s}")
        for s, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame, *, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows and emit one (id, band, key) bucket row
    per band. This is the persistable dedup-index artifact: a corpus's
    bucket table is written once and incremental batches probe it (see
    :func:`incremental_near_dup`)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    signatures: DataFrame, *, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding candidate pairs: bucket-join docs sharing any band
    key. Output: distinct (id_1, id_2) candidate pairs with id_1 < id_2."""
    buckets = lsh_band_buckets(
        signatures, id_col=id_col, num_hashes=num_hashes, bands=bands
    )
    return (
        keyed_pairs(buckets, ["band", "key"], id_col)
        .select(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame, shingles: DataFrame, *, id_col: str
) -> DataFrame:
    """Exact Jaccard for given candidate pairs. Output:
    (id_1, id_2, jaccard). Input shingle rows must be per-id DISTINCT
    (the :func:`shingle_rows` contract) — duplicates would inflate the
    intersection.

    Contract note (round-8 rewrite): candidate pairs whose sets share
    ZERO shingles are emitted with ``jaccard = 0.0`` (both per-doc
    array joins are inner joins on the ids, so every input pair whose
    two ids have at least one shingle row survives). The pre-round-8
    exploded-row form silently dropped such pairs. Callers that
    filter ``jaccard >= t`` for ``t > 0`` are unaffected; callers
    that want the old drop-zero contract should filter
    ``jaccard > 0`` on the result. Pairs whose id has no shingle rows
    at all (empty document) are still dropped by the inner joins.

    Shape (round-8 rewrite): per-doc shingle ARRAYS via one
    groupBy-collect of the row stream, then two id-keyed joins onto
    the pairs and an in-row ``array_intersect`` — the verify form the
    MinHash lane already measured 1.7x over the exploded row join at
    sf0.1. The old form exploded every pair by its shingles into a
    |pairs| x |avg set| row stream (554M rows at the x100 replica)
    whose sort-merge join was the single largest working set in the
    repo — the third-decade battery measured it superlinear (wall 5.5x
    for 3.3x data, memory-ceiling-bound at 48g) while candidate counts
    grew exactly linearly. The array form shuffles one row per doc and
    one row per pair, intersects JVM-side, and needs no sort."""
    sets = shingles.groupBy(id_col).agg(F.collect_list("shingle").alias("_sh"))
    sa = sets.select(F.col(id_col).alias("id_1"), F.col("_sh").alias("_sh1"))
    sb = sets.select(F.col(id_col).alias("id_2"), F.col("_sh").alias("_sh2"))
    inter = F.size(F.array_intersect("_sh1", "_sh2"))
    return (
        pairs.join(sa, "id_1")
        .join(sb, "id_2")
        .select(
            "id_1",
            "id_2",
            (
                inter
                / (F.size("_sh1") + F.size("_sh2") - inter).cast("double")
            ).alias("jaccard"),
        )
    )


# Bounds the driver-side MinHash near-dup solve
# (minhash_near_duplicates): a corpus whose (id, text) projection Spark's
# optimizer estimates at or under this many bytes (no job) is shingled
# by Spark, collected once as Arrow and solved in Python; past it the
# distributed plan runs (always, at a limit of 0). The limit sits at
# half the crossover, near 0.5 MB on 4 cores, that its docstring records.
DEDUP_DRIVER_MAX_BYTES = 256 * 1024
# Bounds the driver branch's LSH bucket member pairs (sum of m(m-1)/2
# over buckets), counted before any pair is built; past it the
# distributed plan runs. The byte estimate misses a corpus of many
# copies: it compresses well and fills buckets quadratically. The
# bound is the largest such load measured, where the driver still won.
DEDUP_DRIVER_MAX_PAIRS = 4_000_000


def minhash_near_duplicates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    buckets → candidate pairs → exact-Jaccard verification ≥ threshold.
    Output: (id_1, id_2, jaccard rounded to 6).

    Two branches, chosen before any job. When the optimizer's size
    estimate of the ``(id, text)`` projection is at most
    ``DEDUP_DRIVER_MAX_BYTES`` (and the ids are integers or plain
    strings), the corpus is solved on the driver
    (:func:`_driver_near_duplicates`): ONE Arrow collect of Spark's own
    distinct shingle arrays, then hashing, banding and verification in
    Python, handed back as a ``LocalRelation``. On a small corpus the
    distributed plan's cost is scheduling, not compute: measured on the
    benchmark's 500-document corpus (4 cores), its five jobs spent
    0.2-0.3 s of 0.9 s CPU on executors, the rest on plan analysis, AQE
    stage planning and broadcasts. The driver branch's cost grows with
    the corpus (its collect shingles a single-split table on one core)
    where the distributed plan's stays near its scheduling floor.
    Measured on generated corpora (4 cores, warm, median of 5; the
    query's plan build plus a noop write), driver against distributed
    wall: 500 documents (26 KB estimated) 0.28 vs 0.98 s, 5 000
    (255 KB) 0.72 vs 0.97 s, 7 500 (386 KB) 0.99 vs 1.11 s, 10 000
    (508 KB) 1.35 vs 1.40 s. The limit, ``DEDUP_DRIVER_MAX_BYTES``
    (256 KiB), sits at half that crossover.

    Duplicate-heavy corpora estimate small (parquet dictionary-encodes
    their copies) while their candidate pairs grow with the square of
    the copies. Both branches emit every pair, and the driver branch
    pairs bucket members and verifies each distinct pair of shingle
    sets once, in numpy. Measured the same way on copies of random
    templates, driver against distributed wall (CPU): 5 000 documents
    of 50 templates (16 KB estimated, 247 500 pairs) 1.9 vs 5.2 s (2.0
    vs 16.6 s), 10 000 of 50 (29 KB, 995 000 pairs, 3.98 M bucket
    pairs) 5.5 vs 15.9 s (5.5 vs 53.7 s). Past
    ``DEDUP_DRIVER_MAX_PAIRS`` bucket pairs the driver branch hands the
    corpus to the distributed plan after its collect, bounding what
    the driver holds.

    Past the byte limit the distributed plan below runs.

    Shuffle economics (measured at sf0.1): the signature stage consumes
    NON-distinct shingles — duplicates cannot change a min, so the
    global dedup shuffle is skipped entirely; the exact-Jaccard stage
    joins per-doc distinct shingle ARRAYS (built by array HOFs with no
    explode and no shuffle) onto the candidate pairs and intersects
    in-row — measured ~1.7× over the explode→equi-join→count Jaccard,
    which re-parsed every document and shuffled 52 rows/doc. The array
    form assumes a document's shingle set fits in a row (true for
    normal documents; book-length outliers would switch back to the
    row form).

    Scale note (round-9 stage attribution, partition_sweep_r09.json):
    the band-bucket self-join runs broadcast below
    ``spark.sql.autoBroadcastJoinThreshold`` and flips to sort-merge
    (one extra bucket exchange, written once and read twice) when the
    bucket stream outgrows it — a step function, linear in content on
    both sides. At cluster scale the SMJ regime is simply correct; an
    ever-growing bucket stream cannot stay broadcast."""
    docs = df.select(id_col, text_col)
    if DEDUP_DRIVER_MAX_BYTES and _driver_solvable(docs, id_col, text_col):
        near = _driver_near_duplicates(
            docs,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        if near is not None:
            return near
    fanned = fan_out(df)
    sh_all = shingle_rows(
        fanned, id_col=id_col, text_col=text_col, n=shingle_n, distinct=False
    )
    sigs = minhash_signatures(sh_all, id_col=id_col, num_hashes=num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
    sets = fanned.select(
        F.col(id_col), F.array_distinct(shingle_array(text_col, shingle_n)).alias("sh")
    )
    sa = sets.select(F.col(id_col).alias("id_1"), F.col("sh").alias("sh_1"))
    sb = sets.select(F.col(id_col).alias("id_2"), F.col("sh").alias("sh_2"))
    inter = F.size(F.array_intersect("sh_1", "sh_2"))
    jac = (
        cands.join(sa, "id_1")
        .join(sb, "id_2")
        .select(
            "id_1",
            "id_2",
            # a row pair of two empty sets has no Jaccard: null, not 0/0
            (inter / F.nullif(F.size("sh_1") + F.size("sh_2") - inter, F.lit(0)).cast(
                "double"
            )).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )


def _driver_solvable(docs: DataFrame, id_col: str, text_col: str) -> bool:
    """Whether the driver branch may take ``docs``: the optimizer's size
    estimate (no job) is within ``DEDUP_DRIVER_MAX_BYTES``, and Python compares the ids
    and shingles as Spark does — integer or default-collation string
    ids, default-collation text (a collated string would make Spark's
    distinct and intersect case- or accent-insensitive)."""
    id_type, text_type = docs.schema[id_col].dataType, docs.schema[text_col].dataType
    if not (isinstance(id_type, T.IntegralType) or id_type == T.StringType()):
        return False
    if text_type != T.StringType():
        return False
    size = docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size <= DEDUP_DRIVER_MAX_BYTES


def driver_shingle_sets(df: DataFrame, *, id_col: str, text_col: str, n: int) -> DataFrame:
    """``(id, sh)``: each row's distinct n-word shingles as
    ``array<binary>`` — the driver branch's one collect. Spark
    normalizes and shingles (:func:`shingle_array`), so lowercasing,
    trimming and whitespace splitting stay Spark's own; binary arrives
    in Python as the UTF-8 bytes md5 hashes and sets compare."""
    return df.select(
        F.col(id_col),
        F.array_distinct(shingle_array(text_col, n)).cast("array<binary>").alias("sh"),
    )


def _driver_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame | None:
    """The distributed pipeline's exact result, computed in Python and
    numpy from one Arrow collect of :func:`driver_shingle_sets` — or
    ``None`` when the LSH buckets hold more than
    ``DEDUP_DRIVER_MAX_PAIRS`` member pairs, and the caller runs the
    distributed plan instead.

    It keeps the distributed semantics row for row. Signatures group by
    id, so an id with several rows is signed from the union of their
    shingles, and a doc with no shingles gets no signature. A null id
    never pairs (``id_1 < id_2`` is null there). Verification joins
    the candidate pairs to the per-ROW shingle sets, so a pair emits
    one row per (row of ``id_1``, row of ``id_2``). Base values,
    affine minimums and band keys are the ones
    :func:`minhash_signatures` and :func:`lsh_band_buckets` compute;
    the Jaccard is the same double division, and Spark rounds it. A
    row pair whose two shingle sets are both empty has no Jaccard: it
    is dropped, as the distributed plan drops its null Jaccard."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    table = driver_shingle_sets(docs, id_col=id_col, text_col=text_col, n=shingle_n).toArrow()
    ids = table.column(0).to_pylist()
    lists = table.column(1).combine_chunks()
    offsets = lists.offsets.to_numpy()
    offsets = offsets - offsets[0]
    # Each distinct shingle is hashed once: rows hold dictionary codes,
    # and codes are equal exactly when the shingles' bytes are.
    shingles = pc.dictionary_encode(lists.flatten())
    codes = shingles.indices.to_numpy(zero_copy_only=False)
    base = np.fromiter(  # leading 28 bits of each shingle's md5
        (int.from_bytes(hashlib.md5(sh).digest()[:4], "big") >> 4
         for sh in shingles.dictionary.to_pylist()),
        dtype=np.int64,
        count=len(shingles.dictionary),
    )
    # Rows with at least one shingle; the ids they sign get slots in id
    # order, so ``slot_x < slot_y`` exactly when ``id_x < id_y``. Every
    # row of a signed id carries its slot (its empty rows too: they
    # join in verification); other rows carry -1.
    full = np.flatnonzero(offsets[1:] > offsets[:-1])
    slot_ids = sorted({ids[r] for r in full.tolist()} - {None})
    slot = {i: s for s, i in enumerate(slot_ids)}
    row_slot = np.fromiter((slot.get(i, -1) for i in ids), dtype=np.int64, count=len(ids))
    lo = hi = np.zeros(0, dtype=np.int64)
    if slot_ids:
        # An id's minimums are the minimums over its rows, each reduced
        # over its own codes (the empty rows between them span nothing).
        a, b = (np.array(c, dtype=np.int64)[:, None] for c in zip(*minhash_coeffs(num_hashes)))
        row_mins = np.minimum.reduceat(
            ((a * base + b) % MINHASH_PRIME)[:, codes], offsets[full], axis=1
        ).T
        signed = row_slot[full] >= 0
        sigs = np.full((len(slot_ids), num_hashes), MINHASH_PRIME, dtype=np.int64)
        np.minimum.at(sigs, row_slot[full][signed], row_mins[signed])
        rows_per_band = num_hashes // bands
        buckets: dict = {}
        for s, sig in enumerate(sigs.tolist()):  # ascending slots: sorted members
            for band in range(bands):
                part = sig[band * rows_per_band : (band + 1) * rows_per_band]
                key = hashlib.md5("|".join(map(str, part)).encode()).digest()
                buckets.setdefault((band, key), []).append(s)
        groups = [np.array(m) for m in buckets.values() if len(m) > 1]
        if sum(len(m) * (len(m) - 1) // 2 for m in groups) > DEDUP_DRIVER_MAX_PAIRS:
            return None
        if groups:  # each bucket's member pairs, then the distinct ones
            pairs = np.concatenate([m[np.array(np.triu_indices(len(m), 1))] for m in groups], axis=1)
            lo, hi = np.divmod(np.unique(pairs[0] * len(slot_ids) + pairs[1]), len(slot_ids))

    # Candidate pairs → row pairs: each id's rows are a run of
    # ``member_rows``, and a pair emits the product of its two runs.
    member_rows = np.argsort(row_slot, kind="stable")[np.count_nonzero(row_slot < 0):]
    count = np.bincount(row_slot[row_slot >= 0], minlength=len(slot_ids))
    start = np.cumsum(count) - count
    per_pair = count[lo] * count[hi]
    pair = np.repeat(np.arange(len(lo)), per_pair)
    k = np.arange(per_pair.sum()) - np.repeat(np.cumsum(per_pair) - per_pair, per_pair)
    width = count[hi][pair]
    r1 = member_rows[start[lo][pair] + k // width]
    r2 = member_rows[start[hi][pair] + k % width]
    # Rows with equal shingle sets share a class, and each distinct
    # (class, class) pair is intersected once: a corpus of many copies
    # verifies its copies' pairs with one set intersection. Only rows
    # in some row pair are classed.
    cls: dict = {}
    needed = np.unique(np.concatenate([r1, r2]))
    row_cls = np.zeros(len(ids), dtype=np.int64)
    row_cls[needed] = [
        cls.setdefault(np.sort(codes[offsets[r] : offsets[r + 1]]).tobytes(), len(cls))
        for r in needed.tolist()
    ]
    sets = [frozenset(np.frombuffer(key, dtype=codes.dtype).tolist()) for key in cls]
    class_pairs, which = np.unique(row_cls[r1] * len(sets) + row_cls[r2], return_inverse=True)
    jaccard = np.empty(len(class_pairs))
    for u, (c1, c2) in enumerate(zip(*np.divmod(class_pairs, len(sets)))):
        s1, s2 = sets[c1], sets[c2]
        inter = len(s1 & s2)
        union = len(s1) + len(s2) - inter
        jaccard[u] = inter / union if union else np.nan  # NaN fails the filter
    jaccard = jaccard[which.reshape(-1)]
    keep = jaccard >= threshold
    id_type = docs.schema[id_col].dataType
    slot_arrow = pa.array(slot_ids, type=table.column(0).type)
    schema = T.StructType(
        [
            T.StructField("id_1", id_type),
            T.StructField("id_2", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    columns = [slot_arrow.take(lo[pair][keep]), slot_arrow.take(hi[pair][keep]), jaccard[keep]]
    return _driver_frame(docs.sparkSession, schema, columns).select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )


def incremental_near_dup(
    new_df: DataFrame,
    index_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: score a NEW batch of documents
    against an EXISTING corpus without re-pairing the corpus with
    itself — the steady-state shape of a production ingest pipeline,
    where each day's crawl is deduped against everything already kept.

    Scale design: only the cross join (new-bucket × index-bucket on the
    band key) is computed — never index × index, so cost is
    O(new · collisions), independent of corpus size. In production the
    index side's band buckets (:func:`lsh_band_buckets`) and distinct
    shingle arrays are precomputed artifacts persisted with the corpus
    (bucket-partitioned parquet); here they are derived inline so the
    oracle can reproduce every stage. The candidate join carries only
    ids; shingle arrays attach afterward for exact-Jaccard
    verification, so false positives are impossible.

    Output, one row per NEW doc: (doc_id, is_duplicate, dup_of,
    jaccard) where dup_of is the best-matching index doc (highest
    Jaccard ≥ threshold, min-id tie-break; NULL when none).
    """
    from pyspark.sql import Window

    new_f, idx_f = fan_out(new_df), fan_out(index_df)
    sig_new = minhash_signatures(
        shingle_rows(new_f, id_col=id_col, text_col=text_col, n=shingle_n, distinct=False),
        id_col=id_col,
        num_hashes=num_hashes,
    )
    sig_idx = minhash_signatures(
        shingle_rows(idx_f, id_col=id_col, text_col=text_col, n=shingle_n, distinct=False),
        id_col=id_col,
        num_hashes=num_hashes,
    )
    b_new = lsh_band_buckets(
        sig_new, id_col=id_col, num_hashes=num_hashes, bands=bands
    ).select(F.col(id_col).alias("doc_id"), "band", "key")
    b_idx = lsh_band_buckets(
        sig_idx, id_col=id_col, num_hashes=num_hashes, bands=bands
    ).select(F.col(id_col).alias("dup_of"), "band", "key")
    cands = b_new.join(b_idx, ["band", "key"]).select("doc_id", "dup_of").distinct()
    sets_new = new_f.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingle_array(text_col, shingle_n)).alias("sh_1"),
    )
    sets_idx = idx_f.select(
        F.col(id_col).alias("dup_of"),
        F.array_distinct(shingle_array(text_col, shingle_n)).alias("sh_2"),
    )
    inter = F.size(F.array_intersect("sh_1", "sh_2"))
    verified = (
        cands.join(sets_new, "doc_id")
        .join(sets_idx, "dup_of")
        .select(
            "doc_id",
            "dup_of",
            # a row pair of two empty sets has no Jaccard: null, not 0/0
            (inter / F.nullif(F.size("sh_1") + F.size("sh_2") - inter, F.lit(0)).cast(
                "double"
            )).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("dup_of"))
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dup_of", F.round("jaccard", 6).alias("jaccard"))
    )
    return (
        new_f.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_duplicate"),
            "dup_of",
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle (the
    non-approximate baseline the LSH path is measured against).
    The shingle self-join is the scale limiter — correct at any SF but
    O(sum over shingles of docs²); LSH is the 100 TB path. Jaccard is
    verified on in-row shingle arrays (see minhash_near_duplicates)."""
    fanned = fan_out(df)
    sh = shingle_rows(fanned, id_col=id_col, text_col=text_col, n=shingle_n)
    pairs = (
        keyed_pairs(sh, ["shingle"], id_col)
        .select(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .distinct()
    )
    sets = fanned.select(
        F.col(id_col), F.array_distinct(shingle_array(text_col, shingle_n)).alias("sh")
    )
    sa = sets.select(F.col(id_col).alias("id_1"), F.col("sh").alias("sh_1"))
    sb = sets.select(F.col(id_col).alias("id_2"), F.col("sh").alias("sh_2"))
    inter = F.size(F.array_intersect("sh_1", "sh_2"))
    jac = (
        pairs.join(sa, "id_1")
        .join(sb, "id_2")
        .select(
            "id_1",
            "id_2",
            (inter / (F.size("sh_1") + F.size("sh_2") - inter).cast("double")).alias(
                "jaccard"
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )


def jaccard_prefix_candidates(
    sh: DataFrame, *, id_col: str, t_num: int, t_den: int
) -> DataFrame:
    """The candidate-pair stage of :func:`ngram_jaccard_pairs_prefix`,
    factored out so the scale-stress harness can measure CANDIDATE
    growth directly (the quantity the prefix filter exists to bound —
    see the shared-vocabulary battery, ``scripts/profile_zipf_prefix``
    and SCALE.md round-5): rarity-ordered prefixes (df asc, shingle)
    per doc, self-joined on the 8-byte shingle hash with the integer
    size filter AND the PPJoin positional filter (Xiao et al. 2008):
    a match at 1-based canonical positions (i, j) bounds the overlap
    by ``min(sx−i, sy−j) + 1`` (every later common element sits after
    both positions), which must reach the required overlap
    ``α = ⌈t/(1+t)·(sx+sy)⌉``. A true pair's FIRST common shingle lies
    in both prefixes and passes the bound, so completeness holds; a
    hash-collision match can only be pruned, never a real first-common
    one. Measured on the shared-vocabulary Zipf battery (SCALE.md
    round-5): prunes the superlinear mid-frequency candidate mass the
    size filter cannot see. Input is the (id, shingle) rows; output
    (id_1, id_2) distinct candidates, a superset of the true ≥t
    pairs."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("shingle"))
    ceil_ts = F.expr(f"(({t_num} * sz + {t_den - 1}) div {t_den})")
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= F.col("sz") - ceil_ts + 1)
        # candidate join on the 8-byte shingle hash, not the string —
        # ~10% faster and much more stable at sf0.1 (2.23s vs 2.47-6.9s
        # best-of-3); a hash collision only adds a candidate pair, which
        # the exact jaccard verify removes.
        .select(
            F.col(id_col).alias("pid"),
            F.xxhash64("shingle").alias("shingle"),
            "sz",
            "pos",
        )
    )
    ubound = (
        F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
        + 1
    )
    return (
        keyed_pairs(
            prefix,
            ["shingle"],
            "pid",
            where=(F.lit(t_den) * F.col("a.sz") >= F.lit(t_num) * F.col("b.sz"))
            & (F.lit(t_den) * F.col("b.sz") >= F.lit(t_num) * F.col("a.sz"))
            & (
                F.lit(t_num + t_den) * ubound
                >= F.lit(t_num) * (F.col("a.sz") + F.col("b.sz"))
            ),
        )
        .select(F.col("a.pid").alias("id_1"), F.col("b.pid").alias("id_2"))
        .distinct()
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at threshold t = t_num/t_den via
    All-Pairs/PPJoin prefix filtering — the SCALE path for what
    ``ngram_jaccard_pairs`` computes quadratically. Same output.

    ``max_df`` (off by default) switches to STOPWORD-FILTERED
    semantics: shingles appearing in more than ``max_df`` docs are
    removed from every doc's shingle set BEFORE the pipeline, and
    Jaccard is computed over the filtered sets — the prefix algorithm
    run on a transformed input, so the completeness proof is
    unchanged. This is the principled cut for shared-vocabulary
    corpora where constant-relative-frequency phrases make candidate
    counts grow ∝ N² (measured, SCALE.md round-5): boilerplate
    shingles carry no discriminative signal, and dropping them
    bounds per-shingle candidate fan-out by max_df². A doc whose
    every shingle is hot ends with an empty set and pairs with
    nothing (it is pure boilerplate).

    Why it scales: order each doc's shingle set by global rarity
    (document frequency asc, then shingle); two sets with J ≥ t MUST
    share a shingle within their first ``|s| − ⌈t·|s|⌉ + 1`` shingles
    under any shared total order (if the required overlap
    α = ⌈t/(1+t)·(|x|+|y|)⌉ ≥ ⌈t·max(|x|,|y|)⌉ rows all sat past a
    prefix, the intersection would be too small), so only PREFIX rows
    enter the candidate self-join — ~(1−t) of the shingle stream — and
    the frequency ordering sends hot (stopword-like) shingles to the
    suffix, exactly the rows that would have exploded the join. A size
    filter (t·|x| ≤ |y| ≤ |x|/t, held as exact integer cross products)
    prunes further; survivors get the exact verify.

    The threshold arrives as a FRACTION (t_num/t_den) so the prefix
    and size bounds are integer arithmetic — ``ceil(0.8·s)`` in doubles
    can round the wrong way (0.8·35 = 28.000000000000004) and silently
    shorten a prefix, breaking the completeness guarantee.
    """
    fanned = fan_out(df)
    sh = shingle_rows(fanned, id_col=id_col, text_col=text_col, n=shingle_n).localCheckpoint()
    if max_df is not None:
        # Same leak class as the unfiltered branch below (measured
        # there: back-to-back x30 runs degrading 3x): only SMALL
        # states may stay referenced by the returned lazy plan. The
        # hot-shingle set is tiny (|occurrences| / max_df distinct
        # shingles at most), so checkpoint it, checkpoint the
        # candidate pairs, release the corpus-sized shingle stream,
        # and let the verify rebuild shingle rows lazily from the
        # documents re-filtered by an anti-join against the small hot
        # checkpoint — retained storage is cand + hot, never the
        # stream.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        ).localCheckpoint()
        filtered = sh.join(hot, "shingle", "left_anti")
        cand = jaccard_prefix_candidates(
            filtered, id_col=id_col, t_num=t_num, t_den=t_den
        ).localCheckpoint()
        _release(sh)
        verify_rows = shingle_rows(
            fanned, id_col=id_col, text_col=text_col, n=shingle_n
        ).join(hot, "shingle", "left_anti")
    else:
        # Checkpoint the SMALL candidate set and release the shingle
        # stream before the verify: the row stream is the corpus-sized
        # block here (26M rows / several GB heap at the x100 replica),
        # and left referenced by the returned plan it leaks until the
        # periodic-GC backstop — the third-decade battery measured
        # back-to-back runs degrading 3x from exactly this (x30 run 1
        # = 23.5s, run 2 = 71s). The verify rebuilds shingles lazily
        # in-row from the documents (the MinHash lane's shape): one
        # extra columnar doc scan per side, zero retained storage.
        cand = jaccard_prefix_candidates(
            sh, id_col=id_col, t_num=t_num, t_den=t_den
        ).localCheckpoint()
        _release(sh)
        verify_rows = shingle_rows(
            fanned, id_col=id_col, text_col=text_col, n=shingle_n
        )
    jac = jaccard_on_pairs(cand, verify_rows, id_col=id_col)
    return jac.filter(F.col("jaccard") >= t_num / t_den).select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )


def _hex16(tok: Column) -> Column:
    """First 16 bits of md5(token) as an int, via hex-digit positions —
    the same arithmetic is expressible in ANSI SQL for the oracle."""
    h = F.md5(tok)
    val = F.lit(0)
    for i in range(4):
        digit = F.instr(F.lit(HEX), F.substring(h, i + 1, 1)) - 1
        val = val * 16 + digit
    return val


def simhash16(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """16-bit frequency-weighted SimHash per document.

    Every token votes ±1 on each of 16 bit positions according to the
    first 16 bits of md5(token); a bit is set when the vote sum is
    positive. Output: (id, simhash int). Identical fingerprints flag
    near-duplicate candidates."""
    tok_rows = fan_out(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h16", _hex16(F.col("tok")))
    votes = [
        F.sum(
            F.when((F.floor(F.col("h16") / (1 << j)) % 2) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(16)
    ]
    per_doc = tok_rows.groupBy(id_col).agg(*votes)
    sim = F.lit(0)
    for j in range(16):
        sim = sim + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return per_doc.select(F.col(id_col), sim.cast("int").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the 16-bit fingerprint into
    ``bands`` nibble keys, bucket-join docs sharing any band, verify
    exact Hamming distance ≤ ``max_hamming``.

    With 16 bits in 4 bands, pigeonhole makes the banding EXACT for
    hamming ≤ 3 (any pair differing in ≤3 bits agrees on ≥1 whole
    band) — unlike MinHash-LSH this recall is 100%, not probabilistic.
    The bucket join replaces the quadratic all-pairs Hamming scan with
    an equi-join on (band, nibble) — the 100 TB path. Output:
    (id_1, id_2, hamming)."""
    bits_per_band = 16 // bands
    mask = (1 << bits_per_band) - 1
    sims = simhash16(df, id_col=id_col, text_col=text_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * bits_per_band).bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sims.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = (
        keyed_pairs(buckets, ["band", "key"], id_col)
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).alias("x"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count("x").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )


def canonical_near_dup_docs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    rounds: int = 4,
) -> DataFrame:
    """The dedup END PRODUCT: cluster near-duplicate pairs into groups
    and elect one canonical document per group (min id wins).

    MinHash-LSH pairs (:func:`minhash_near_duplicates`) feed
    ``rounds`` hops of min-label propagation
    (:func:`leader_graph_spark.graph.algorithms.connected_components`
    with ``max_iter=rounds``) —
    transitive closure, so A~B~C collapses to ONE kept doc even when
    (A,C) itself was never a candidate pair. Returns every input doc as
    ``(id, canonical_id, is_kept)``; the filtered corpus is
    ``is_kept``.

    Near-dup clusters are small and dense (diameter ≪ rounds), so the
    fixed unroll equals converged components on real corpora (asserted
    in tests); the bounded round count is what keeps the whole operator
    expressible as one deterministic plan — and one SQL oracle."""
    from leader_graph_spark.graph.algorithms import connected_components

    pairs = minhash_near_duplicates(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    ids = df.select(F.col(id_col).alias("id"))
    edges = pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
    # Plain fixed-round propagation: the ``rounds``-hop coverage bound
    # is the correctness contract vs the unrolled SQL oracle. The
    # pointer-jumped variant's reduced round count was UNSOUND (its
    # radius-doubling recurrence fails on adversarially ordered paths,
    # splitting a dup chain into several clusters — round-5 advice
    # fix); the jump survives only as an accelerator that keeps the
    # full neighbor-round count, which buys nothing here.
    labels = connected_components(ids, edges, max_iter=rounds)
    return labels.select(
        F.col("id").alias(id_col),
        F.col("component").alias("canonical_id"),
        (F.col("id") == F.col("component")).alias("is_kept"),
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    ratio_threshold: float = 0.05,
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    n-gram shingles overlap an evaluation/benchmark corpus. The
    standard pretraining hygiene step — any doc sharing enough n-grams
    with a held-out benchmark leaks test data into training.

    Scale design: benchmark sets are tiny next to the corpus (thousands
    of prompts vs billions of docs), so the benchmark's distinct
    shingle set is BROADCAST and the probe is a map-side broadcast
    equi-join — the corpus never shuffles on shingle, only the
    per-doc hit counts aggregate (keyed by doc id, map-side
    combinable, no skew surface).

    Output per training doc: (doc_id, n_shingles, n_hits,
    contamination_ratio, is_contaminated). Ratio = hits over the doc's
    DISTINCT shingles, rounded to 6 (single double division —
    engine-portable); docs too short to have any n-gram get ratio 0.
    """
    empty = F.array().cast("array<string>")
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.array_distinct(shingle_array(F.col(text_col), n)), empty).alias(
            "sh"
        ),
    )
    bench_shingles = (
        benchmark.select(
            F.explode(
                F.coalesce(F.array_distinct(shingle_array(F.col(text_col), n)), empty)
            ).alias("shingle")
        )
        .distinct()
    )
    hits = (
        base.select("doc_id", F.explode("sh").alias("shingle"))
        .join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_sh = F.col("n_shingles").cast("double")
    return (
        base.select("doc_id", F.size("sh").alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("int").alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            F.when(F.col("n_shingles") == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce("n_hits", F.lit(0)) / n_sh, 6))
            .alias("contamination_ratio"),
            (
                F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
                    F.round(F.coalesce("n_hits", F.lit(0)) / n_sh, 6)
                )
                >= ratio_threshold
            ).alias("is_contaminated"),
        )
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two fixed-point vectors (sequential
    fold — order-fixed, so identical on any partitioning and in the
    oracle's sum over sorted positions)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def scaled_semantic_k(n_rows: int, *, k: int, target_cluster: int) -> int:
    """Occupancy-targeted SemDeDup codebook sizing: the within-cluster
    pair stage is Σ|cluster|² ≈ n²/k, so a FIXED k makes semantic dedup
    quadratic in the corpus — k must grow with n to keep expected
    cluster occupancy (and with it per-cluster verify work) at
    ``target_cluster``. Returns ``max(k, ceil(n / target_cluster))``:
    below k·target_cluster rows the explicit k is used unchanged, so at
    the driver's verification scale the derivation is the identity and
    the static k oracle stays bit-exact by construction; above it, k
    tracks n and per-cluster work is bounded."""
    import math

    return max(k, math.ceil(n_rows / target_cluster))


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    tau2_num: int = 49,
    tau2_den: int = 400,
    target_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare pairs
    ONLY within a cluster and drop every vector that has a smaller-id
    in-cluster neighbor with cosine ≥ τ (τ² = tau2_num/tau2_den; the
    default 49/400 is τ=0.35 — see the threshold note on
    ``embedding_near_dup``: the synthetic vectors are near-random, a
    production corpus would use τ≈0.95 with the same plan).

    Exactness: vectors go to integer micro-units
    (:func:`leader_graph_spark.operators.clustering.to_fixed_point`),
    and ``cos(a,b) ≥ τ`` is evaluated as the integer inequality
    ``dot>0 AND den·dot² ≥ num·|a|²·|b|²`` in DECIMAL(38,0) — no
    floating point anywhere, so the DuckDB oracle (HUGEINT twin)
    reproduces the kept set bit-for-bit, k-means assignment included.

    Scale shape — this is the whole point of SemDeDup: the O(n²)
    semantic-pair problem becomes Σ|cluster|² via the cluster blocking,
    and the pair comparison is an equi-join on cid. At corpus scale k
    grows with n (fixed target cluster size, e.g. 10-50k vectors), so
    per-cluster work is bounded and the cid join key is high-
    cardinality (no skew surface). The k-means step itself is the
    broadcast-centroid Lloyd loop of
    :func:`~leader_graph_spark.operators.clustering.kmeans_fixed_point`.
    Drop rule is "dominated by ANY smaller-id in-cluster neighbor" —
    one EXISTS semi-join, deterministic, no iterative chain.

    Output: ``(id_col, cid, kept)`` for every input vector.
    """
    from leader_graph_spark.operators.clustering import (
        kmeans_fixed_point,
        to_fixed_point,
    )

    if target_cluster is not None:
        # The 100 TB knob (see scaled_semantic_k): k ∝ n/target keeps
        # Σ|cluster|² linear in n. Costs one count() on the input.
        k = scaled_semantic_k(emb.count(), k=k, target_cluster=target_cluster)
    assign = kmeans_fixed_point(
        emb, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations
    ).select(F.col(id_col).alias("vid"), "cid")
    vecs = emb.select(
        F.col(id_col).alias("vid"), to_fixed_point(F.col(vec_col)).alias("v")
    )
    pts = vecs.join(assign, "vid").withColumn("n2", _int_dot(F.col("v"), F.col("v")))
    a = pts.select(
        "cid",
        F.col("vid").alias("a_vid"),
        F.col("v").alias("a_v"),
        F.col("n2").alias("a_n2"),
    )
    b = pts.select(
        "cid",
        F.col("vid").alias("b_vid"),
        F.col("v").alias("b_v"),
        F.col("n2").alias("b_n2"),
    )
    dec = "decimal(38,0)"
    dropped = (
        a.join(b, "cid")
        .filter(F.col("a_vid") < F.col("b_vid"))
        .withColumn("dot", _int_dot(F.col("a_v"), F.col("b_v")))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau2_den).cast(dec)
                * F.col("dot").cast(dec)
                * F.col("dot").cast(dec)
                >= F.lit(tau2_num).cast(dec)
                * F.col("a_n2").cast(dec)
                * F.col("b_n2").cast(dec)
            )
        )
        .select(F.col("b_vid").alias("vid"))
        .distinct()
    )
    return (
        pts.join(dropped.withColumn("is_dup", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cid",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
    )


def semantic_dedup_oracle_sql(
    *,
    k: int = 8,
    iterations: int = 2,
    tau2_num: int = 49,
    tau2_den: int = 400,
    sample_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`semantic_dedup`: the unrolled k-means CTEs
    (shared with ``kmeans_assignments``), then the same integer cosine
    inequality in HUGEINT.

    ``sample_pred`` (a SQL predicate over a vec-id column named by the
    ``{vid}`` placeholder, e.g. the md5 sample used by
    ``scripts/scaled_checks.py``) restricts the QUADRATIC within-
    cluster pair stage to candidate ids matching the predicate — the
    kept/dropped verdict for a sampled id needs only pairs where IT is
    the candidate, so the restricted oracle is exact for the sampled
    slice while the k-means assignment stays full/linear. The driver
    oracle uses no predicate (full check at sf0.01)."""
    from leader_graph_spark.operators.clustering import kmeans_oracle_ctes

    body, last = kmeans_oracle_ctes(k=k, iterations=iterations)
    dots_pred = (
        f"  AND ({sample_pred.format(vid='pb.vid')})\n" if sample_pred else ""
    )
    final_pred = (
        f"WHERE ({sample_pred.format(vid='p.vid')})" if sample_pred else ""
    )
    return f"""WITH {body},
pts AS (SELECT vid, cid FROM {last}),
norms AS (SELECT vid, sum(val * val) AS n2 FROM vecs GROUP BY vid),
dots AS (
  SELECT pa.vid AS a_vid, pb.vid AS b_vid, sum(va.val * vb.val) AS dot
  FROM pts pa JOIN pts pb ON pa.cid = pb.cid AND pa.vid < pb.vid
{dots_pred}  JOIN vecs va ON va.vid = pa.vid
  JOIN vecs vb ON vb.vid = pb.vid AND vb.pos = va.pos
  GROUP BY pa.vid, pb.vid
),
dropped AS (
  SELECT DISTINCT d.b_vid AS vid
  FROM dots d
  JOIN norms na ON na.vid = d.a_vid
  JOIN norms nb ON nb.vid = d.b_vid
  WHERE d.dot > 0
    AND {tau2_den} * (CAST(d.dot AS HUGEINT) * d.dot)
        >= {tau2_num} * (CAST(na.n2 AS HUGEINT) * nb.n2)
)
SELECT p.vid AS vec_id, p.cid AS cid, (dr.vid IS NULL) AS kept
FROM pts p LEFT JOIN dropped dr ON p.vid = dr.vid
{final_pred}
"""


def duplicated_span_coverage(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level (span) duplication coverage — the exact-substring
    dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed for Spark at corpus scale.

    Where document-level dedup (exact/MinHash above) drops whole docs,
    span-level dedup measures how much of EACH doc is covered by word
    ``k``-grams that also occur in ≥ ``min_docs`` distinct documents —
    boilerplate headers, licenses, templated passages. Pipelines use the
    coverage ratio as a filter signal or as input to span excision.

    Per input doc: ``(id, n_tokens, dup_gram_positions, covered_tokens,
    dup_ppm)`` where covered_tokens is the union length of all
    duplicated [pos, pos+k) windows (window-function union, no
    interval explosion) and dup_ppm = floor(1e6·covered/n_tokens)
    (floor-ppm: exact integer on both engines, no rounding-mode
    dependence).

    Scale design (100 TB):
    - grams shuffle as 64-bit ``xxhash64`` keys, never as strings —
      fixed-width shuffle rows regardless of gram length (the oracle
      groups by the gram text itself; a cross-doc hash collision would
      be needed to diverge, ~n²/2⁶⁴);
    - the duplicated-gram set is found by count-distinct-docs per hash
      (map-side combinable after the per-doc DISTINCT) and joined back
      hash-to-hash — only positions of *duplicated* grams reach the
      per-doc window, so the window input is a small fraction of the
      gram stream;
    - coverage union is a single lead() window per doc, not a
      self-join over intervals.

    No reference counterpart (its dedups are key-based first-wins,
    ``org/create_c_org_info.py:401-426``); this extends the corpus-
    hygiene family the way §2's dedup suite anticipates.
    """
    # fan_out: a small single-file doc table arrives as ONE scan split;
    # tokenize + gram explode + hashing would then serialize on one core
    # (measured: the whole sf0.1 gram stream built by a single 0.7 s
    # task while 31 cores idle — r10). No-op at scale (already split).
    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("tokens"),
    ).select("id", "tokens", F.size("tokens").cast("long").alias("n_tokens"))
    # 1-based gram start positions; empty when the doc is shorter than k
    # (sequence(1, n) with n < 1 would count DOWN, so gate it).
    gram_pos = F.when(
        F.col("n_tokens") >= k,
        F.expr(f"sequence(1, size(tokens) - {k} + 1)"),
    ).otherwise(F.expr("array()"))
    grams = (
        toks.select(
            "id",
            "n_tokens",
            F.explode(gram_pos).alias("pos"),
            F.col("tokens"),
        )
        .select(
            "id",
            "n_tokens",
            "pos",
            F.xxhash64(F.concat_ws(" ", F.expr(f"slice(tokens, pos, {k})"))).alias("gh"),
        )
    )
    dup = (
        grams.select("gh", "id")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("id", "n_tokens", "pos")
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    cov = hits.withColumn(
        "c",
        F.least(F.lit(k).cast("long"), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k).cast("long"))),
    )
    stats = cov.groupBy("id").agg(
        F.count("*").alias("dup_gram_positions"),
        F.sum("c").alias("covered_tokens"),
    )
    return (
        toks.select("id", "n_tokens")
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("dup_gram_positions", F.lit(0)).alias("dup_gram_positions"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.floor(
                F.lit(1000000) * F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")
            ).alias("dup_ppm"),
        )
    )


def excise_duplicated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span EXCISION — the transform half of exact-substring dedup
    (Lee et al. 2021): rewrite each document with cross-document
    duplicated word ``k``-gram spans removed, keeping ONE canonical
    occurrence corpus-wide.

    Keep-one rule: each duplicated gram is owned by the MINIMUM doc id
    containing it (the house min-id-winner rule used by every dedup
    election here); the owner keeps its text, every other doc drops the
    tokens covered by that gram. Token-level semantics: a token is
    dropped iff some duplicated gram window [pos, pos+k) not owned by
    this doc covers it; surviving tokens re-join with single spaces.

    Output: ``(id, n_tokens, kept_tokens, clean_text)``.

    Scale design: identical gram/hash plumbing to
    :func:`duplicated_span_coverage` (64-bit hash shuffle keys, dup set
    found once). The per-doc rewrite collects only the doc's OWN
    excision-window start positions into an array (near-dup hit
    positions are sparse — bounded by n_tokens, typically ≪) and drops
    covered tokens with nested higher-order array functions — fully
    JVM-side, no UDF, no token-level shuffle: tokens never leave their
    doc's row. Worst-case per-doc cost is O(n_tokens · hit_positions);
    for boilerplate-laden docs that is still linear-ish because hits
    cluster (coverage windows overlap).
    """
    # fan_out: a small single-file doc table arrives as ONE scan split;
    # tokenize + gram explode + hashing would then serialize on one core
    # (measured: the whole sf0.1 gram stream built by a single 0.7 s
    # task while 31 cores idle — r10). No-op at scale (already split).
    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("tokens"),
    ).select("id", "tokens", F.size("tokens").cast("long").alias("n_tokens"))
    gram_pos = F.when(
        F.col("n_tokens") >= k,
        F.expr(f"sequence(1, size(tokens) - {k} + 1)"),
    ).otherwise(F.expr("array()"))
    grams = toks.select(
        "id",
        F.explode(gram_pos).alias("pos"),
        F.col("tokens"),
    ).select(
        "id",
        "pos",
        F.xxhash64(F.concat_ws(" ", F.expr(f"slice(tokens, pos, {k})"))).alias("gh"),
    )
    # Duplicated grams with their owning (minimum) doc id.
    dup_owner = (
        grams.select("gh", "id")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("owner"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh", "owner")
    )
    # Excision windows: this doc's positions of duplicated grams it
    # does NOT own.
    cuts = (
        grams.join(dup_owner, "gh")
        .filter(F.col("id") != F.col("owner"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("pos")).alias("cut_pos"))
    )
    with_cuts = toks.join(cuts, "id", "left").withColumn(
        "cut_pos", F.coalesce("cut_pos", F.expr("cast(array() as array<int>)"))
    )
    kept = F.expr(
        f"filter(sequence(1, size(tokens)), t -> "
        f"size(filter(cut_pos, h -> h <= t AND t < h + {k})) = 0)"
    )
    return with_cuts.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.size(kept).cast("long").alias("kept_tokens"),
        F.concat_ws(" ", F.expr(
            f"transform(filter(sequence(1, size(tokens)), t -> "
            f"size(filter(cut_pos, h -> h <= t AND t < h + {k})) = 0), t -> tokens[t - 1])"
        )).alias("clean_text"),
    )


def containment_prefix_candidates(
    sh: DataFrame, *, id_col: str, t_num: int, t_den: int
) -> DataFrame:
    """The candidate-pair stage of :func:`containment_pairs_prefix`,
    factored out for the scale-stress harness (candidate growth is the
    scaling quantity; see ``scripts/profile_zipf_prefix`` / SCALE.md):
    probe-side-only rarity prefixes joined against the FULL index side
    on the 8-byte shingle hash. Input (id, shingle) rows; output
    (id_1, id_2) distinct candidates."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("shingle"))
    ceil_ts = F.expr(f"(({t_num} * sz + {t_den - 1}) div {t_den})")
    with_sz = sh.join(dfreq, "shingle").withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    with_pos = with_sz.withColumn("pos", F.row_number().over(w))
    probe = (
        with_pos.where(F.col("pos") <= F.col("sz") - ceil_ts + 1)
        .select(
            F.col(id_col).alias("pid"),
            F.xxhash64("shingle").alias("shash"),
            F.col("sz").alias("psz"),
            F.col("pos").alias("ppos"),
        )
    )
    index = with_pos.select(
        F.col(id_col).alias("iid"),
        F.xxhash64("shingle").alias("shash"),
        F.col("sz").alias("isz"),
        F.col("pos").alias("ipos"),
    )
    # PPJoin positional filter, containment form: a match at canonical
    # positions (i, j) bounds |A∩B| by min(psz−i, isz−j)+1, which must
    # reach ⌈t·psz⌉; a true pair's first common shingle is inside the
    # probe prefix and passes, so completeness holds (same argument as
    # jaccard_prefix_candidates; index-side pos costs nothing extra —
    # it rides the sz window pass).
    ubound = F.least(F.col("psz") - F.col("ppos"), F.col("isz") - F.col("ipos")) + 1
    return (
        probe.join(
            index,
            (probe.shash == index.shash)
            & (
                (probe.psz < index.isz)
                | ((probe.psz == index.isz) & (probe.pid < index.iid))
            )
            & (F.lit(t_den) * ubound >= F.lit(t_num) * F.col("psz")),
        )
        .select(
            F.least("pid", "iid").alias("id_1"),
            F.greatest("pid", "iid").alias("id_2"),
        )
        .distinct()
    )


def containment_pairs_prefix(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    t_num: int = 9,
    t_den: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs at threshold t = t_num/t_den:
    ``|A ∩ B| / min(|A|, |B|) ≥ t`` — the asymmetric near-dup relation
    (a wire-story quoted inside a longer article, a doc re-released
    with a preamble) that symmetric Jaccard misses whenever the size
    ratio drags ``|A∩B|/|A∪B|`` below its threshold.

    Scale path — prefix filtering on the PROBE side only: order each
    doc's shingles by global rarity (df asc, then shingle); if none of
    the smaller set A's first ``|A| − ⌈t·|A|⌉ + 1`` shingles is in B,
    then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| — true for ANY B, so the bound
    needs no ordering of the index side: candidates = A-prefix rows ⋈
    B-full rows on the 8-byte shingle hash, probe = the smaller set
    (tie: smaller id). Unlike the symmetric PPJoin there is no size
    filter (containment allows any size ratio) and the index side
    stays full — the frequency ordering still keeps stopword-like
    shingles out of probe prefixes, which is what bounds the join.
    Thresholds are integer cross products (ceil in doubles rounds the
    wrong way; see ngram_jaccard_pairs_prefix).

    Output: (id_1, id_2, contained_id, containment) with id_1 < id_2,
    ``contained_id`` the smaller set (tie: id_1), containment rounded
    to 6. The registered oracle computes the NAIVE all-sharing-pairs
    form, so the driver hash check proves this prefix pruning is
    complete, not just fast."""
    fanned = fan_out(df)
    sh = shingle_rows(
        fanned, id_col=id_col, text_col=text_col, n=shingle_n
    ).localCheckpoint()
    if max_df is not None:
        # Stopword-filtered containment (same transformed-input
        # completeness argument as ngram_jaccard_pairs_prefix): the
        # measured defense for the residual quadratic term — the
        # probe-side-only prefix has no index-side rarity cut, and the
        # 32× shared-vocabulary battery shows containment candidates
        # going quadratic at the margin where jaccard's stay flat
        # (SCALE.md round-5); capping df bounds per-shingle index
        # fan-out at any corpus size.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        filtered = sh.join(hot, "shingle", "left_anti").localCheckpoint()
        _release(sh)
        sh = filtered
    cand = containment_prefix_candidates(sh, id_col=id_col, t_num=t_num, t_den=t_den)
    if max_df is None:
        # Checkpoint the small candidate output and release the
        # corpus-sized shingle stream the lazy cand plan otherwise
        # pins for the returned plan's lifetime (the ngram lane's
        # round-8 one-shot-leak fix; back-to-back runs degraded 3x
        # from the retained blocks). The filtered branch keeps sh:
        # its verify regroups the filtered stream, and the post-cap
        # stream is small by design.
        cand = cand.localCheckpoint()
        _release(sh)
    # In-row verify: per-doc shingle ARRAYS joined onto the candidate
    # pairs, intersected with array higher-order functions — the same
    # form minhash_near_duplicates measured ~1.7× over re-joining the
    # exploded shingle stream (two full-stream shuffles saved).
    if max_df is None:
        sets = fanned.select(
            F.col(id_col),
            F.array_distinct(shingle_array(text_col, shingle_n)).alias("shs"),
        )
    else:
        # verify must run over the FILTERED sets too (the max_df
        # semantics). Build them by regrouping the already-filtered
        # shingle stream (one exchange over a checkpointed input) —
        # the earlier broadcast-hot-array + per-row array_except form
        # rebuilt an O(|hot|) lookup for EVERY document row, and the
        # hot set grows with the corpus: the round-6 10x battery
        # measured it blowing past 240 s where this form takes
        # seconds. collect_list is set-valued here because
        # shingle_rows emits distinct shingles per doc.
        sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("shs"))
    sa = sets.select(F.col(id_col).alias("id_1"), F.col("shs").alias("sh_1"))
    sb = sets.select(F.col(id_col).alias("id_2"), F.col("shs").alias("sh_2"))
    m = (
        cand.join(sa, "id_1")
        .join(sb, "id_2")
        .select(
            "id_1",
            "id_2",
            F.size(F.array_intersect("sh_1", "sh_2")).alias("inter"),
            F.size("sh_1").alias("sz_1"),
            F.size("sh_2").alias("sz_2"),
        )
    )
    containment = F.col("inter") / F.least("sz_1", "sz_2").cast("double")
    return (
        m.where(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.least("sz_1", "sz_2"))
        .select(
            "id_1",
            "id_2",
            F.when(F.col("sz_1") < F.col("sz_2"), F.col("id_1"))
            .when(F.col("sz_2") < F.col("sz_1"), F.col("id_2"))
            .otherwise(F.col("id_1"))
            .alias("contained_id"),
            F.round(containment, 6).alias("containment"),
        )
    )


# Homoglyph confusables folded to their ASCII skeletons: the common
# Cyrillic and Greek lowercase lookalikes (applied after lower()).
# Deliberately a small, auditable map, not the full Unicode
# confusables table — these are the characters adversarial duplicates
# actually use, and both engines must agree on the mapping exactly.
_CONFUSABLE_FROM = "аеорсхуіјѕϲɑοα"  # Cyrillic а е о р с х у і ј ѕ, Latin ϲ ɑ, Greek ο α
_CONFUSABLE_TO = "aeopcxyijscaoa"


def confusable_skeleton(text) -> "F.Column":
    """Lower + whitespace-collapse + homoglyph fold: the dedup key that
    spoofed duplicates (Cyrillic 'а' for Latin 'a', Greek 'ο' for 'o')
    cannot evade. Pure built-ins (``translate``), so the same skeleton
    is computable in ANSI-ish SQL for the oracle; compose with an
    upstream NFKC normalization when compatibility forms (full-width
    digits, ligatures) are also in play — Spark has no built-in
    normalizer, so that seam is Python and stays out of the
    oracle-checked path."""
    return F.translate(normalized(text), _CONFUSABLE_FROM, _CONFUSABLE_TO)


def confusable_dedup_keys(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by confusable-skeleton hash — the adversarial
    upgrade of :func:`exact_dedup_keys`: one row per distinct skeleton,
    smallest id wins. Identical scale shape (md5 groupBy, map-side
    combinable)."""
    return (
        fan_out(df)
        .select(F.col(id_col), F.md5(confusable_skeleton(text_col)).alias("skeleton_hash"))
        .groupBy("skeleton_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def char_shingle_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """CHARACTER n-gram shingles: (id, shingle) over the normalized
    text's sliding character windows — the dedup unit for scripts
    without word boundaries (the reference corpus is CHINESE:
    whitespace tokenization sees one giant token per sentence, so
    every word-shingle operator above silently degrades; char n-grams
    are the standard CJK-safe alternative, cf. CCNet/CC100 pipelines).
    Same JVM-side HOF construction as :func:`shingle_array` (sequence →
    substring, array_distinct in-row, no UDF, no pre-explode
    shuffle), and the same rule: bind per-row inputs outside the
    lambda. The normalized text (a ``regexp_replace``) is bound once
    per row; read inline it re-ran once per character window.
    Measured on 4 cores, 12-char windows (executor CPU, median of 5
    warm runs): 2.3 s → 0.27 s on 500 documents, 18.5 s → 2.2 s on
    5 000; the ``char_ngram_dup_docs`` query 6.4 s → 1.5 s on 500."""
    arr = bind(
        normalized(text_col),
        lambda s: _windows(F.length(s), n, lambda i: s.substr(i, F.lit(n))),
    )
    return df.select(F.col(id_col), F.explode(F.array_distinct(arr)).alias("shingle"))
