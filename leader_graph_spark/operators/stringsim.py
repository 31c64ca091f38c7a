"""String-similarity self-join (entity resolution / fuzzy dedup) via
symmetric deletion neighborhoods.

The naive formulation — cross join + ``levenshtein(a, b) <= k`` — is
O(n²) string comparisons and a full cartesian shuffle: dead at 100 TB.
The classic q-gram count filter degenerates on real-world key spaces
with long shared prefixes/templates ("Customer#000000001": every row
shares the "Cu","us","st",… grams, so gram blocks are the whole table).

The scalable exact form used here is the symmetric-delete neighborhood
(FastSS / SymSpell): every string emits the set of strings obtainable
by deleting at most ``k`` characters; two strings are within Levenshtein
distance ``k`` ONLY IF their deletion neighborhoods intersect, so an
equi-join on the (hashed) variant is a complete candidate generator,
and one exact ``levenshtein`` per candidate pair removes the false
positives (including any hash collisions). Work per row is
O(len^k) variant emissions — independent of table size — and the join
shuffles 8-byte hashes, never the strings.

Completeness sketch (k=1): a substitution at position p makes the two
strings equal after deleting p from both; an insertion makes the longer
equal, after deleting the inserted char, to the shorter's identity
variant. Inductively the same holds for k deletions (the SymSpell
guarantee), so no qualifying pair is missed.

No reference counterpart: the reference dedups names by exact match
after cleaning (``utils/name_utils.py``); fuzzy matching is the scale
upgrade a training-data pipeline needs for entity resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from leader_graph_spark.operators.pairs import keyed_pairs


def _deletion_variants_expr(col: str, k: int) -> str:
    """SQL expression: array of all strings obtained by deleting at
    most ``k`` characters from ``col`` (includes the identity).

    ``i = len`` in the sequence contributes the identity variant
    (``substring(s, 1, len) || '' = s``), so one ``transform`` per
    deletion level covers "delete exactly this many or fewer at this
    slot" without a separate union branch.
    """
    one = (
        f"transform(sequence(0, length({col})), "
        f"i -> concat(substring({col}, 1, i), substring({col}, i + 2)))"
    )
    if k == 1:
        return one
    if k == 2:
        # Deletions of the deletions: flatten(len+1 × len arrays).
        return (
            f"flatten(transform({one}, v -> "
            "transform(sequence(0, length(v)), "
            "i -> concat(substring(v, 1, i), substring(v, i + 2)))))"
        )
    raise ValueError(f"k={k} not supported (1 or 2)")


def similar_string_pairs(
    df: DataFrame, col: str, *, k: int = 1, max_len: int = 64
) -> DataFrame:
    """All unordered pairs of distinct ``col`` values within Levenshtein
    distance ``k`` (exact — candidate generation is complete and every
    candidate is verified).

    Scale shape: variant fan-out is map-side (len+1 variants per row at
    k=1, (len+1)² at k=2), and duplicate variants of one string collapse
    map-side too (``array_distinct`` before the explode — a string with
    repeated characters emits the same deletion many times; a run of L
    identical chars would otherwise put L copies of one hash in a join
    bucket and pay L² post-join condition evaluations, where Catalyst
    runs the pushed-down ``levenshtein`` verify per matched row). The
    candidate join shuffles only ``xxhash64`` keys; after the map-side
    collapse a pair is verified once per SHARED variant hash (bounded by
    len+1, typically 1-2), and the final ``distinct`` dedupes pairs that
    matched through several shared variants. Returns
    (name_a, name_b, dist) with ``name_a < name_b``.

    ``max_len`` EXCLUDES longer values from matching entirely — the
    deletion neighborhood is for KEYS (names, codes, titles), and a
    stray document-sized string at k=2 would fan out len² variants (25M
    rows for 5000 chars); if long-text similarity is the actual goal,
    that is the shingle/MinHash family's job, not this operator's.
    """
    names = (
        df.select(F.col(col).alias("name"))
        .where(F.col("name").isNotNull() & (F.length("name") <= max_len))
        .distinct()
    )
    variants = names.select(
        "name",
        F.explode(
            F.array_distinct(F.expr(_deletion_variants_expr("name", k)))
        ).alias("variant"),
    ).select("name", F.xxhash64("variant").alias("vh"))
    cand = (
        keyed_pairs(variants, ["vh"], "name")
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= k)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )
