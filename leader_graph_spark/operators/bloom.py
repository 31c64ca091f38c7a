"""Bloom-filter join pre-filter — prune a big table's shuffle by a
compact bitmap of the other side's join keys.

The 100 TB problem: a selective dimension/filter side is too big to
broadcast as ROWS (a broadcast hash join needs the actual keys and
payload in memory on every executor), yet the fact side still pays a
full shuffle for the join, most of which is rows that will never
match. The classic fix is a bloom filter: fold the build side's keys
into an m-bit bitmap with k hash functions (a few hundred KB for
millions of keys), broadcast THAT, and drop non-matching fact rows
map-side BEFORE the exchange. False positives only — a handful of
extra rows reach the exact join, which removes them; false negatives
are impossible, so the result is exactly the plain join's.

Spark's AQE has an internal runtime bloom-filter rewrite
(`spark.sql.optimizer.runtime.bloomFilter.*`) that fires on its own
statistics heuristics; this module is the same technique as an
explicit, composable operator — usable where the optimizer's
heuristics do not fire and testable deterministically.

Everything is JVM-side Catalyst expressions: the bitmap is built with
explode → bit_or per 64-bit word → one dense `array<long>` row
(map-side partial aggregation makes the shuffle carry at most m/64
word rows per map task); the probe broadcasts the single bitmap row
and runs k in-row bit tests. No UDFs, no driver collect.

Sizing: false-positive rate ≈ (1 − e^{−k·n/m})^k; the defaults
(m = 2²⁰ bits = 128 KB, k = 3) give ~2% at n = 100k keys. At cluster
scale pick m ≈ 10·n bits and k ≈ 7 for ~1%.

No reference counterpart (the reference joins row-at-a-time through
Python dict lookups, e.g. ``src/mysql2neo4j.py``); this is the
Spark-native scale path for the same join semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from leader_graph_spark.functions.scalar import bind


def _pos_sql(key_sql: str, i: int, m_bits: int) -> str:
    """SQL for bit position i of a key: xxhash64(key, i) mod m. The
    literal seed column makes the k hashes independent; pmod keeps the
    position non-negative (hash values are signed)."""
    return f"pmod(xxhash64({key_sql}, {i}), {m_bits}L)"


def bloom_build(
    df: DataFrame, key_col: str, *, m_bits: int = 1 << 20, k_hashes: int = 3
) -> DataFrame:
    """Fold ``df[key_col]``'s values into a one-row bloom bitmap
    (column ``bitmap``: array<long> of length m_bits/64).

    Shape: k positions per row fan out map-side; ``bit_or`` partial
    aggregation per 64-bit word means the exchange carries at most
    m/64 word rows per map task regardless of input size; the dense
    array assembles in a single final row — the one small object this
    aggregation inherently produces (m = 2²⁰ → 16384 longs = 128 KB)."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    n_words = m_bits // 64
    positions = F.array(
        *[F.expr(_pos_sql(key_col, i, m_bits)) for i in range(k_hashes)]
    )
    words = (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(positions).alias("pos"))
        .select(
            F.expr("pos div 64").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word_idx"), F.col("bits")))
        ).alias("wm")
    ).select(
        # The optimizer folds this projection into the aggregate, so an
        # inline ``wm`` would re-run map_from_entries for every word;
        # bind the map once per row instead.
        bind(
            F.col("wm"),
            lambda wm: F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(wm, i.cast("long")), F.lit(0).cast("long")
                ),
            ),
        ).alias("bitmap")
    )


def bloom_probe_sql(
    key_sql: str, *, m_bits: int, k_hashes: int, bitmap_col: str = "bitmap"
) -> str:
    """SQL predicate testing all k bits of ``key_sql`` against
    ``bitmap_col`` — true for every present key, false positives at the
    configured rate, never a false negative."""
    tests = []
    for i in range(k_hashes):
        p = _pos_sql(key_sql, i, m_bits)
        tests.append(
            f"(shiftright(element_at({bitmap_col}, cast({p} div 64 AS INT) + 1), "
            f"cast(pmod({p}, 64) AS INT)) & 1L) = 1L"
        )
    return "(" + " AND ".join(tests) + ")"


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    *,
    big_key: str,
    small_key: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """``big`` reduced to rows whose key MIGHT be in ``small``'s key
    set — a superset of the joinable rows (plus ~fp-rate stragglers),
    pruned map-side under a broadcast of the 1-row bitmap."""
    bloom = bloom_build(small, small_key, m_bits=m_bits, k_hashes=k_hashes)
    return (
        big.join(F.broadcast(bloom))
        .where(F.expr(bloom_probe_sql(big_key, m_bits=m_bits, k_hashes=k_hashes)))
        .drop("bitmap")
    )


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    *,
    big_key: str,
    small_key: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """``big ⋈ small`` with a bloom pre-filter on the big side —
    exactly equivalent to the plain inner equi-join (the bitmap only
    prunes rows that cannot match; false positives are removed by the
    real join), but the shuffle after the pre-filter moves only
    surviving rows."""
    pre = bloom_prefilter(
        big, small, big_key=big_key, small_key=small_key,
        m_bits=m_bits, k_hashes=k_hashes,
    )
    return pre.join(small, F.col(big_key) == F.col(small_key))
