"""Data-layout operators: multi-dimensional clustering keys for file
skipping at scale.

A 100 TB table filtered on TWO dimensions (e.g. customer AND order
month) cannot be sorted to help both: a single-key sort gives perfect
min/max pruning on that key and none on the other. Z-ordering (Morton
codes — bit-interleaving the dimensions, the technique behind Delta
``OPTIMIZE ZORDER BY`` and Hudi/Iceberg clustering) trades a little
pruning on each dimension for useful pruning on all of them: files
written in z-value order cover small rectangles of the key space, so
per-file min/max statistics skip most files for predicates on either
dimension.

Everything here is exact integer bit arithmetic on rank-normalized
dimensions — engine-portable, so the DuckDB oracle reproduces the keys
bit-for-bit. The reference has no layout management at all (MySQL
tables, no partitioning — ``SURVEY.md §4``); this is pure scale-path
engineering.
"""

from __future__ import annotations

from collections.abc import Sequence

ZBITS = 16  # bits kept per dimension; 2 dims -> 32-bit z-values


def normalize_dim_sql(col_expr: str, lo: int | str, hi: int | str, bits: int = ZBITS) -> str:
    """SQL text rank-normalizing ``col_expr`` from ``[lo, hi]`` onto
    ``[0, 2^bits - 1]``, valid in BOTH Spark SQL and DuckDB. Neither
    engine shares an integer-division spelling (Spark: ``div``, DuckDB:
    ``//``), so exact floor division of non-negative
    BIGINTs is spelled ``(num - num % den) / den``: the numerator is
    made exactly divisible first, the ``/`` result is then an integral
    double (< 2^53 by construction) and casts back losslessly."""
    num = f"(CAST(({col_expr}) - ({lo}) AS BIGINT) * {(1 << bits) - 1})"
    den = f"(({hi}) - ({lo}))"
    return f"CAST(({num} - ({num} % {den})) / {den} AS BIGINT)"


def zorder_key_sql(col_exprs: Sequence[str], bits: int = ZBITS) -> str:
    """Portable SQL text of the z-order (Morton) key over
    already-normalized integer expressions: the unrolled
    ``((x >> b) & 1) << (n·b + d)`` sum, emitted as literal arithmetic
    (``&``, ``<<``, ``>>`` parse identically in Spark SQL and DuckDB)."""
    n = len(col_exprs)
    terms = []
    for d, e in enumerate(col_exprs):
        for b in range(bits):
            # Outer parens are load-bearing: '+' binds TIGHTER than
            # '<<' in both engines, so unparenthesized terms parse as
            # a << (p1 + b) << p2. The BIGINT cast stops DuckDB's
            # INT32 '<<' from overflowing at bit 31.
            terms.append(f"(CAST((({e}) >> {b}) & 1 AS BIGINT) << {n * b + d})")
    return "(" + " + ".join(terms) + ")"


def hilbert_key_py(bits: int, x: int, y: int) -> int:
    """Reference python model of the 2-D Hilbert index (the classic
    iterative reflect/swap form). Unit tests pin the SQL unroll to this
    model over a full small grid; the model itself is validated by the
    Hilbert invariants (bijective, every consecutive pair of indices is
    grid-adjacent) in tests."""
    d = 0
    s = (1 << bits) // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_steps_sql(
    bits: int, *, x_col: str = "x", y_col: str = "y", carry: Sequence[str] = ()
) -> list[str]:
    """The Hilbert loop unrolled into one SELECT per bit — portable SQL
    (only ``&``, comparisons, CASE, and integer +/-/*; XOR is avoided
    by enumerating the four (rx, ry) cases, since Spark spells it ``^``
    but DuckDB's ``^`` is POWER). Each element transforms
    (x, y, d) -> (x', y', d'); chain them as CTEs over a source with
    BIGINT ``x_col``/``y_col`` and d initialized to 0. Negative
    intermediates from the reflection are fine: both engines implement
    BIGINT ``&`` as two's complement, and the model-equality test walks
    a full grid."""
    keep = ", ".join(carry) + ", " if carry else ""
    steps = []
    for i in reversed(range(bits)):
        s = 1 << i
        rx = f"(CASE WHEN ({x_col} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y_col} & {s}) > 0 THEN 1 ELSE 0 END)"
        d_inc = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 1 THEN 2 ELSE 3 END)"
        )
        new_x = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - {y_col} ELSE {y_col} END) "
            f"ELSE {x_col} END"
        )
        new_y = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - {x_col} ELSE {x_col} END) "
            f"ELSE {y_col} END"
        )
        steps.append(
            # CAST the s*s literal: at bit 15 it is 2^30 and an INT32
            # literal times d_inc (up to 3) overflows under Spark's
            # ANSI arithmetic.
            f"SELECT {keep}{new_x} AS {x_col}, {new_y} AS {y_col}, "
            f"d + CAST({s * s} AS BIGINT) * {d_inc} AS d"
        )
    return steps


def hilbert_ctes_sql(
    source: str, bits: int, *, x_col: str = "x", y_col: str = "y",
    carry: Sequence[str] = (), prefix: str = "h",
) -> tuple[str, str]:
    """Chain :func:`hilbert_steps_sql` into named CTE text:
    returns (cte_body, final_name). ``source`` must provide carry cols
    plus BIGINT x/y; d starts at 0."""
    parts = [
        f"{prefix}0 AS (SELECT {', '.join([*carry, x_col, y_col])}, "
        f"CAST(0 AS BIGINT) AS d FROM {source})"
    ]
    steps = hilbert_steps_sql(bits, x_col=x_col, y_col=y_col, carry=carry)
    for i, step in enumerate(steps, start=1):
        parts.append(f"{prefix}{i} AS ({step} FROM {prefix}{i - 1})")
    return ",\n".join(parts), f"{prefix}{len(steps)}"
