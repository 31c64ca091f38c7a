"""Within-key pair self-join: every derived relationship (same group,
schoolmates, colleagues, LSH buckets, shared shingles, shared parts)
pairs the rows of one table that share a key.

Key semantics are SQL ``=``: a row whose key is null pairs with no row,
as in the reference's Cypher ``MATCH`` and every DuckDB oracle. The id
order ``a.id < b.id`` emits each unordered pair once; ``!=`` emits both
directions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keyed_pairs(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    *,
    where: Column | None = None,
    other: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Join ``df.alias("a")`` to ``other.alias("b")`` (``other``
    defaults to ``df``) on equal ``keys`` and on ``a.{id_col} <
    b.{id_col}`` (``!=`` with ``ordered=False``), and on ``where`` when
    given. The result keeps both aliases in scope, so callers project
    ``a.*`` / ``b.*`` columns. ``other`` serves when the two sides are
    the same rows prepared differently (the salted replicas of a hot
    group; the uncapped side of a degree-capped join); it must carry
    ``keys`` and ``id_col``."""
    a, b = df.alias("a"), (df if other is None else other).alias("b")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cond = (ida < idb) if ordered else (ida != idb)
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    if where is not None:
        cond = cond & where
    return a.join(b, cond)
