"""Every registered query with an oracle must hash-match DuckDB at
sf0.01 — this replays the driver's correctness gate locally."""

from __future__ import annotations

import pytest

from leader_graph_spark.plans import REGISTRY

from tests.oracle import compare

ORACLE_QUERIES = sorted(REGISTRY)


def test_all_queries_have_oracles():
    """The rows-only class was eliminated in round 6 — every registered
    query carries a full (exact or bounded-assertion) oracle. Pin that
    it stays empty."""
    assert [n for n, s in REGISTRY.items() if s.oracle is None] == []


def test_registry_iterates_in_registration_order():
    """``list(REGISTRY)`` is the order the queries register in: one block
    per plans module, in ``plans/__init__.py``'s import order, each block
    in source order. Nothing reorders it after import, whatever files
    sit next to the package."""
    import ast
    from pathlib import Path

    import leader_graph_spark.plans as plans

    init = ast.parse(Path(plans.__file__).read_text())
    imported = [
        f"{node.module}.{a.name}" for node in init.body
        if isinstance(node, ast.ImportFrom) and node.module == plans.__name__
        for a in node.names
    ]
    specs = list(REGISTRY.values())
    want = sorted(specs, key=lambda s: (
        imported.index(s.spark.__module__), s.spark.__code__.co_firstlineno))
    assert [s.name for s in specs] == [s.name for s in want]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, sf_dir)
    result = compare(df, spec.oracle, sf_dir)
    assert result["match"], {k: v for k, v in result.items() if not k.startswith("hash_") or not result["match"]}


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
