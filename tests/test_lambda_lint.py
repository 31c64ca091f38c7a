"""Lambda-invariant lint: no higher-order function may re-run per-row
work once per array element.

Spark evaluates every expression inside a ``transform``/``filter``/
``aggregate`` lambda once per array element, and subexpression
elimination does not reach into lambda bodies. A per-row input read
inline inside the lambda — ``slice(split(lower(text)), i, n)`` — is
therefore recomputed for every element: O(L²) per document for the
shingle builders, where binding the token array once per row
(``functions.scalar.bind``) makes it O(L). This lint walks a query's
OPTIMIZED logical plan (after the optimizer has folded projections
into their consumers) and reports every maximal subexpression of a
lambda body that references none of that lambda's own variables, is
not constant, and does more than O(1) work on a column (anything
outside ``_CHEAP``: string, regex, hash, array and map builders).
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from leader_graph_spark.plans import REGISTRY

# Per-element re-evaluation of these is noise: leaves and O(1)
# scalar arithmetic, comparisons and struct/field access.
_CHEAP = frozenset(
    {
        "AttributeReference", "OuterReference", "BoundReference", "Literal",
        "Alias", "Cast", "KnownNotNull", "GetStructField",
        "Add", "Subtract", "Multiply", "Divide", "IntegralDivide",
        "Remainder", "Pmod", "UnaryMinus", "Abs", "Least", "Greatest",
        "EqualTo", "EqualNullSafe", "LessThan", "LessThanOrEqual",
        "GreaterThan", "GreaterThanOrEqual", "And", "Or", "Not",
        "IsNull", "IsNotNull", "Coalesce", "If", "CaseWhen", "Size",
    }
)

# The registry modules whose queries build on the dedup and text
# operators; linted in the default suite.
_TEXT_MODULES = (
    "leader_graph_spark.plans.dedup_queries",
    "leader_graph_spark.plans.text_queries",
)


class _Node:
    """Python mirror of one Catalyst expression node."""

    __slots__ = ("java", "name", "kids", "var", "own")

    def __init__(self, e):
        self.java = e
        self.name = e.getClass().getSimpleName()
        ch = e.children()
        self.kids = [_Node(ch.apply(i)) for i in range(ch.size())]
        self.var = e.exprId().id() if self.name == "NamedLambdaVariable" else None
        # LambdaFunction's children are (body, *arguments)
        self.own = (
            {k.var for k in self.kids[1:]} if self.name == "LambdaFunction" else None
        )


def _refs(node: _Node, memo: dict) -> frozenset:
    """Lambda-variable ids referenced anywhere under ``node``."""
    key = id(node)
    if key not in memo:
        here = {node.var} if node.var is not None else set()
        memo[key] = frozenset(here.union(*(_refs(k, memo) for k in node.kids)))
    return memo[key]


def _cheap(node: _Node) -> bool:
    return node.name in _CHEAP and all(_cheap(k) for k in node.kids)


def _invariants(node: _Node, own: set, memo: dict, out: list) -> None:
    """Maximal non-trivial subexpressions under ``node`` (inside the
    body of a lambda binding ``own``) that reference none of ``own``.
    A nested lambda is linted against its own variables instead."""
    if (
        not (_refs(node, memo) & own)
        and node.kids
        and not _cheap(node)
        and not node.java.foldable()
    ):
        out.append(f"{node.name}: {node.java.toString()[:200]}")
        _lambdas(node, memo, out)
        return
    if node.name == "LambdaFunction":
        _lambdas(node, memo, out)
        return
    for k in node.kids:
        _invariants(k, own, memo, out)


def _lambdas(node: _Node, memo: dict, out: list) -> None:
    """Lint every LambdaFunction at or under ``node``."""
    if node.name == "LambdaFunction":
        _invariants(node.kids[0], node.own, memo, out)
        return
    for k in node.kids:
        _lambdas(k, memo, out)


def _walk_plan(p):
    yield p
    ch = p.children()
    for i in range(ch.size()):
        yield from _walk_plan(ch.apply(i))


def lambda_invariants(df: DataFrame) -> list[str]:
    """Every lambda-invariant subexpression in ``df``'s optimized plan."""
    out: list[str] = []
    for p in _walk_plan(df._jdf.queryExecution().optimizedPlan()):
        exprs = p.expressions()
        for i in range(exprs.size()):
            _lambdas(_Node(exprs.apply(i)), {}, out)
    return out


def _lint_queries(spark, names, sf_dir):
    offenders = {}
    for name in names:
        found = lambda_invariants(REGISTRY[name].spark(spark, sf_dir))
        if found:
            offenders[name] = found
    assert not offenders, (
        "lambda bodies re-evaluate per-row work for every element — bind "
        f"the per-row input outside the lambda (functions.scalar.bind): {offenders}"
    )


def test_lint_flags_inline_per_row_input(spark):
    """Vacuity guard: the pre-fix shingle form (tokens read inside the
    lambda) is reported and the bound form is not; an O(L) invariant
    (string length) is reported, O(1) column arithmetic is not."""
    from leader_graph_spark.functions.scalar import bind

    df = spark.createDataFrame([("a b c d",)], "text string")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    inline = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    found = lambda_invariants(df.select(inline.alias("sh")))
    assert len(found) == 1 and found[0].startswith("StringSplit")
    bound = bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.array_join(F.slice(t, i, 3), " "),
        ),
    )
    assert lambda_invariants(df.select(bound.alias("sh"))) == []
    per_len = F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: i * F.length("text"))
    assert [f.split(":")[0] for f in lambda_invariants(df.select(per_len.alias("x")))] == [
        "Length"
    ]
    cheap = F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: i + F.col("n") * 2)
    assert lambda_invariants(spark.range(1).select(F.col("id").alias("n")).select(cheap)) == []


def test_dedup_builders_bind_per_row_inputs(spark):
    """The shingle, MinHash and char-shingle builders themselves."""
    from leader_graph_spark.operators.dedup import (
        char_shingle_rows,
        driver_shingle_sets,
        minhash_signatures,
        shingle_array,
        shingle_rows,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    frames = [
        df.select(shingle_array("text", 3)),
        shingle_rows(df, id_col="doc_id", text_col="text"),
        minhash_signatures(
            shingle_rows(df, id_col="doc_id", text_col="text", distinct=False),
            id_col="doc_id",
        ),
        char_shingle_rows(df, id_col="doc_id", text_col="text", n=5),
        # the driver-side MinHash branch's one collect
        driver_shingle_sets(df, id_col="doc_id", text_col="text", n=3),
    ]
    for f in frames:
        assert lambda_invariants(f) == []


def test_dedup_and_text_queries_bind_per_row_inputs(spark, sf_smoke):
    """Every registered dedup and text query, at sf0.001 (only the
    plan is inspected). The MinHash lanes would hand back the driver
    branch's local result, so the distributed plan is forced
    (``DEDUP_DRIVER_MAX_BYTES`` patched to 0) and linted; the driver
    branch's collect projection is linted in
    :func:`test_dedup_builders_bind_per_row_inputs`."""
    from unittest import mock

    from leader_graph_spark.operators import dedup

    names = sorted(n for n, s in REGISTRY.items() if s.spark.__module__ in _TEXT_MODULES)
    assert len(names) >= 30
    with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", 0):
        _lint_queries(spark, names, sf_smoke)


@pytest.mark.slow  # builds every registered query's plan at sf0.01, ~150 s
def test_no_lambda_invariants_in_registry(spark, sf_dir):
    _lint_queries(spark, sorted(REGISTRY), sf_dir)
