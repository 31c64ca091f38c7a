"""Pair-join lint: every "all pairs of rows sharing a key" self-join is
built by ``operators.pairs.keyed_pairs``, which owns the ``a``/``b``
aliasing, the SQL ``=`` key test (a null key never pairs) and the id
order. Outside it, a function that aliases one frame as both ``"a"``
and ``"b"``, or joins a frame aliased ``"a"`` to one aliased ``"b"``,
hand-rolls that join. Spark-free: the check parses the source."""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = Path(__file__).resolve().parents[1] / "leader_graph_spark"
_PRIMITIVE = "operators/pairs.py"

# (module, function) -> why its a/b join is not a within-key pair join
KEEP = {
    ("plans/graph_queries.py", "nation_triangle_counts"): (
        "3-way triangle join: the third side joins on b's key and id, which a pair primitive cannot express"
    ),
    ("plans/analytics_queries.py", "join_size_estimate_cms"): (
        "joins two different frames (the lineitem and orders sketch grids) on (depth, bucket), not one frame with itself"
    ),
}


def _alias_name(node: ast.AST) -> str | None:
    """``"a"`` / ``"b"`` when ``node`` is a call ``<expr>.alias("a" | "b")``."""
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "alias"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value in ("a", "b")
    ):
        return node.args[0].value
    return None


def _hits_in(fn: ast.AST) -> set[int]:
    aliases = [n for n in ast.walk(fn) if _alias_name(n)]
    # names bound to an alias call: ``a = x.alias("a")`` or ``a, b = x.alias("a"), ...``
    bound: dict[str, ast.Call] = {}
    for node in ast.walk(fn):
        if not isinstance(node, ast.Assign) or len(node.targets) != 1:
            continue
        target, value = node.targets[0], node.value
        pairs = (
            zip(target.elts, value.elts)
            if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple)
            else [(target, value)]
        )
        for t, v in pairs:
            if isinstance(t, ast.Name) and _alias_name(v):
                bound[t.id] = v

    def side(node: ast.AST) -> ast.Call | None:
        if isinstance(node, ast.Name):
            return bound.get(node.id)
        return node if _alias_name(node) else None

    hits = set()
    # one frame aliased both ways
    b_frames = {ast.dump(n.func.value) for n in aliases if _alias_name(n) == "b"}
    for n in aliases:
        if _alias_name(n) == "a" and ast.dump(n.func.value) in b_frames:
            hits.add(n.lineno)
    # a frame aliased "a" joined to a frame aliased "b"
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
            and node.args
        ):
            left, right = side(node.func.value), side(node.args[0])
            if left is not None and right is not None:
                if (_alias_name(left), _alias_name(right)) == ("a", "b"):
                    hits.add(left.lineno)
    return hits


def hand_rolled_pairs(source: str) -> list[tuple[str, int]]:
    """(function, line of its ``a`` alias) for each hand-rolled a/b join."""
    fns = [
        fn
        for fn in ast.walk(ast.parse(source))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return sorted(((fn.name, line) for fn in fns for line in _hits_in(fn)), key=lambda h: h[1])


def _package_hits() -> dict[tuple[str, str], list[int]]:
    out: dict[tuple[str, str], list[int]] = {}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == _PRIMITIVE:
            continue
        for fn, line in hand_rolled_pairs(path.read_text()):
            out.setdefault((rel, fn), []).append(line)
    return out


def test_pair_joins_go_through_the_primitive():
    hits = _package_hits()
    rogue = {k: v for k, v in hits.items() if k not in KEEP}
    assert not rogue, f"hand-rolled a/b pair joins (use operators.pairs.keyed_pairs): {rogue}"
    stale = sorted(set(KEEP) - set(hits))
    assert not stale, f"KEEP entries that no longer join a/b: {stale}"


def test_lint_catches_hand_rolled_pair_joins():
    source = (
        "def same_key(df):\n"
        "    a, b = df.alias('a'), df.alias('b')\n"
        "    return a.join(b, cond)\n"
        "def chained(df):\n"
        "    return df.alias('a').join(df.alias('b'), cond)\n"
        "def prepared_sides(x):\n"
        "    a = x.join(y, 'k').alias('a')\n"
        "    b = x.alias('b')\n"
        "    return a.join(b, cond)\n"
        "def columns_only(df):\n"
        "    return df.select(F.col('x').alias('a'), F.col('y').alias('b'))\n"
        "def salted_sides(hl, hr):\n"
        "    return hl.alias('a').join(hr.alias('b'), cond).select(F.col('a.x'))\n"
    )
    assert hand_rolled_pairs(source) == [
        ("same_key", 2),
        ("chained", 5),
        ("prepared_sides", 7),
        ("salted_sides", 13),
    ]
