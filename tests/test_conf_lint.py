"""Conf lint: the package reads one session conf of its own,
``graph.algorithms.CKPT_SER_CONF``, the flag the automatic switch to
serialized checkpoints sets for its session. Every other engine gate is
a module constant next to the code that reads it, with the measurement
it was set from. A string starting with ``spark.leader_graph_spark.``
anywhere else in the package (an f-string part included) fails here, so
an ad hoc conf and its parser cannot grow back. Spark-free: the check
parses the source."""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = Path(__file__).resolve().parents[1] / "leader_graph_spark"
PREFIX = "spark.leader_graph_spark."
ALLOWED = {("graph/algorithms.py", "CKPT_SER_CONF")}


def conf_strings(path: str, source: str) -> list[tuple[str, str]]:
    """``(path, owner)`` for every string constant starting with
    ``PREFIX``: ``owner`` is the name a module-level assignment binds it
    to, else the string itself."""
    tree = ast.parse(source)
    owners = {
        id(stmt.value): stmt.targets[0].id
        for stmt in tree.body
        if isinstance(stmt, ast.Assign)
        and len(stmt.targets) == 1
        and isinstance(stmt.targets[0], ast.Name)
    }
    return [
        (path, owners.get(id(node), node.value))
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(PREFIX)
    ]


def test_package_reads_one_engine_conf():
    found = []
    for py in sorted(_PKG.rglob("*.py")):
        found += conf_strings(py.relative_to(_PKG).as_posix(), py.read_text())
    assert set(found) == ALLOWED and len(found) == len(ALLOWED), found


def test_lint_on_a_toy_module():
    source = (
        'KEY = "spark.leader_graph_spark.a"\n'
        "def f(spark, name):\n"
        '    """Names spark.leader_graph_spark.b in prose only."""\n'
        '    spark.conf.get("spark.leader_graph_spark.c")\n'
        '    return spark.conf.get(f"spark.leader_graph_spark.{name}")\n'
        'OTHER = "spark.sql.shuffle.partitions"\n'
    )
    assert sorted(conf_strings("m.py", source)) == [
        ("m.py", "KEY"),
        ("m.py", "spark.leader_graph_spark."),
        ("m.py", "spark.leader_graph_spark.c"),
    ]
