"""Loop-kit lint: no loop body in the graph modules hand-rolls the
checkpoint / release kit. Every iterative algorithm runs inside
``graph.algorithms._Loop`` (``loop.step`` / ``loop.keep``), which owns
checkpointing, observation probes and state release; a ``for`` or
``while`` body that calls ``localCheckpoint``, ``_checkpoint_observed``
or ``_release`` directly is a loop that bypasses it. Spark-free: the
check parses the source."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

_GRAPH = Path(__file__).resolve().parents[1] / "leader_graph_spark" / "graph"
_KIT = {"localCheckpoint", "_checkpoint_observed", "_release"}


def _kit_calls_in_loops(source: str) -> list[tuple[int, str]]:
    found = []
    for loop in ast.walk(ast.parse(source)):
        if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
            continue
        for stmt in loop.body:
            for node in ast.walk(stmt):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in _KIT:
                    found.append((node.lineno, name))
    return sorted(set(found))


@pytest.mark.parametrize("module", ["algorithms.py", "frames.py"])
def test_no_loop_body_hand_rolls_the_kit(module):
    path = _GRAPH / module
    hits = _kit_calls_in_loops(path.read_text())
    assert not hits, f"{path.name}: loop bodies call the kit directly at {hits}"


def test_lint_catches_a_hand_rolled_loop():
    source = (
        "def f(state, rounds):\n"
        "    for _ in range(rounds):\n"
        "        new = step(state).localCheckpoint()\n"
        "        _release(state)\n"
        "        state = new\n"
        "    while True:\n"
        "        if ok(state):\n"
        "            state, seen = _checkpoint_observed(state)\n"
        "    return state.localCheckpoint()\n"
    )
    assert _kit_calls_in_loops(source) == [
        (3, "localCheckpoint"),
        (4, "_release"),
        (8, "_checkpoint_observed"),
    ]
