"""Pure arithmetic of the benchmark: summaries, span self time, slot use.

Nothing here touches Spark or /proc, so ``test_perfbench.py`` checks it on
synthetic numbers and spans.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float]:
    """(q1, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 when the median is 0)."""
    q1, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / m if m else 0.0


@dataclass
class Span:
    """One traced interval. ``parent`` is the index of the enclosing span."""

    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover.

    Children of one span run one after another (a single driver thread),
    so their durations add without overlap.
    """
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.duration
    return [max(0.0, s.duration - c) for s, c in zip(spans, child_time)]


def layer_totals(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """layer -> (summed self time, number of spans)."""
    out: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for s, t in zip(spans, self_times(spans)):
        out[s.layer][0] += t
        out[s.layer][1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def inclusive_totals(spans: list[Span]) -> dict[str, float]:
    """layer -> summed duration of its outermost spans (nested same-layer
    spans are not counted twice)."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None and spans[s.parent].layer == s.layer:
            continue
        out[s.layer] += s.duration
    return dict(out)


def slot_util(task_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the task slots kept busy: task time over wall x cores."""
    return task_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def idle_slot_s(task_run_s: float, wall_s: float, cores: int) -> float:
    """Slot-seconds in which no task ran."""
    return max(0.0, wall_s * cores - task_run_s)


def in_windows(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)
