"""Runtime shuffle/spill ledger via Spark's AppStatusStore.

Local wall-clock has a ~0.5s per-query floor that hides exactly the
costs that dominate on a real cluster: shuffle bytes moved, spill, and
the number of driver-side actions (jobs). This module snapshots the
application status store (the same KVStore that backs the UI and REST
API — populated even with ``spark.ui.enabled=false``) around a query
execution and reports the deltas:

- ``shuffle_write_bytes`` / ``shuffle_read_bytes``: bytes through the
  shuffle — THE scale currency; a plan whose bytes grow superlinearly
  is broken at 100 TB no matter what local wall time says.
- ``mem_spill_bytes`` / ``disk_spill_bytes``: task-level spill; any
  nonzero disk spill at bench scale means partitions are missized.
- ``jobs``: driver actions. Iterative algorithms pay a scheduling
  round-trip per job — at 1000 executors each action is a full
  driver→cluster barrier, so actions-per-query is the latency floor
  of the loop-style queries.
- ``stages`` / ``tasks``: scheduling volume.

Deltas are computed by job/stage id high-water mark (ids increase
monotonically per SparkContext), so concurrent history in the store
from earlier queries never contaminates a measurement — but the
measured action itself must be the only workload on the session while
it runs (the bench runs queries serially; tests do too).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@dataclass
class Ledger:
    """Aggregated runtime metrics for one measured action."""

    wall_sec: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    mem_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    result: Any = field(default=None, repr=False)

    def as_dict(self) -> dict:
        return {
            "wall_sec": round(self.wall_sec, 3),
            "shuffle_write_mb": round(self.shuffle_write_bytes / 1e6, 3),
            "shuffle_read_mb": round(self.shuffle_read_bytes / 1e6, 3),
            "mem_spill_mb": round(self.mem_spill_bytes / 1e6, 3),
            "disk_spill_mb": round(self.disk_spill_bytes / 1e6, 3),
            "jobs": self.jobs,
            "stages": self.stages,
            "skipped_stages": self.skipped_stages,
            "tasks": self.tasks,
        }


def _store(spark: SparkSession):
    return spark._jsc.sc().statusStore()


def _stage_list(spark: SparkSession):
    """AppStatusStore.stageList — py4j can't use the Scala defaults, and
    the arity differs across Spark lines: 4.x takes (statuses, details,
    withSummaries, unsortedQuantiles, taskStatus); 3.5 lacks the
    ``details`` flag. Try the 4.x signature first, fall back to 3.5's,
    so ``pip install leader-graph-spark[spark]`` (pyspark>=3.5) can run
    bench/measure on either line."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = _store(spark)
    try:
        return store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
    except Exception:
        pass
    try:
        # older arity without the ``details`` flag
        return store.stageList(
            jvm.java.util.ArrayList(),
            False,
            gw.new_array(gw.jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
    except Exception:
        # last resort: statuses-only (Scala default-arg stub)
        return store.stageList(jvm.java.util.ArrayList())


def _last_id(spark: SparkSession, kind: str) -> int:
    """Largest ``kind`` ("job" or "stage") id in the status store, read
    as the first row of the store's natural index in reverse; -1 when
    empty."""
    cls = spark._jvm.java.lang.Class.forName(f"org.apache.spark.status.{kind.title()}DataWrapper")
    it = _store(spark).store().view(cls).reverse().max(1).iterator()
    return getattr(it.next().info(), f"{kind}Id")() if it.hasNext() else -1


def _max_ids(spark: SparkSession) -> tuple[int, int]:
    """(max job id, max stage id) currently in the status store; -1 when empty."""
    return _last_id(spark, "job"), _last_id(spark, "stage")


def _read_after(spark: SparkSession, kind: str, read: Callable[[int], Any], after: int) -> list:
    """``read(id)`` for every id above ``after`` up to the store's
    largest; ids the store does not hold are skipped."""
    out = []
    for i in range(after + 1, _last_id(spark, kind) + 1):
        try:
            out.append(read(i))
        except Py4JJavaError:  # NoSuchElementException
            continue
    return out


def measure_action(spark: SparkSession, action: Callable[[], Any]) -> Ledger:
    """Run ``action`` (any driver-side call that submits jobs — a
    ``.count()``, a noop-sink write, a whole pipeline) and return the
    Ledger of everything it executed.

    Jobs and stages newer than the start mark are read by id, so the
    cost follows the action's own job and stage count, not the history
    the store retains. The status-store listener processes events
    asynchronously on the driver event bus; after the action returns we
    wait (bounded) until no new stage is still ACTIVE or PENDING so
    completed metrics are final.
    """
    start_job, start_stage = _max_ids(spark)
    led = Ledger()
    t0 = time.perf_counter()
    led.result = action()
    led.wall_sec = time.perf_counter() - t0

    store = _store(spark)

    def new_stages() -> list:
        return _read_after(spark, "stage", store.lastStageAttempt, start_stage)

    # Let the async listener drain, bounded at 5s: local event buses
    # drain in milliseconds; the bound only guards a wedged bus.
    deadline = time.time() + 5.0
    stages = new_stages()
    while time.time() < deadline and any(
        str(s.status()) in ("ACTIVE", "PENDING") for s in stages
    ):
        time.sleep(0.05)
        stages = new_stages()

    for s in stages:
        if str(s.status()) == "SKIPPED":
            led.skipped_stages += 1
            continue
        led.stages += 1
        led.tasks += s.numTasks()
        led.shuffle_write_bytes += s.shuffleWriteBytes()
        led.shuffle_read_bytes += s.shuffleReadBytes()
        led.mem_spill_bytes += s.memoryBytesSpilled()
        led.disk_spill_bytes += s.diskBytesSpilled()
    led.jobs = len(_read_after(spark, "job", store.job, start_job))
    return led


def measure_query(spark: SparkSession, df_factory: Callable[[], Any]) -> Ledger:
    """Measure a DataFrame-producing thunk end-to-end through a noop
    sink (forces every scan/shuffle/join without collecting rows to the
    driver)."""

    def run():
        df = df_factory()
        df.write.format("noop").mode("overwrite").save()

    return measure_action(spark, run)
