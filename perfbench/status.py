"""Executor-side totals read from Spark's application status store.

The store backs the web UI and is filled even with the UI off. The stage
and job lists come from ``leader_graph_spark.metrics``; they are
serialised to JSON inside the JVM, so one read costs a few gateway calls
however many stages a pass ran, and the executor run and CPU times that
the engine's ledger does not keep can be read as well.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from leader_graph_spark import metrics


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    shuffle_write_s: float = 0.0
    spill_mb: float = 0.0


class StatusStore:
    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._spark = spark
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def stages(self) -> list[dict]:
        return self._json(metrics._stage_list(self._spark))

    def jobs(self) -> list[dict]:
        return self._json(metrics._store(self._spark).jobsList(self._spark._jvm.java.util.ArrayList()))

    def _settled_stages(self, after_stage: int, timeout_s: float = 5.0) -> list[dict]:
        """The stage list once the asynchronous listener has closed every
        stage newer than ``after_stage`` (or the timeout passed)."""
        deadline = time.monotonic() + timeout_s
        while True:
            stages = self.stages()
            busy = any(
                s["stageId"] > after_stage and s["status"] in ("ACTIVE", "PENDING") for s in stages
            )
            if not busy or time.monotonic() > deadline:
                return stages
            time.sleep(0.02)

    def mark(self) -> tuple[int, int]:
        """(max job id, max stage id) so far; -1 when none."""
        return metrics._max_ids(self._spark)

    def totals_since(self, mark: tuple[int, int]) -> tuple[ExecTotals, list[dict], tuple[int, int]]:
        """Totals of the stages started after ``mark``, the jobs started after
        it, and the new mark."""
        job_mark, stage_mark = mark
        stages = self._settled_stages(stage_mark)
        jobs = [j for j in self.jobs() if j["jobId"] > job_mark]
        t = ExecTotals(jobs=len(jobs))
        for s in stages:
            if s["stageId"] <= stage_mark or s["status"] == "SKIPPED":
                continue
            t.stages += 1
            t.tasks += s["numTasks"]
            t.task_run_s += s["executorRunTime"] / 1e3
            t.jvm_cpu_s += s["executorCpuTime"] / 1e9
            t.gc_s += s["jvmGcTime"] / 1e3
            t.shuffle_read_mb += s["shuffleReadBytes"] / 1e6
            t.shuffle_write_mb += s["shuffleWriteBytes"] / 1e6
            t.shuffle_fetch_wait_s += s["shuffleFetchWaitTime"] / 1e3
            t.shuffle_write_s += s["shuffleWriteTime"] / 1e9
            t.spill_mb += s["diskBytesSpilled"] / 1e6
        new_mark = (
            max([job_mark] + [j["jobId"] for j in jobs]),
            max([stage_mark] + [s["stageId"] for s in stages]),
        )
        return t, jobs, new_mark
