"""Closed-loop benchmark of the engine, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload joins_dedup --seed 1 --seconds 15 --trace 0

One client (this process) drives ``local[nproc]`` Spark over tables generated
from ``--seed`` under ``.bench_build/perfbench/``. A run:

1. sets up ``N_SETUPS`` times, each time cold: launch the JVM and start a
   SparkSession, then run one warm pass over the workload's lanes at the
   workload's own scale; each set-up but the first begins by stopping the
   JVM and the Python workers of the one before. ``setup_s`` is the median
   set-up time. The first warm pass is the preflight: a lane that fails
   there, in this process or in a Python worker, is reported with the
   first line of its error and left out of the timed passes;
2. checks each lane's output against its DuckDB oracle, outside the timing
   (this also runs every lane once more before the timed passes);
3. runs timed passes for ``--seconds`` seconds, each lane once per pass in
   an order drawn from the seed, each through ``bench_spark`` and a noop sink.

After every pass it reads Spark's status store and /proc. With ``--trace 1``
every other pass is traced: spans around the calls into each layer's public
functions, with the status store and /proc read after every lane; the
per-layer metrics are medians over those passes. The last line of standard
output is the JSON result; the full record, spans included, is written to
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)
sys.path.insert(0, ROOT)

from perfbench import datagen, procfs, stats  # noqa: E402
from perfbench.spans import Tracer, layer_modules  # noqa: E402
from perfbench.workloads import PREDICTED, WORKLOADS  # noqa: E402

# Each set-up launches a JVM and runs a cold pass: 18 to 37 s on 4 cores,
# against 2.5 to 3.5 s for a warm pass. With one set-up a run takes about
# 50 s, so ten runs of each workload, twice, fit in well under an hour.
N_SETUPS = 1
DEADLINE_S = 170  # the whole run; past it the run ends without a result
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "ok_frac": "ratio",
}

PER_LAYER_UNITS = {
    "pass.wall_s": "s",
    "host.foreign_frac": "ratio",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "graph.algorithms.s": "s",
    "graph.algorithms.calls": "count",
    "graph.derived.s": "s",
    "extract.html.s": "s",
    "operators.intervals.s": "s",
    "operators.dedup.s": "s",
    "operators.dedup.calls": "count",
    "operators.skew.s": "s",
    "operators.skew.calls": "count",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "exec.action_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.shuffle_write_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.slot_util": "ratio",
    "exec.idle_slot_s": "s",
    "seam.python_cpu_s": "s",
    "seam.python_workers": "count",
    "driver.py_cpu_s": "s",
    "driver.jvm_other_cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.overhead_s": "s",
}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def first_error_line(exc: BaseException) -> str:
    """The first ``SomeError: ...`` line of an exception's text; for a
    failure inside a Python worker that is the worker traceback's error."""
    text = str(exc)
    for line in text.splitlines():
        head = line.strip().split(":", 1)[0]
        if head.endswith(("Error", "Exception")) and " " not in head:
            return line.strip()[:300]
    return (text.strip().splitlines() or [type(exc).__name__])[0][:300]


def layer_metric_names(layer: str) -> tuple[str, str]:
    """(self-time metric, call-count metric) of a traced layer."""
    if layer == "sources.load":
        return "sources.load_s", "sources.load_calls"
    return f"{layer}.s", f"{layer}.calls"


def prepare_env(cpus: str) -> None:
    """Point Spark, the JVM and the Python workers at this checkout.

    Workers get the checkout on PYTHONPATH, so ``leader_graph_spark`` imports
    there whatever directory the benchmark was started from. Temporary files
    stay under the work directory.
    """
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what an earlier run's JVM left behind
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    # Compiler threads stay alive, so their CPU can be read per thread (an
    # exiting thread takes its time along); no perf-data file under /tmp.
    # The heap is the engine's own setting (16g by default).
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK} "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"
    )
    args.append(f"--driver-java-options {shlex.quote(java_opts)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


@dataclass
class Window:
    """What one measured window (a pass, or a lane of a traced pass) cost."""

    wall_s: float = 0.0
    cpu: dict = field(default_factory=dict)
    exec: dict = field(default_factory=dict)
    build_jobs: int = 0
    layers: dict = field(default_factory=dict)


@dataclass
class PassResult(Window):
    traced: bool = False
    order: list[str] = field(default_factory=list)
    failures: dict[str, str] = field(default_factory=dict)
    host: dict = field(default_factory=dict)
    lanes: dict[str, Window] = field(default_factory=dict)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return "X"
    return raw[raw.rfind(")") + 2 :].split()[0]


class Bench:
    def __init__(self, workload: str, seed: int, data_dir: str) -> None:
        from leader_graph_spark.plans import REGISTRY

        self.name = workload
        self.seed = seed
        self.data_dir = data_dir
        self.registry = REGISTRY
        self.spark = None
        self.store = None
        self.mark = (-1, -1)  # newest job and stage id already accounted for
        self.tracer = Tracer()
        self.all_lanes = list(WORKLOADS[workload].lanes)
        self.lanes = list(self.all_lanes)
        self.preflight: dict[str, str] = {}
        self.check_s: dict[str, float] = {}

    # -- session ---------------------------------------------------------
    def start(self) -> float:
        from leader_graph_spark.session import get_spark
        from perfbench.status import StatusStore

        self.shutdown()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.name}")
        took = time.perf_counter() - t0
        self.store = StatusStore(self.spark)
        self.mark = self.store.mark()
        return took

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until every child process ended."""
        from pyspark import SparkContext

        kids = procfs.descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        while alive := [p for p in kids if _state(p) not in ("X", "Z")]:
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)

    # -- measured windows ------------------------------------------------
    def _measure(self, body, window: Window, traced: bool) -> None:
        """Run ``body()`` and fill ``window`` with its wall time, process-tree
        CPU, status-store totals and, when traced, layer times of its spans."""
        mark = self.mark
        first_span = len(self.tracer.spans)
        before = procfs.sweep()
        t0 = time.perf_counter()
        build_windows = body()
        window.wall_s = time.perf_counter() - t0
        window.cpu = asdict(procfs.cpu_between(before, procfs.sweep()))
        totals, jobs, self.mark = self.store.totals_since(mark)
        window.exec = asdict(totals)
        window.build_jobs = sum(
            1
            for j in jobs
            if j.get("submissionTime") is not None
            and stats.in_windows(j["submissionTime"] / 1e3, build_windows)
        )
        if traced:
            # re-index parents into this window; spans opened before it are roots
            spans = [
                stats.Span(
                    s.name,
                    s.layer,
                    s.start,
                    s.end,
                    None if s.parent is None or s.parent < first_span else s.parent - first_span,
                )
                for s in self.tracer.spans[first_span:]
            ]
            totals_by_layer = stats.layer_totals(spans)
            window.layers = {
                "self": {k: v[0] for k, v in totals_by_layer.items()},
                "calls": {k: v[1] for k, v in totals_by_layer.items()},
                "inclusive": stats.inclusive_totals(spans),
            }

    def _span(self, traced: bool, name: str, layer: str):
        return self.tracer.span(name, layer) if traced else nullcontext()

    def _run_lane(self, lane: str, traced: bool, failures: dict[str, str]) -> list[tuple[float, float]]:
        spec = self.registry[lane]
        with self._span(traced, lane, "lane"):
            try:
                b0 = time.time()
                with self._span(traced, "plans.build", "plans.build"):
                    df = spec.bench_spark(self.spark, self.data_dir)
                build = (b0, time.time())
                with self._span(traced, "exec.action", "exec.action"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing lane is counted, never fatal
                failures[lane] = first_error_line(exc)
                return []
        return [build]

    def run_pass(self, order: list[str], traced: bool) -> PassResult:
        from leader_graph_spark.hostload import HostWindow

        res = PassResult(traced=traced, order=order)

        def body():
            windows = []
            for lane in order:
                if traced:
                    lane_window = res.lanes[lane] = Window()
                    self._measure(
                        lambda: self._run_lane(lane, True, res.failures), lane_window, True
                    )
                else:
                    windows += self._run_lane(lane, False, res.failures)
            return windows

        if traced:
            self.tracer.patch()
        try:
            with HostWindow() as hw, self._span(traced, "pass", "pass"):
                self._measure(body, res, traced)
        finally:
            if traced:
                self.tracer.unpatch()
        res.host = hw.as_dict()
        if traced:
            res.build_jobs = sum(w.build_jobs for w in res.lanes.values())
        return res

    # -- phases ----------------------------------------------------------
    def setup(self) -> list[dict]:
        """Launch the JVM, start a session and warm it, ``N_SETUPS`` times."""
        out = []
        for i in range(N_SETUPS):
            start_s = self.start()
            warm = self.run_pass(self.lanes, traced=False)
            if i == 0:
                self.preflight = dict(warm.failures)
                self.lanes = [lane for lane in self.lanes if lane not in self.preflight]
            out.append({"start_s": start_s, "warm_s": warm.wall_s, "setup_s": start_s + warm.wall_s})
        return out

    def timed(self, seconds: float, trace: bool) -> list[PassResult]:
        rng = random.Random(self.seed)
        passes: list[PassResult] = []
        spent = 0.0
        # with every lane failed in the preflight, only the minimum of passes runs
        while (spent < seconds and self.lanes) or len(passes) < (2 if trace else 1):
            order = self.lanes[:]
            rng.shuffle(order)
            p = self.run_pass(order, traced=trace and len(passes) % 2 == 1)
            passes.append(p)
            spent += p.wall_s
        return passes

    def check(self) -> dict[str, str]:
        """lane -> reason, for each lane whose output differs from its oracle."""
        import oracle  # tests/oracle.py: the project's canonical row hash

        bad = {}
        for lane in self.lanes:
            spec = self.registry[lane]
            t0 = time.perf_counter()
            try:
                r = oracle.compare(spec.bench_spark(self.spark, self.data_dir), spec.oracle, self.data_dir)
            except Exception as exc:  # counted as a failed lane
                bad[lane] = first_error_line(exc)
                continue
            finally:
                self.check_s[lane] = time.perf_counter() - t0
            if not r["match"]:
                bad[lane] = (
                    f"rows {r['rows_spark']} vs oracle {r['rows_oracle']}, "
                    f"columns match {r['cols_match']}, hash match {r['hash_match']}"
                )
        # the check's jobs belong to no pass
        _, _, self.mark = self.store.totals_since(self.mark)
        return bad


def of_kind(passes: list[PassResult], traced: bool) -> list[PassResult]:
    """The traced or the untraced passes. Every timed pass runs after the
    warm pass and the output check, so the JVM has compiled each lane's
    code twice before the first of them."""
    return [p for p in passes if p.traced == traced]


def end_to_end(setups: list[dict], passes: list[PassResult], ok_frac: float) -> dict[str, float]:
    plain = of_kind(passes, traced=False)
    return {
        "setup_s": stats.median([s["setup_s"] for s in setups]),
        "cpu_s": stats.median([p.cpu["tree_s"] - p.cpu["jit_s"] - p.cpu["gc_s"] for p in plain]),
        "shuffle_mb": stats.median([p.exec["shuffle_read_mb"] + p.exec["shuffle_write_mb"] for p in plain]),
        "ok_frac": ok_frac,
    }


def layer_row(w: Window, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced window."""
    ex, cpu, lay = w.exec, w.cpu, w.layers
    row = {
        "plans.build_s": lay["inclusive"].get("plans.build", 0.0),
        "plans.build_self_s": lay["self"].get("plans.build", 0.0),
        "plans.build_jobs": w.build_jobs,
        "exec.action_s": lay["inclusive"].get("exec.action", 0.0),
        "exec.jvm_cpu_s": ex["jvm_cpu_s"],
        "exec.task_run_s": ex["task_run_s"],
        "exec.shuffle_fetch_wait_s": ex["shuffle_fetch_wait_s"],
        "exec.shuffle_write_s": ex["shuffle_write_s"],
        "exec.shuffle_read_mb": ex["shuffle_read_mb"],
        "exec.shuffle_write_mb": ex["shuffle_write_mb"],
        "exec.spill_mb": ex["spill_mb"],
        "exec.gc_s": ex["gc_s"],
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.slot_util": stats.slot_util(ex["task_run_s"], w.wall_s, cores),
        "exec.idle_slot_s": stats.idle_slot_s(ex["task_run_s"], w.wall_s, cores),
        "seam.python_cpu_s": cpu["seam_s"],
        "seam.python_workers": cpu["seam_workers"],
        "driver.py_cpu_s": cpu["driver_py_s"],
        "driver.jvm_other_cpu_s": cpu["jvm_s"] - cpu["jit_s"] - cpu["gc_s"] - ex["jvm_cpu_s"],
        "jvm.jit_cpu_s": cpu["jit_s"],
        "jvm.gc_cpu_s": cpu["gc_s"],
        "mem.peak_rss_mb": cpu["peak_rss_mb"],
    }
    for layer in layer_modules():
        s_name, calls_name = layer_metric_names(layer)
        row[s_name] = lay["self"].get(layer, 0.0)
        row[calls_name] = lay["calls"].get(layer, 0)
    return row


def per_layer(setups: list[dict], passes: list[PassResult], cores: int) -> dict[str, float]:
    """Median over the traced passes of each layer figure."""
    traced = of_kind(passes, traced=True)
    plain = of_kind(passes, traced=False)
    rows = [layer_row(p, cores) for p in traced]
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    out["pass.wall_s"] = stats.median([p.wall_s for p in plain])
    out["host.foreign_frac"] = stats.median([p.host["foreign_frac"] for p in plain])
    out["session.start_s"] = stats.median([s["start_s"] for s in setups])
    out["session.warm_s"] = stats.median([s["warm_s"] for s in setups])
    out["trace.overhead_s"] = stats.median([p.wall_s for p in traced]) - stats.median(
        [p.wall_s for p in plain]
    )
    return out


def group_layers(workload: str, passes: list[PassResult], cores: int) -> dict[str, dict[str, float]]:
    """group -> median over traced passes of its lanes' summed layer figures."""
    groups: dict[str, list[str]] = {}
    for lane, group in WORKLOADS[workload].lanes.items():
        groups.setdefault(group, []).append(lane)
    out = {}
    for group, lanes in groups.items():
        sums = []
        for p in of_kind(passes, traced=True):
            if any(lane not in p.lanes for lane in lanes):
                continue
            rows = [layer_row(p.lanes[lane], cores) for lane in lanes]
            sums.append({k: sum(r[k] for r in rows) for k in rows[0]})
        if sums:
            out[group] = {k: stats.median([s[k] for s in sums]) for k in sums[0]}
    return out


def dominant_layer(m: dict[str, float]) -> str:
    """Plan building against the action. Inside the action, the executor JVM
    or the Python workers dominate when their CPU time is at least half the
    action's wall time; otherwise the action's time is mostly waiting."""
    if m["plans.build_s"] >= m["exec.action_s"]:
        return "plans.build_s"
    cpu = max(("exec.jvm_cpu_s", "seam.python_cpu_s"), key=lambda k: m[k])
    return cpu if m[cpu] >= 0.5 * m["exec.action_s"] else "exec.action_s"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "leader_graph_spark", "__init__.py")):
        print(f"perfbench: no leader_graph_spark package under {ROOT}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    prepare_env(cpus)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    wl = WORKLOADS[args.workload]
    data_dir = os.path.join(WORK, f"data-sf{wl.sf}-seed{args.seed}")
    datagen.write_tables(data_dir, args.seed, wl.sf)

    import pyspark

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "pyspark": pyspark.__version__,
        "data_dir": os.path.relpath(data_dir, ROOT),
        "sf": wl.sf,
        "lanes": wl.lanes,
    }
    bench = Bench(args.workload, args.seed, data_dir)
    phases = {"datagen": time.perf_counter() - t_start}
    try:
        t0 = time.perf_counter()
        setups = bench.setup()
        phases["setup"] = time.perf_counter() - t0
        context["driver_memory"] = bench.spark.conf.get("spark.driver.memory")
        t0 = time.perf_counter()
        bad = bench.check()
        phases["check"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        passes = bench.timed(args.seconds, bool(args.trace))
        phases["timed"] = time.perf_counter() - t0
    finally:
        signal.alarm(0)
        t0 = time.perf_counter()
        bench.shutdown()
        phases["shutdown"] = time.perf_counter() - t0

    # one operation = one lane in one timed pass; a lane left out by the
    # preflight or failing the output check fails in every pass
    attempted = len(bench.all_lanes) * len(passes)
    failed = sum(len(p.failures) for p in passes) + (len(bench.preflight) + len(bad)) * len(passes)
    failed = min(failed, attempted)
    cores = int(cpus)
    if args.trace:
        metrics, units = per_layer(setups, passes, cores), PER_LAYER_UNITS
    else:
        metrics, units = end_to_end(setups, passes, 1 - failed / attempted), END_TO_END_UNITS
    record = {
        "context": context,
        "preflight_failures": bench.preflight,
        "check_failures": bad,
        "check_s": bench.check_s,
        "phases_s": phases,
        "setups": setups,
        "passes": [asdict(p) for p in passes],
        "metrics": metrics,
    }
    if args.trace:
        groups = group_layers(args.workload, passes, cores)
        record["groups"] = {
            g: {"layers": m, "dominant": dominant_layer(m), "predicted": PREDICTED[g]}
            for g, m in groups.items()
        }
        record["dominant_layer"] = dominant_layer(metrics)
        record["spans"] = [asdict(s) for s in bench.tracer.spans]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)

    for lane, why in {**bench.preflight, **bad}.items():
        print(f"# failed lane {lane}: {why}")
    print("# context " + json.dumps(context))
    plain = of_kind(passes, traced=False)
    print(
        f"# wall per pass: median {stats.median([p.wall_s for p in plain]):.3f} s over {len(plain)} "
        f"passes, host foreign CPU share {stats.median([p.host['foreign_frac'] for p in plain]):.3f}"
    )
    if args.trace:
        print(f"# dominant layer of {args.workload}: {record['dominant_layer']}")
        for g, r in record["groups"].items():
            print(f"# dominant layer of lane group {g}: {r['dominant']} (predicted {r['predicted']})")
        print(f"# trace overhead: {metrics['trace.overhead_s']:.3f} s per pass")
    result = {
        "correct": not bad and not bench.preflight and not any(p.failures for p in passes),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
