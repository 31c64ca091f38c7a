"""Batch graph analytics on vertices/edges DataFrames.

"GraphX for analysis, not OLTP": the reference stores its graph in
Neo4j and never runs whole-graph analytics; at 100 TB the analytical
equivalents are DataFrame algorithms. GraphFrames is not available in
this environment, so the algorithms are implemented directly on the
edge DataFrame (the same shapes GraphFrames compiles to).

Loop contract. Every iterative algorithm here, and ``Pregel.run`` and
``DFGraph.bfs`` in :mod:`graph.frames`, runs inside one :class:`_Loop`,
which owns the whole kit; no loop body checkpoints or releases a state
itself (``tests/test_loop_lint.py`` fails when one does):

- The loop input is checkpointed ONCE, with its row count observed on
  the same job. Left lazy, every round re-executes the pipeline that
  produced it (for near-dup graphs the whole MinHash candidate join,
  measured at 4-5× of the query's cost at sf0.1).
- That count sizes the static-execution scope (:class:`_loop_exec_conf`)
  and, inside an active scope, gates a re-checkpoint of the static join
  side partitioned and sorted by the round key.
- Every round state is an eager ``localCheckpoint``, so lineage is
  truncated and the plan stays flat over any number of rounds.
  Convergence probes ride the checkpoint's own job as observed
  aggregates: one driver action per round, probe included (measured:
  the CC round job count halved).
- A frontier-sized join side takes a broadcast hint only when an
  observed count proves it small.
- A superseded state is released only after its successor has
  materialized, and every state the result does not reference is
  released when the loop exits.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


CKPT_SER_CONF = "spark.leader_graph_spark.checkpoint.serialized"
# Auto-engage threshold: when a materialized loop-state checkpoint's
# storage footprint exceeds this fraction of the unified pool's
# current storage capacity, subsequent checkpoints in the session
# switch to the serialized level. <=0 disables the auto decision.
CKPT_AUTO_CONF = "spark.leader_graph_spark.checkpoint.autoSerializeFraction"


def _ckpt_level(spark):
    """Checkpoint storage level: MEMORY_AND_DISK (engine default —
    deserialized rows, zero re-read cost) unless
    ``spark.leader_graph_spark.checkpoint.serialized=true`` selects
    MEMORY_AND_DISK_SER. The serialized form shrinks the on-heap
    footprint of the big per-round edge states several-fold — the
    round-9 spill battery measured k-core at the x30 replica dying at
    a 6g heap under the default level (storage + execution could not
    coexist) and completing under SER — at the price of per-round
    deserialization on healthy heaps (~37% steady-state, measured).
    Memory-pressure insurance, not a default; since round 10 the flip
    is AUTOMATIC: :func:`_maybe_auto_serialize` measures each
    materialized state against the live storage budget and sets this
    conf when the state crowds execution out."""
    from pyspark.storagelevel import StorageLevel

    if (spark.conf.get(CKPT_SER_CONF, "false") or "").lower() == "true":
        # PySpark's MEMORY_AND_DISK constant is the JVM's serialized
        # variant (deserialized=False) — exactly the compact form.
        return StorageLevel.MEMORY_AND_DISK
    return None  # engine default (JVM MEMORY_AND_DISK, deserialized)


def _maybe_auto_serialize(spark, ckpt: DataFrame) -> DataFrame | None:
    """Auto-engage the serialized-checkpoint escape hatch (round 10,
    VERDICT r9 Next #5). The r9 spill battery diagnosed the 6g k-core
    death as STORAGE starving EXECUTION: a deserialized loop-state
    checkpoint several times its serialized size occupies the unified
    pool, and the next round's shuffle cannot acquire execution memory
    (UNABLE_TO_ACQUIRE_MEMORY inside localCheckpoint). The measured
    escape hatch (``CKPT_SER_CONF=true``: dead 6g lane → 48.6 s) was
    manual; this derives it.

    Decision, made AFTER each default-level checkpoint materializes
    (the footprint is then a fact, not an estimate): if the state's
    stored bytes (memory + any already-evicted disk portion) exceed
    ``CKPT_AUTO_CONF`` (default 0.5) × the unified pool's CURRENT
    max on-heap storage capacity, set ``CKPT_SER_CONF=true`` so every
    subsequent loop checkpoint in this session lands serialized — AND
    convert the oversized state itself: re-checkpoint it at the
    serialized level (a plain scan-and-persist of the resident blocks,
    no shuffle, so it survives heaps where the next round's
    aggregation would not) and release the deserialized original,
    returning the replacement. Flipping only the conf is not enough:
    the round-10 quiet-box A/B caught the 6g lane dying in the NEXT
    round's ``localCheckpoint`` with the first oversized deserialized
    state still resident — the flip had fired, but the pressure it
    diagnosed was still on the heap. Loop states are round-over-round
    similar in size (usually shrinking), so with the trigger state
    converted and every later checkpoint serialized from birth, the
    deserialized regime never recurs; healthy heaps — whose states sit
    far below half the pool — never pay the ~37% serialization tax.
    The flip is sticky for the session (states that size keep coming
    in the same workload); reset the conf or use ``spark.newSession()``
    to shed it. Telemetry-grade: any introspection failure silently
    keeps the default level and returns ``None`` (caller keeps the
    original state)."""
    try:
        frac = float(spark.conf.get(CKPT_AUTO_CONF, "0.5") or 0.0)
    except ValueError:
        return None
    if frac <= 0:
        return None
    try:
        plan = ckpt._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return None
        rid = plan.rdd().id()
        footprint = None
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                footprint = info.memSize() + info.diskSize()
                break
        if not footprint:
            return None
        max_storage = (
            spark._jvm.org.apache.spark.SparkEnv.get()
            .memoryManager()
            .maxOnHeapStorageMemory()
        )
        if max_storage > 0 and footprint > frac * max_storage:
            spark.conf.set(CKPT_SER_CONF, "true")
            import logging

            logging.getLogger(__name__).warning(
                "loop-state checkpoint footprint %.1f MB exceeds %.0f%% of the "
                "%.1f MB storage budget: switching session checkpoints to the "
                "serialized level (%s=true) and converting the resident state",
                footprint / 1e6,
                frac * 100,
                max_storage / 1e6,
                CKPT_SER_CONF,
            )
            # Convert the trigger state NOW: serialized copy first
            # (reads the resident deserialized blocks once), release
            # the original only after the copy has materialized —
            # localCheckpoints are unrecoverable once unpersisted.
            ser = ckpt.localCheckpoint(eager=True, storageLevel=_ckpt_level(spark))
            _release(ckpt)
            return ser
    except Exception:
        return None
    return None


_MEMORY_STARVATION_MARKS = (
    "UNABLE_TO_ACQUIRE_MEMORY",
    "SparkOutOfMemoryError",
    "OutOfMemoryError",
)


def _is_memory_starvation(exc: Exception) -> bool:
    msg = str(exc)
    return any(m in msg for m in _MEMORY_STARVATION_MARKS)


def _checkpoint_observed(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` with observation metrics riding the
    SAME job (no ``aggs``: a plain checkpoint and an empty dict). Run
    as a separate ``count()``/``first()`` a probe doubles the driver
    actions per round — and each action is a full scheduling barrier on
    a real cluster, the latency floor of every loop-style query.

    Memory-starvation recovery (round 10): a default-level checkpoint
    that DIES of execution starvation (``UNABLE_TO_ACQUIRE_MEMORY`` /
    ``SparkOutOfMemoryError`` while materializing — the r9 6g failure
    mode, which post-materialization measurement can never catch when
    the FIRST oversized state is the one that dies) flips the session
    to the serialized level and retries the round once. The retry is
    sound because the failed checkpoint never truncated anything: the
    input lineage still references the previous round's resident state
    (or the base scan on round one). A ``System.gc()`` nudge lets the
    ContextCleaner drop the failed attempt's partial blocks before the
    retry."""
    spark = df.sparkSession

    def attempt():
        obs = Observation()
        observed = df.observe(obs, *[e.alias(n) for n, e in aggs.items()]) if aggs else df
        out = observed.localCheckpoint(eager=True, storageLevel=_ckpt_level(spark))
        return out, obs.get if aggs else {}

    if _ckpt_level(spark) is not None:
        return attempt()
    try:
        out, seen = attempt()
    except Exception as exc:  # noqa: BLE001 — filtered to starvation below
        if not _is_memory_starvation(exc):
            raise
        spark.conf.set(CKPT_SER_CONF, "true")
        import logging

        logging.getLogger(__name__).warning(
            "default-level loop checkpoint died of memory starvation; "
            "retrying the round at the serialized level (%s=true): %s",
            CKPT_SER_CONF,
            str(exc)[:200],
        )
        try:
            spark._jvm.System.gc()  # drop the failed attempt's partial blocks
        except Exception:  # noqa: BLE001 — best-effort nudge only
            pass
        return attempt()
    # default-level state materialized: measure it against the storage
    # budget; if it crowds execution out, auto-engage the serialized
    # level for the rest of the session AND swap in a serialized
    # conversion of this very state
    return _maybe_auto_serialize(spark, out) or out, seen


def _release(*dfs: DataFrame | None) -> None:
    """Unpersist SUPERSEDED localCheckpoint states — storage lifecycle
    for the iterative loops.

    Each round re-checkpoints its state; the superseded blocks
    otherwise wait for the ASYNC ContextCleaner (driven by driver GC
    plus a periodic System.gc() whose default interval is 30 MINUTES),
    so a bench run accumulates rounds × |state| of dead storage. The
    round-7 second-decade battery measured the consequence: at the 30×
    replica, back-to-back k-core runs GC-thrashed the 16g JVM into
    `OutOfMemoryError: Java heap space` (SCALE.md round-7). On a real
    cluster the same lag inflates executor storage exactly when memory
    is scarcest.

    Only provably-dead states may be passed: ``localCheckpoint``
    TRUNCATES lineage, so a released state that is referenced later is
    unrecoverable by design — callers release a round's state only
    after its successor checkpoint has materialized (eager) and no
    returned plan references it.

    Mechanics: ``Dataset.unpersist()`` is a NO-OP for localCheckpoints
    — it routes through the SQL cache manager, which only tracks
    ``persist()``/``cache()`` entries, while localCheckpoint persists
    at the RDD level (test_iterative_loops_release_superseded_
    checkpoints caught the first version of this function silently
    releasing nothing). A checkpointed Dataset's analyzed plan is a
    ``LogicalRDD`` carrying the persisted RDD — unpersist THAT."""
    for df in dfs:
        if df is None:
            continue
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
        else:
            df.unpersist()


STATIC_LOOP_CONF = "spark.leader_graph_spark.loop.staticMaxRows"
PARTITIONED_MIN_CONF = "spark.leader_graph_spark.loop.partitionedMinRows"
BCAST_FRONTIER_CONF = "spark.leader_graph_spark.loop.broadcastFrontierMaxRows"
DRIVER_CC_CONF = "spark.leader_graph_spark.cc.driverMaxEdges"
# Bounds every driver-side graph solve — connected components' union-find
# and label propagation's rounds (:func:`_driver_or_loop`): an edge list
# whose OBSERVED raw row count is at or under it is solved from ONE Arrow
# collect of those rows (the symmetric pair set built from them is at
# most twice the limit); past it, one whose observed symmetric pair
# count is at or under it is collected from that symmetric checkpoint
# instead; otherwise the distributed loop runs. It bounds the rows a
# collect brings to the driver. 0 forces the loop with no raw-edge
# checkpoint.
# (merge_components' quotient path takes its limit as the
# driver_quotient_limit argument instead.)


def _conf_int(spark, key: str, default: int, minimum: int) -> int:
    """Integer session conf ``key`` (``default`` when unset). A value
    that is not an integer ``>= minimum`` raises ``ValueError`` naming
    the key, instead of silently picking a branch."""
    raw = spark.conf.get(key, str(default))
    try:
        value = int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"{key} must be an integer >= {minimum}, got {raw!r}") from None
    if value < minimum:
        raise ValueError(f"{key} must be >= {minimum}, got {value}")
    return value


def _loop_confs(spark) -> tuple[int, int, int]:
    """The static-scope row limit, the partitioned-layout gate and the
    frontier broadcast limit, read (and validated) before any job."""
    return (
        _conf_int(spark, STATIC_LOOP_CONF, 4_000_000, 0),
        _conf_int(spark, PARTITIONED_MIN_CONF, 10_000, 0),
        _conf_int(spark, BCAST_FRONTIER_CONF, 1_000_000, -1),
    )


class _loop_exec_conf:
    """Static shuffle execution for a KNOWN-SMALL iterative loop.

    An iterative round moves a label stream whose size is known exactly
    (the loop state is checkpointed with an observed count). When that
    state is small, the per-round cost is pure scheduling volume, and
    AQE makes it worse, not better: every round's shuffle becomes a
    materialized query stage (a separate sub-job on the scheduler
    queue) and the session's cores-sized ``spark.sql.shuffle.partitions``
    fans each tiny stage into dozens of near-empty tasks. Measured on
    ``incremental_component_merge`` at sf0.1: AQE on / 32 partitions =
    7.2 s, 68 jobs, 1157 tasks; AQE off / 4 static partitions = 3.3 s,
    28 jobs, 181 tasks — same bytes, half the wall (SCALE.md round-8).

    Scope rule (the 100 TB story): static mode engages ONLY when the
    loop state is below ``spark.leader_graph_spark.loop.staticMaxRows``
    (default 4M rows); partitions are derived from the row count
    (≈250k rows each, floor 4 for local parallelism, cap 256). The
    threshold is where the derived partition count crosses the slot
    count: below it the per-round cost is scheduling volume and static
    execution halves the wall (the incremental-merge A/B); above it
    the rounds are real compute and AQE earns its sub-jobs back —
    measured on kcore_copurchase at the x30 replica (36M-row edge
    state): static 36.5-43.8s / 1343 tasks vs AQE 30.5-31.2s / 415
    tasks with 12 exchange-reusing skipped stages and ~25% fewer
    shuffled bytes (round-8 third-decade battery; an earlier 50M-row
    default put that loop on the wrong side). Above the threshold
    nothing changes. Confs are restored on exit; loops execute their
    rounds EAGERLY (checkpoint-per-round), so the scope covers exactly
    the loop.

    CONCURRENCY CONTRACT: this scope mutates SESSION-GLOBAL conf
    (disables AQE, pins ``spark.sql.shuffle.partitions``) for the
    duration of the loop — any query executed concurrently on the
    SAME SparkSession while a loop is running would also run under
    the static settings. Every iterative algorithm in this module
    therefore assumes single-query-at-a-time use of its session,
    which is the repo-wide execution model (one driver, queries run
    sequentially; the bench and the driver harness both comply). A
    caller that needs concurrent queries during a loop should run
    the loop on ``spark.newSession()`` (separate SQLConf, shared
    cluster) or raise ``STATIC_LOOP_CONF`` to 0 to keep AQE on."""

    def __init__(self, spark, n_rows: int):
        self.spark = spark
        self.active = n_rows < _conf_int(spark, STATIC_LOOP_CONF, 4_000_000, 0)
        self.n_rows = n_rows
        self.saved: dict[str, str] = {}

    def __enter__(self):
        if not self.active:
            return self
        conf = self.spark.conf
        parts = max(4, min(256, -(-self.n_rows // 250_000)))
        self.saved = {
            "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        }
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
        return False


class _Loop(_loop_exec_conf):
    """The loop kit of the module docstring, as one context manager.

    ``with _Loop(base, key=...) as loop`` reads every loop conf once,
    before any job (or takes them already read, as ``_confs``);
    checkpoints ``base`` with its row count observed (``loop.base``,
    ``loop.n_rows``), or adopts a ``base`` that is already such a
    checkpoint of ``_n_rows`` rows; opens the static scope sized from that
    count (``static=False`` keeps the session's settings); and, in an
    active scope of at least ``PARTITIONED_MIN_CONF`` rows, re-checkpoints
    the base hash-partitioned and sorted by ``key``. ``localCheckpoint``
    preserves ``outputPartitioning``/``outputOrdering``, so every round's
    sort-merge join then skips both the exchange and the sort on that
    side: one up-front shuffle replaces one per round (measured on
    ``personalized_pagerank_regions``: the membership edge set was
    re-exchanged in all 8 iterations; pagerank_membership sf0.1, 15k
    edges × 8 rounds: shuffle 9.7 → 1.1 MB, wall 1.68 → 1.47 s
    best-of-7). Below the gate (default 10k rows) the extra job is a
    measured net loss (dedup_canonical_docs sf0.1: +0.7 s wall, −0
    shuffle bytes); under AQE a pinned layout cannot be proven to match
    the coalesced partition counts, so it is never applied there.
    Whether a graph is solved on the driver instead is decided before
    any loop is built (:func:`_driver_or_loop`).

    States live in named slots. ``step(name, df, **probes)``
    checkpoints ``df`` with ``probes`` observed on the same job (read
    back from ``loop.seen``), then releases the slot's previous state.
    Stepping ``"base"`` replaces the loop input. ``keep(*names)`` marks
    the slots whose final states back the result (a tuple slot name is
    matched by its first element); every other slot is released on
    exit. The starvation retry and the automatic switch to serialized
    checkpoints apply to every step (:func:`_checkpoint_observed`)."""

    def __init__(
        self,
        base: DataFrame,
        *,
        key: str | None = None,
        static: bool = True,
        _confs: tuple[int, int, int] | None = None,
        _n_rows: int | None = None,
    ):
        spark = base.sparkSession
        self.static_max, self.partitioned_min, self.bcast_max = (
            _confs or _loop_confs(spark)
        )
        self.spark, self.active, self.saved = spark, False, {}
        self._input, self._key, self._static = base, key, static
        self._n_rows = _n_rows
        self._states: dict = {}
        self._kept: set = set()
        self.seen: dict = {}

    def __enter__(self):
        if self._n_rows is None:
            self.step("base", self._input, n=F.count(F.lit(1)))
        else:
            self._states["base"], self.seen = self._input, {"n": self._n_rows}
        self.n_rows = self.seen["n"]
        self.active = self._static and self.n_rows < self.static_max
        super().__enter__()
        try:
            if self._key and self.active and self.n_rows >= self.partitioned_min:
                parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                self.step(
                    "base",
                    self.base.repartition(parts, self._key).sortWithinPartitions(self._key),
                )
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def __exit__(self, *exc):
        _release(*[
            df for name, df in self._states.items()
            if (name[0] if isinstance(name, tuple) else name) not in self._kept
        ])
        return super().__exit__(*exc)

    @property
    def base(self) -> DataFrame:
        return self._states["base"]

    def step(self, name, df: DataFrame, **probes) -> DataFrame:
        out, self.seen = _checkpoint_observed(df, **probes)
        _release(self._states.get(name))
        self._states[name] = out
        return out

    def keep(self, *names) -> None:
        self._kept.update(names)

    def broadcast(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Broadcast hint for a per-round FRONTIER side whose row count
        ``n_rows`` is proven by an observation (r10, guide §2.4/§3.1):
        checkpointed states are ``LogicalRDD`` leaves without statistics,
        so Catalyst never broadcasts them on its own — every round then
        sort-merge-joined the full static edge table (measured on
        ``weighted_sssp_copurchase`` at sf0.1: the 18.4 MB symmetrized
        edge set re-exchanged in all six rounds for frontiers of a few
        thousand rows). The hint engages only at most
        ``BCAST_FRONTIER_CONF`` rows (default 1M — tens of MB framed;
        -1 disables it), so a 100 TB frontier stays shuffled."""
        return F.broadcast(df) if 0 <= n_rows <= self.bcast_max else df


def symmetrize(edges: DataFrame, *, disjoint_directions: bool = False) -> DataFrame:
    """Undirected view of a directed edge list (distinct both ways).

    ``disjoint_directions``: set ONLY when the caller guarantees the
    input is already a DISTINCT edge set whose reversed pairs can never
    collide with it — e.g. a bipartite graph whose src/dst live in
    disjoint id namespaces (the co-purchase 'c…'→'p…' build). The
    union of the two directions is then distinct by construction and
    the final ``distinct()`` — a full shuffle of 2×|edges|, ~25% of
    kcore_copurchase's total shuffle bytes at sf0.1 — is skipped.
    Output is identical; flag misuse would DOUBLE duplicate edges, so
    callers assert the namespace split, not just assume it."""
    both = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return both if disjoint_directions else both.distinct()


def degrees(edges: DataFrame) -> DataFrame:
    """Vertex degree over the undirected view."""
    return symmetrize(edges).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def _driver_frame(spark, schema: T.StructType, columns: list[list]) -> DataFrame:
    """Hand a driver-side result back to Spark as one Arrow table, one
    Python list per schema field. The table becomes a ``LocalRelation``:
    no job, no Python worker, and plan statistics for the joins above
    it. ``createDataFrame(list)`` would instead parallelize pickled rows
    behind a ``PipelinedRDD`` — Python workers on first use and a
    stat-less ``LogicalRDD`` (measured for the LPA handoff on the
    benchmark's ``loops_extract`` workload, 4 cores: 0.84 s of
    Python-worker CPU and 0.25 s more action time per pass)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _collect_pairs(edges: DataFrame) -> set:
    """The symmetric distinct ``(src, dst)`` pair set of a provably-small
    edge list — the set :func:`symmetrize` computes — from ONE Arrow
    collect (``toArrow``: no Python worker, no pickled rows) and Python
    set building, so no shuffle. Pairs compare as Python values: ids
    exactly as the column's Spark ordering and equality (bigints
    numerically, strings as UTF8), and a null endpoint equal to another
    null, as in ``distinct``. Callers guard the collect with an observed
    row count; this function never decides size itself."""
    table = edges.select("src", "dst").toArrow()
    src, dst = table.column("src").to_pylist(), table.column("dst").to_pylist()
    return set(zip(src, dst)) | set(zip(dst, src))


@contextmanager
def _driver_or_loop(edges: DataFrame, *, key: str):
    """Read a graph's ``(src, dst)`` edge list ONCE and decide where to
    solve it. Yields ``(pairs, id_type, None)`` for a driver solve or
    ``(None, None, loop)``, a :class:`_Loop` over ``symmetrize(edges)``
    keyed by ``key``.

    The raw projection is checkpointed with its row count observed on
    the same job — one job, no exchange. At most ``DRIVER_CC_CONF`` rows
    it is collected once (:func:`_collect_pairs`), released, and solved
    on the driver: the limit bounds the collected rows, and the
    symmetric pair set built from them holds at most twice as many.
    Reading the raw edges, not their symmetric view, keeps the
    ``distinct`` shuffle off this branch: on the benchmark's LPA lane
    (about 3 000 edges) that shuffle carried all of the workload's
    shuffle bytes. Past the limit ``symmetrize`` of the raw checkpoint
    is checkpointed with its pair count observed and the raw checkpoint
    released; a pair set within the limit (a heavily duplicated edge
    list) is then collected and solved on the driver, and a larger one
    becomes the loop's base as it stands. Either way the graph pays one
    narrow checkpoint job more than a symmetric read would; measured on
    100 000 raw edges (4 cores, warm), CC's loop took 3.43–3.88 s
    through this job against 3.49–3.89 s entered directly.
    ``DRIVER_CC_CONF=0`` enters the loop directly, with no raw
    checkpoint. Every conf is read once, before any job, so a bad loop
    conf fails on either branch."""
    spark = edges.sparkSession
    limit = _conf_int(spark, DRIVER_CC_CONF, 100_000, 0)
    confs = _loop_confs(spark)
    base, n_rows = symmetrize(edges), None
    if limit:
        small, seen = _checkpoint_observed(edges.select("src", "dst"), n=F.count(F.lit(1)))
        if seen["n"] > limit:
            sym, seen = _checkpoint_observed(symmetrize(small), n=F.count(F.lit(1)))
            _release(small)
            small, base, n_rows = sym, sym, seen["n"]
        if seen["n"] <= limit:
            pairs = _collect_pairs(small)
            id_type = small.schema["src"].dataType
            _release(small)
            yield pairs, id_type, None
            return
    with _Loop(base, key=key, _confs=confs, _n_rows=n_rows) as loop:
        yield None, None, loop


def _driver_components(spark, pairs: set, id_type: T.DataType) -> DataFrame:
    """Union-find over a small symmetric pair set (:func:`_collect_pairs`)
    → (id, component = minimum member id), bit-identical to converged
    min-label propagation (ids compare exactly as the column's Spark
    ordering — the same equivalence ``merge_components`` pins in tests).
    A pair with a null endpoint joins nothing, as in the loop's
    equi-joins, and a null id gets no label here."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for src, dst in pairs:
        if src is None or dst is None:
            continue
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[ra] = rb
    members = set(parent)
    for v in list(members):
        members.add(find(v))
    comp_min: dict = {}
    for v in members:
        r = find(v)
        m = comp_min.get(r)
        comp_min[r] = v if m is None or v < m else m
    ids = sorted(members)
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return _driver_frame(spark, schema, [ids, [comp_min[find(v)] for v in ids]])


def _driver_label_propagation(
    spark, pairs: set, id_type: T.DataType, rounds: int
) -> DataFrame:
    """``rounds`` synchronous LPA rounds over a small symmetric pair set
    (:func:`_collect_pairs`) → (id, community), the exact contract of
    :func:`label_propagation_fixed`'s loop: the vertices are the distinct
    ``src`` values; each round a vertex adopts the most frequent label
    among its neighbors, count ties to the MINIMUM label (ids compare as
    the column's Spark ordering, as in :func:`_driver_components`), and
    keeps its label with no neighbor. Null endpoints behave as the loop's
    equi-joins make them: a null ``src`` votes for no one, a vote for a
    null ``dst`` is dropped, and the null vertex keeps its null label."""
    from collections import Counter

    voters: dict = {}
    for src, dst in pairs:
        voters.setdefault(src, [])
        if src is not None and dst is not None:
            voters.setdefault(dst, []).append(src)
    labels = {v: v for v in voters}
    for _ in range(rounds):
        new = {}
        for v, us in voters.items():
            if us:
                counts = Counter(labels[u] for u in us)
                new[v] = min(counts.items(), key=lambda lc: (-lc[1], lc[0]))[0]
            else:
                new[v] = labels[v]
        labels = new
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("community", id_type)]
    )
    return _driver_frame(spark, schema, [list(labels), list(labels.values())])


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Each vertex starts labeled with its own id; every round each vertex
    takes the min of its label and its neighbors' labels; converges in
    O(graph diameter) rounds. At 100 TB scale the same loop applies
    (diameter of social-style graphs is small); for adversarial
    long-path graphs swap in the large-star/small-star variant — the
    per-round primitive (join + min-agg) is identical.

    Returns (id, component) where component is the minimum vertex id in
    the component.

    Small graphs are solved on the driver (:func:`_driver_or_loop`: one
    narrow checkpoint of the raw edges, one Arrow collect, union-find in
    Python); the rest run the loop.

    Semantics note (ADVICE r10): the size-guarded DRIVER union-find
    always returns the fully CONVERGED labeling — ``max_iter``
    bounds only the distributed loop. For graphs under the driver
    threshold whose component diameter exceeds ``max_iter`` the two
    paths would differ; every registered caller either uses the
    default 25 (>> the diameters of these graphs) or wants
    convergence, and the dual-path equality is pinned by
    ``test_connected_components_driver_and_loop_paths_agree``.
    """
    # Size-guarded driver swap (r10, same policy and limit family as
    # merge_components' quotient path): a provably-small edge set is
    # solved by union-find from ONE collect instead of O(diameter)
    # checkpointed rounds — at sf0.1 the base-CC loop of
    # incremental_component_merge was ~20 stages of near-zero CPU,
    # pure scheduling barriers. Labels are bit-identical (min member
    # id, pinned by test + oracle). A 100 TB edge set never collects:
    # the guard reads the OBSERVED count, not an estimate.
    with _driver_or_loop(edges, key="dst") as (pairs, id_type, loop):
        if loop is None:
            return _with_isolated(
                vertices, _driver_components(edges.sparkSession, pairs, id_type)
            )
        labels = _converged_labels(loop, loop.base, max_iter)
    return _with_isolated(vertices, labels)


def connected_components_narrow(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Narrow-label scale twin of :func:`connected_components`: the
    32-char md5 vertex ids this engine uses as content keys make every
    propagation round shuffle ~40-byte label values; at 100 TB the
    label stream IS the round cost. This variant ranks the vertex
    universe once (:func:`ranked_vertices` — ascending id, so
    min-rank ≡ min-id), propagates 8-byte BIGINT ranks, and maps back
    to id labels in one final join. Output is bit-identical to the
    string form (same min-reachable-id labeling; equality
    test-pinned), with per-round shuffle width cut ~5x (measured in
    bytes at the 10x replica: 3.0 -> 0.6 MB/round — SCALE.md round-7)."""
    with _Loop(symmetrize(edges), static=False) as loop:
        all_ids = (
            vertices.select("id")
            .unionByName(loop.base.select(F.col("src").alias("id")))
            .distinct()
        )
        ranked = ranked_vertices(all_ids.select(F.col("id").alias("v")), checkpoint=True)
        r_src = ranked.select(F.col("v").alias("src"), F.col("rank0").alias("isrc"))
        r_dst = ranked.select(F.col("v").alias("dst"), F.col("rank0").alias("idst"))
        # the int edge set replaces the string one as the loop's base
        int_edges = loop.step(
            "base",
            loop.base.join(r_src, "src")
            .join(r_dst, "dst")
            .select(F.col("isrc").alias("src"), F.col("idst").alias("dst")),
        )
        labels = _converged_labels(loop, int_edges, max_iter)
    # map int ranks back to id labels; isolated vertices label themselves
    comp_name = ranked.select(
        F.col("rank0").alias("component"), F.col("v").alias("component_id")
    )
    named = (
        labels.join(ranked, labels.id == ranked.rank0)
        .join(comp_name, "component")
        .select(F.col("v").alias("id"), F.col("component_id").alias("component"))
    )
    return (
        vertices.select("id")
        .distinct()
        .join(named, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def _converged_labels(loop: _Loop, sym: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation over ``sym`` until no label changes (or
    ``max_iter`` rounds) — the loop body of both CC variants. The
    ``changed`` probe is a free column of the round join."""
    labels = loop.step("labels", _active_vertices(sym))
    for _ in range(max_iter):
        labels = loop.step(
            "labels",
            _min_propagation_round(sym, labels, with_changed=True),
            changed=F.sum(F.col("_changed").cast("long")),
        ).select("id", "component")
        if not loop.seen["changed"]:
            break
    loop.keep("labels")
    return labels


def _active_vertices(sym: DataFrame) -> DataFrame:
    """Initial labels over ONLY the vertices that appear in an edge.

    A vertex with no edge is its own component by definition — dragging
    it through every propagation round just multiplies the shuffled
    label state (on a 100 TB corpus the dup-pair graph touches a few
    percent of docs; propagating over all of them is a ~25-50× larger
    state than the active subgraph). At sf0.1-local this is
    time-neutral (per-round cost there is scheduler/checkpoint fixed
    overhead — measured 1.15s for 4 rounds with either label set); the
    win is the shuffled-state reduction, which only matters once label
    state dwarfs fixed costs."""
    return (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )


def _with_isolated(vertices: DataFrame, labels: DataFrame) -> DataFrame:
    """Re-attach edge-less vertices (component = own id) in ONE final
    left join instead of carrying them through every round.

    ``distinct()`` first: CC returns a labeling of the vertex SET —
    one row per id even when the caller's vertex table carries
    duplicate natural keys (same content-derived md5 id twice is the
    same entity under the reference's first-wins A5 semantics). The
    round-6 10x battery caught the duplicate-passthrough: replicated
    names made the engine emit one row per duplicate while the
    recursive oracle's GROUP BY emitted the set."""
    return vertices.select("id").distinct().join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def _min_propagation_round(
    sym: DataFrame, labels: DataFrame, *, with_changed: bool = False
) -> DataFrame:
    neighbor_min = (
        sym.join(labels, sym.dst == labels.id)
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("component").alias("neighbor_component"))
    )
    new_comp = F.least(
        F.col("component"),
        F.coalesce(F.col("neighbor_component"), F.col("component")),
    )
    cols = ["id", new_comp.alias("component")]
    if with_changed:
        cols.append((new_comp != F.col("component")).alias("_changed"))
    return labels.join(neighbor_min, "id", "left").select(*cols)


def connected_components_two_phase(
    vertices: DataFrame, edges: DataFrame, *, max_iter: int = 40
) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the provably O(log² n)-ROUND converged CC, vs the
    O(diameter) rounds of min-label propagation. This is the variant
    the plain-propagation docstrings defer to for adversarial
    long-path graphs (and the SOUND replacement for the retired
    pointer-jump, whose radius-doubling claim was false): both star
    operations only ever reconnect a vertex to the minimum of its
    current neighborhood, so every intermediate edge set stays within
    the original components, and at the fixed point the edge set is a
    star per component centered at its minimum id.

    Per round: two groupBy-min + join passes over the edge set (same
    per-round primitive cost as one propagation round on each star
    phase), checkpointed; convergence is detected by an order-free
    (count, xxhash-sum) fingerprint of the canonical edge set — one
    tiny aggregate per round, no edge-set self-join. Returns
    (id, component) like :func:`connected_components` — output is
    value-identical (both are "minimum reachable id"), which the
    recursive-CTE oracle of ``connected_components_membership``
    verifies in full for the registered query."""

    def canonical(e: DataFrame) -> DataFrame:
        # undirected edge set as (lo, hi), self-loops dropped
        return (
            e.select(
                F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def both_dirs(e: DataFrame) -> DataFrame:
        return e.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionByName(
            e.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        # per center u: every neighbor v > u connects to
        # m = min(Γ(u) ∪ {u})
        nb = both_dirs(e)
        mins = nb.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return canonical(
            nb.where(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # per center u: every neighbor v < u (and u itself) connects to
        # m = min of that set
        nb = both_dirs(e)
        small = nb.where(F.col("dst") < F.col("src"))
        mins = small.groupBy("src").agg(F.min("dst").alias("m"))
        moved = (
            small.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins.select("src", F.col("m").alias("dst")))
        )
        return canonical(moved)

    with _Loop(symmetrize(edges), static=False) as loop:
        # The edge state shrinks toward one star per component while the
        # session keeps shuffle.partitions-many tasks per stage; coalescing
        # the tiny state each round cuts per-round scheduler cost (the
        # dominant term at local scale — and the per-barrier term a cluster
        # pays too). 8 partitions is plenty for a state that is orders of
        # magnitude smaller than the input corpus. The order-free set
        # fingerprint uses bit_xor, which cannot overflow under ANSI (a
        # hash SUM can and did).
        fingerprint = dict(n=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64("lo", "hi")))
        e = loop.step("base", canonical(loop.base).coalesce(8), **fingerprint)
        for _ in range(max_iter):
            fp = loop.seen
            e = loop.step("base", small_star(large_star(e)).coalesce(8), **fingerprint)
            if loop.seen == fp:
                break
        loop.keep("base")
    # converged: stars (leaf, center=min). A component minimum appears
    # only as `hi`'s partner — label every vertex by min neighbor, the
    # center labels itself.
    labels = (
        both_dirs(e)
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nmin"))
        .select(
            "id", F.least(F.col("id"), F.col("nmin")).alias("component")
        )
    )
    return _with_isolated(vertices, labels)


def min_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    rounds: int,
    hops_per_checkpoint: int = 2,
) -> DataFrame:
    """Exactly ``rounds`` min-label propagation rounds with NO
    convergence check — a deterministic plan an unrolled SQL oracle can
    reproduce row-for-row (propagation is idempotent once converged, so
    extra rounds don't change labels). Exact equality to the converged
    :func:`connected_components` holds iff ``rounds`` ≥ the component
    diameter — true by construction for near-dup clusters (small,
    dense), asserted in tests for the shipped data.

    ``hops_per_checkpoint`` composes that many neighbor-min hops into
    ONE checkpointed stage — a pure plan-shape knob: the computed
    function is identical (it IS ``rounds`` plain hops, just fewer
    materialization barriers), unlike the retired pointer-jump whose
    reduced ROUND COUNT was unsound. At sf0.1 the per-checkpoint cost
    is ~0.3s of fixed scheduler latency (SCALE.md round-4 breakdown),
    so halving barriers recovers the pointer-jump's measured win with
    none of its risk; at cluster scale the same trade holds per
    whole-cluster barrier round-trip."""
    # Rounds run over the ACTIVE subgraph only (see _active_vertices);
    # edge-less vertices join back once at the end. Output is identical
    # to full-vertex propagation — an isolated vertex can neither give
    # nor receive a label — so the unrolled SQL oracle is unchanged.
    with _Loop(symmetrize(edges), key="dst") as loop:
        labels = loop.step("labels", _active_vertices(loop.base))
        done = 0
        while done < rounds:
            hops = min(hops_per_checkpoint, rounds - done)
            for _ in range(hops):
                labels = _min_propagation_round(loop.base, labels)
            labels = loop.step("labels", labels)
            done += hops
        loop.keep("labels")
    return _with_isolated(vertices, labels)


def pagerank_fixed_point(
    edges: DataFrame, *, iterations: int = 8
) -> DataFrame:
    """PageRank (damping 0.85) in integer micro-units.

    All arithmetic is BIGINT — per-edge contribution ``rank div
    out_degree``, update ``150000 + (0.85 · Σcontrib)`` via ``*85 div
    100`` — so the result is exactly order-independent and an unrolled
    SQL oracle reproduces it bit-for-bit (float PageRank would hash
    differently across engines because summation order differs).
    Dangling-node mass leaks, as in the classic formulation.

    Per iteration: one join edges⋈ranks (equi on src, co-partitioned
    after the first shuffle) + one aggregation on dst —
    the same shape GraphX Pregel compiles to.
    Returns (id, rank) with rank in micro-units (initial = 1_000_000).
    """
    return _fixed_point_rank(edges, None, iterations, 85)


def _fixed_point_rank(
    edges: DataFrame, sources: DataFrame | None, iterations: int, damping_pct: int
) -> DataFrame:
    """The loop of both integer PageRanks: teleport mass lands on every
    vertex (``sources`` None: 150 000 micro-units, initial rank
    1 000 000) or only on the ``sources`` seeds (``teleport`` and
    initial rank scaled by ``is_seed``)."""
    with _Loop(edges.select("src", "dst"), key="src") as loop:
        edges = loop.base
        nodes = (
            edges.select("src")
            .unionByName(edges.select(F.col("dst").alias("src")))
            .distinct()
            .select(F.col("src").alias("id"))
        )
        if sources is None:
            teleport, initial = F.lit(150000), F.lit(1000000).cast("bigint")
        else:
            nodes = nodes.join(
                F.broadcast(sources.select(F.col("id"), F.lit(1).alias("_seed"))),
                "id",
                "left",
            ).select("id", F.coalesce("_seed", F.lit(0)).alias("is_seed"))
            teleport = (F.col("is_seed") * ((100 - damping_pct) * 10000)).cast("bigint")
            initial = (F.col("is_seed") * 1000000).cast("bigint")
        # Checkpoint the vertex set (r10): left lazy, every round's
        # new_ranks re-ran the union+distinct over the edge set — two
        # full edge passes per iteration for a vertex-sized table. The
        # in-partition sort lets each round's SMJ against contrib skip
        # the sort as well as the exchange.
        nodes = loop.step("nodes", nodes.sortWithinPartitions("id"))
        outd = loop.step("outd", edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")))
        ranks = loop.step("ranks", nodes.select("id", initial.alias("rank")))
        for _ in range(iterations):
            contrib = (
                edges.join(ranks, edges.src == ranks.id)
                .join(outd, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.expr("rank div d")).alias("s"))
            )
            ranks = loop.step(
                "ranks",
                nodes.join(contrib, "id", "left").select(
                    "id",
                    (teleport + F.expr(
                        f"(coalesce(s, CAST(0 AS BIGINT)) * {damping_pct}) div 100"
                    ))
                    .cast("bigint")
                    .alias("rank"),
                ),
            )
        loop.keep("ranks")
    return ranks


def khop_distances(
    edges: DataFrame, sources: DataFrame, *, k: int
) -> DataFrame:
    """Multi-source BFS over the undirected view: shortest hop distance
    (≤ ``k``) from ANY source vertex — the "everyone within N hops of
    X" reachability query of a leadership/social graph. One merged
    frontier (:func:`_lane_bfs` with lane ``["id"]``).

    Returns (id, dist) for every vertex reachable within k hops;
    sources themselves are dist 0 (``dist`` INT).
    """
    return _lane_bfs(edges, sources.select("id", F.lit(0).alias("dist")), ["id"], k)


def multi_source_distances(
    edges: DataFrame, pivots: DataFrame, *, k: int
) -> DataFrame:
    """Per-pivot BFS: hop distance (≤ ``k``) from EACH pivot vertex
    separately — the primitive behind distance-based centralities
    (closeness, harmonic, eccentricity estimates), where
    ``khop_distances``' single merged frontier only answers "distance
    from ANY source". State and frontier carry (id, pivot) pairs
    (:func:`_lane_bfs` with lane ``["id", "pivot"]``), so per-round work
    is bounded by |V| x |pivots| rather than walks. At scale the pivot
    set is the sampling knob: Eppstein-Wang style centrality estimation
    keeps |pivots| fixed as V grows, so the state stays a constant
    multiple of the vertex set.

    Returns (id, pivot, dist) for every vertex within k hops of each
    pivot; each pivot itself appears at dist 0 (``dist`` BIGINT).
    """
    # dedupe seeds: a pivot id supplied twice (e.g. a dimension
    # table replicated at a scale twin) would otherwise plant
    # duplicate (id, pivot) dist-0 lanes that the per-lane
    # anti-join preserves forever, inflating every count built on
    # the result (caught by the sf1 replica, where nation rows are
    # duplicated 10x and n_reached read 14 instead of 5).
    seeds = (
        pivots.select("id")
        .distinct()
        .select("id", F.col("id").alias("pivot"), F.lit(0).cast("bigint").alias("dist"))
    )
    return _lane_bfs(edges, seeds, ["id", "pivot"], k)


def _lane_bfs(edges: DataFrame, seeds: DataFrame, lane: list[str], k: int) -> DataFrame:
    """Pregel-style frontier expansion over the undirected view, exactly
    ``k`` fixed rounds (no convergence action, so an unrolled SQL oracle
    reproduces it). ``seeds`` carries the ``lane`` columns (``id`` first)
    plus ``dist`` 0, whose type every round keeps. Each round joins the
    frontier to the edge list (shuffle keyed by vertex id — the BFS
    shape GraphFrames/GraphX compile to), and an anti-join against the
    visited set on the whole lane keeps every lane's FIRST (= minimum)
    hop count and stops re-expansion, so total work is O(edges within k
    hops), not O(walks). An empty frontier makes remaining rounds no-ops
    (joins against zero rows), keeping the plan deterministic for the
    oracle rather than data-dependent."""
    with _Loop(symmetrize(edges), key="src") as loop:
        sym = loop.base
        visited = loop.step("visited", seeds)
        dist_type = visited.schema["dist"].dataType
        frontier = visited.select(*lane)
        for r in range(1, k + 1):
            frontier = loop.step(
                "frontier",
                sym.join(frontier, sym.src == frontier.id)
                .select(F.col("dst").alias("id"), *lane[1:])
                .distinct()
                .join(visited, lane, "left_anti"),
            )
            visited = loop.step(
                "visited",
                visited.unionByName(
                    frontier.select(*lane, F.lit(r).cast(dist_type).alias("dist"))
                ),
            )
        loop.keep("visited")
    return visited


def _min_fold(state: DataFrame, relaxed: DataFrame, col: str) -> DataFrame:
    """One-exchange min-fold of a relaxation stream into the running
    per-vertex minimum state (r10 optimization, guide §2.2/§3.2).

    Replaces the loop-round full-outer join + ``least`` fold — whose
    per-round cost was TWO exchanges (the state side of the
    SortMergeJoin plus the candidate ``groupBy``) and two sorts — with
    a tagged union into ONE hash aggregate: one exchange, zero sorts,
    no join, and the raw relaxation stream is map-side combined by the
    partial aggregate before it ever shuffles (the candidate-side
    pre-``groupBy`` the join form needed as a separate exchange).

    Equivalence to ``state FULL OUTER JOIN min(relaxed) ON id``:
    the state is one row per id (seeds are deduped and every fold
    groups by id), so the per-id min over the union splits exactly
    into (old value, min of candidates); ``least`` skips nulls in
    both forms; ``_improved`` matches the join form's
    ``old.isNull() | (new < old)`` case-for-case (no old row → true;
    no candidate → false/null, which filters and sum-counts the same;
    both present → strict improvement). Pinned by
    ``test_min_fold_equals_full_outer_fold``.

    ``state`` carries (id, <col>); ``relaxed`` carries candidate
    (id, <col>) rows, many per id allowed. Returns
    (id, n<col>, _improved)."""
    tagged = state.select(
        "id", F.col(col).alias("_v"), F.lit(True).alias("_old")
    ).unionByName(
        relaxed.select("id", F.col(col).alias("_v"), F.lit(False).alias("_old"))
    )
    return (
        tagged.groupBy("id")
        .agg(
            F.min(F.when(F.col("_old"), F.col("_v"))).alias("_oldv"),
            F.min(F.when(~F.col("_old"), F.col("_v"))).alias("_newv"),
        )
        .select(
            "id",
            F.least(F.col("_oldv"), F.col("_newv")).alias("n" + col),
            (
                F.col("_oldv").isNull() | (F.col("_newv") < F.col("_oldv"))
            ).alias("_improved"),
        )
    )


def weighted_sssp(
    edges: DataFrame, sources: DataFrame, *, rounds: int
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths by synchronous Bellman-Ford
    relaxation, exactly ``rounds`` fixed rounds: the returned ``dist``
    is the minimum total edge weight over paths of at most ``rounds``
    edges from any source — itself a well-defined quantity (bounded-hop
    cheapest reach), and equal to the true shortest distance whenever
    ``rounds`` ≥ the weighted-path hop depth. Fixed rounds keep the
    unrolled-SQL-oracle contract of ``khop_distances`` /
    ``pagerank_fixed_point``.

    ``edges`` must carry (src, dst, w) with the directions the caller
    wants relaxed (symmetrize first for undirected graphs); ``sources``
    carries (id), seeded at dist 0. Unlike BFS, a visited anti-join is
    WRONG here (a later path may be cheaper than the first), so each
    round relaxes only the DELTA frontier (:func:`_delta_relax`). At
    100 TB the round primitive (join keyed by vertex id +
    map-side-combinable min) is the same shuffle shape GraphX/Pregel
    compile SSSP to.

    Returns (id, dist) for every vertex reached within ``rounds``
    relaxations; sources themselves are dist 0.
    """
    return _delta_relax(
        edges,
        sources,
        "dist",
        lambda e: e.select(
            F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        ),
        rounds=rounds,
    )


def temporal_earliest_arrival(
    contacts: DataFrame, seeds: DataFrame, *, rounds: int
) -> DataFrame:
    """Time-respecting reachability (earliest-arrival temporal BFS):
    given timestamped ``contacts`` (src, dst, t) and ``seeds`` known at
    time 0, a vertex's arrival is the minimum time it can first be
    reached over paths whose contact times are NON-DECREASING — the
    information/contagion-spread semantics of temporal networks, which
    static reachability overstates (a contact that happened BEFORE the
    source itself was reached cannot transmit). Relaxation per round:
    ``arr'(v) = min(arr(v), min{t : (u,v,t) ∈ contacts, t ≥ arr(u)})``,
    exactly ``rounds`` rounds (bounded-hop earliest arrival — the
    fixed-round oracle contract and delta-frontier relaxation of
    ``weighted_sssp``, :func:`_delta_relax`). Scale shape per round:
    one join keyed by vertex id against the contact list
    (broadcast-hash while the frontier is provably small) plus one
    map-side-combined min-fold aggregate — contacts shuffle ONCE up
    front (partitioned by ``src``), the running state is the only
    per-round stream.

    Returns (id, arrival) for every vertex reachable time-respectingly
    within ``rounds`` contact hops; seeds themselves are arrival 0.
    """
    return _delta_relax(
        contacts,
        seeds,
        "arrival",
        lambda e: e.where(F.col("t") >= F.col("arrival")).select(
            F.col("dst").alias("id"), F.col("t").alias("arrival")
        ),
        rounds=rounds,
        key="src",
    )


def _delta_relax(
    edges: DataFrame,
    seeds: DataFrame,
    col: str,
    relax,
    *,
    rounds: int,
    key: str | None = None,
) -> DataFrame:
    """Delta-frontier min relaxation shared by :func:`weighted_sssp` and
    :func:`temporal_earliest_arrival`: the running per-vertex minimum
    ``col`` starts at 0 on the (deduped) seeds; each round ``relax``
    maps the edges joined to the frontier — the vertices whose value
    improved last round, broadcast while their observed count is small
    — to candidate (id, ``col``) rows, and :func:`_min_fold` folds them
    into the state (one tagged-union hash aggregate — value-identical to
    the full-outer join + ``least`` fold it replaced, at one exchange
    per round instead of two). Work per round is O(edges incident to
    improved vertices), provably equal to all-edge relaxation because
    min-folding is monotone. A round that improves nothing is a fixed
    point: every remaining unrolled round is a provable no-op (monotone
    and idempotent), so the loop stops there. ``key`` partitions the
    edge side for the round join."""
    with _Loop(edges, key=key) as loop:
        # dedupe seeds: duplicate source rows would ride through the
        # fold as duplicate per-id rows in every round and the final
        # result (same hazard multi_source_distances guards).
        state = loop.step(
            "state",
            seeds.select("id").distinct().select("id", F.lit(0).cast("bigint").alias(col)),
            n=F.count(F.lit(1)),
        )
        frontier, n_frontier = state, loop.seen["n"]
        for _ in range(rounds):
            fr = loop.broadcast(frontier, n_frontier)
            folded = loop.step(
                "state",
                _min_fold(state, relax(loop.base.join(fr, loop.base.src == fr.id)), col),
                i=F.sum(F.col("_improved").cast("bigint")),
            )
            n_frontier = loop.seen["i"] or 0
            state = folded.select("id", F.col("n" + col).alias(col))
            frontier = folded.where(F.col("_improved")).select(
                "id", F.col("n" + col).alias(col)
            )
            if n_frontier == 0:
                break
        loop.keep("state")
    return state.select("id", col)


def label_propagation_fixed(edges: DataFrame, *, rounds: int) -> DataFrame:
    """Synchronous label-propagation community detection (LPA), exactly
    ``rounds`` fixed rounds — deterministic where textbook LPA is not:
    every vertex starts labeled with its own id, and each round adopts
    the most frequent label among its NEIGHBORS, breaking count ties by
    MINIMUM label (and keeping its current label only if it has no
    neighbors). Fixed rounds + total tie order make the result an exact
    function of the graph, so an unrolled SQL oracle can value-check it
    — the same contract as ``pagerank_fixed_point`` and
    ``khop_distances``, vs GraphFrames' LPA whose async schedule is
    nondeterministic.

    Scale shape per round (r11 restructure, VERDICT r10 next-6): one
    groupBy on (vertex, neighbor-label) — map-side combinable — then
    the per-vertex top-1 as a SECOND hash aggregate
    ``min(struct(-count, label))`` (max count, ties by minimum label:
    exactly the retired ``row_number`` window's (desc c, asc label)
    first row, but partially aggregated map-side and with no sort),
    and a join back onto the label table. The label state is one row
    per vertex with an observed count riding its checkpoint, so the
    label side of the edge join and the pick side of the fold-back
    join take provably-guarded broadcast hints (``_Loop.broadcast``)
    — with the edge list re-checkpointed partitioned by the round key,
    no round re-exchanges anything but the two narrow aggregates.

    Small graphs are solved on the driver instead: when the observed raw
    edge count is at most ``DRIVER_CC_CONF`` (the limit shared with
    connected components, default 100 000; 0 forces the loop), the raw
    edges are checkpointed and collected once with no shuffle, and past
    it a symmetric pair set within the limit is collected from its
    checkpoint (:func:`_driver_or_loop`); the
    rounds run in Python with the same contract
    (:func:`_driver_label_propagation`) and the labels come back as an
    Arrow ``LocalRelation`` — two jobs in place of a checkpoint per
    round. At small sizes the loop's cost is scheduling, not compute:
    on ``lpa_membership_communities`` at sf0.01 (about 3 000 symmetric
    edges, 4 cores) the forced loop runs 15 jobs / 22 stages / 82 tasks
    and shuffles 679 kB, the driver solve 5 / 5 / 10 and no bytes. At
    the limit (39 718 vertices, 100 000 raw and 200 000 symmetric edges,
    3 rounds, warm session, 4 cores) the driver solve took 1.36–1.96 s
    against the loop's 1.88–2.88 s, with identical output. Above the
    limit the loop below runs unchanged.

    Returns (id, community).
    """
    with _driver_or_loop(edges, key="src") as (pairs, id_type, loop):
        if loop is None:
            return _driver_label_propagation(edges.sparkSession, pairs, id_type, rounds)
        sym = loop.base
        nodes = sym.select(F.col("src").alias("id")).distinct()
        labels = loop.step(
            "labels", nodes.select("id", F.col("id").alias("label")), n=F.count(F.lit(1))
        )
        n_nodes = loop.seen["n"]
        for _ in range(rounds):
            cnt = (
                sym.join(loop.broadcast(labels, n_nodes), sym.src == labels.id)
                .groupBy(F.col("dst").alias("nid"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            pick = (
                cnt.groupBy("nid")
                .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
                .select(F.col("nid").alias("id"), F.col("m.label").alias("new_label"))
            )
            labels = loop.step(
                "labels",
                labels.join(loop.broadcast(pick, n_nodes), "id", "left").select(
                    "id", F.coalesce("new_label", "label").alias("label")
                ),
            )
        loop.keep("labels")
    return labels.select("id", F.col("label").alias("community"))


def kcore_subgraph(
    edges: DataFrame, *, k: int, rounds: int, disjoint_directions: bool = False
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop vertices whose
    CURRENT degree is < k, keeping edges whose BOTH endpoints survive.
    ``rounds`` is the unroll depth — peeling is monotone (a dropped
    vertex never returns) and idempotent at the fixed point, so the
    result equals the true k-core whenever ``rounds`` ≥ the peel depth
    (the same deterministic-unroll contract as :func:`min_propagation`
    and the LPA oracle; convergence within the registered round count
    is test-asserted for the shipped data).

    The k-core is the classic graph-curation filter — vertices with
    enough mutual support to carry neighborhood-based signals
    (link prediction, community features); degree-1 tendrils peel off
    in cascades. Per round: one vertex-keyed degree count (map-side
    combinable) and two semi-joins of the edge list against the
    survivor set, checkpointed — no shuffle beyond the degree key.

    Returns (id, degree): surviving vertices with their final in-core
    degree."""
    with _Loop(symmetrize(edges, disjoint_directions=disjoint_directions)) as loop:
        e, n_edges = loop.base, loop.n_rows
        for _ in range(rounds):
            # Early exit at the fixed point: peeling is idempotent, so
            # stopping when a round removes nothing returns EXACTLY what
            # the remaining unrolled rounds would — the fixed-round oracle
            # contract is preserved while the engine pays only the peel
            # depth (measured: the shipped graph converges by round 4 of
            # 8; rounds 5-8 were pure checkpoint+semi-join overhead, ~2x
            # of the query at 10x scale).
            keep = (
                e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select("src")
            )
            # Survivor set is PROVABLY ≤ n_edges div k rows (each
            # survivor owns ≥ k of the observed symmetrized edge
            # rows), so the broadcast guard needs no extra action.
            # Broadcast semi-joins drop BOTH per-round exchanges of
            # the edge set (the SMJ re-partitioned all surviving
            # edges by src and again by dst every round — the
            # dominant byte term of kcore_copurchase); only the
            # map-side-combined degree aggregate still shuffles, and
            # it moves (vertex, partial-count) rows, not edges. A
            # 100 TB survivor set past the guard keeps the shuffled
            # path unchanged.
            kb = loop.broadcast(keep, n_edges // max(k, 1))
            e = loop.step(
                "base",
                e.join(kb, "src", "semi").join(
                    kb.withColumnRenamed("src", "dst"), "dst", "semi"
                ),
                n=F.count(F.lit(1)),
            )
            if loop.seen["n"] == n_edges:
                break
            n_edges = loop.seen["n"]
        # Checkpoint the SMALL per-vertex output; the surviving-edge
        # state is released on exit. Returned lazy, the plan would pin
        # the edge-sized block (120M rows at the x100 replica — the
        # largest checkpoint in the engine) until the periodic-GC
        # backstop, and back-to-back runs swing ±45% from the
        # accumulated storage (round-8 third-decade battery).
        out = loop.step(
            "out",
            e.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).cast("bigint").alias("degree")
            ),
        )
        loop.keep("out")
    return out


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    *,
    max_iter: int = 25,
    driver_quotient_limit: int = 100_000,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of
    NEW edges into an existing (id, component) labeling without
    re-running CC over the historical edge set — the graph analog of
    the repo's algebraic state merges (``merge_algebraic_state``,
    incremental MinHash index probes).

    Mechanics: each new edge collapses to an edge between its
    endpoints' CURRENT components (endpoints unseen by the labeling
    are their own component); connected components of that QUOTIENT
    graph — whose size is bounded by the delta, not the history —
    give a component→new-minimum mapping that one broadcast join
    applies to the full labeling. Correct because CC of a merged
    graph equals CC of the quotient over old components: every old
    component is internally connected, so only the delta's
    cross-component links matter. Output: (id, component) covering
    old AND newly-introduced vertices — identical to a full recompute
    (oracle-checked for the registered query).

    Scale swap (size-guarded like the ranked-vertex path): the
    quotient graph is sized by the DELTA's component touches, so for
    typical incremental batches it is tiny — up to
    ``driver_quotient_limit`` edges its components are solved by
    driver-side union-find from ONE Arrow collect (the iterative quotient
    CC was ~60 scheduling barriers of pure fixed overhead, the single
    biggest local line item of the headline bench), with labels =
    min member id, bit-identical to :func:`connected_components`
    (min-reachable-id; ids compare as ASCII/UTF8 — equality
    test-pinned against the distributed path). Above the limit the
    distributed loop runs — a 100 TB delta touching millions of
    components never lands on the driver."""
    sym = symmetrize(new_edges)
    lab_src = labels.select(F.col("id").alias("src"), F.col("component").alias("csrc"))
    lab_dst = labels.select(F.col("id").alias("dst"), F.col("component").alias("cdst"))
    q_edges = (
        sym.join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("csrc", F.col("src")).alias("src"),
            F.coalesce("cdst", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    q_edges, seen = _checkpoint_observed(q_edges, n=F.count(F.lit(1)))
    if seen["n"] <= driver_quotient_limit:
        pairs = _collect_pairs(q_edges)
        # driver path consumed the quotient in one collect — release it
        _release(q_edges)
        mapping = _driver_components(
            q_edges.sparkSession, pairs, q_edges.schema["src"].dataType
        ).select(
            F.col("id").alias("component"),
            F.col("component").alias("new_component"),
        )
    else:
        q_vertices = (
            q_edges.select(F.col("src").alias("id"))
            .unionByName(q_edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        mapping = connected_components(q_vertices, q_edges, max_iter=max_iter).select(
            F.col("id").alias("component"), F.col("component").alias("new_component")
        )
    # all ids that must appear: previously labeled + delta endpoints
    all_ids = (
        labels.select("id")
        .unionByName(sym.select(F.col("src").alias("id")))
        .distinct()
    )
    with_old = all_ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return with_old.join(F.broadcast(mapping), "component", "left").select(
        "id",
        F.coalesce("new_component", F.col("component")).alias("component"),
    )


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_phases: int = 30,
    max_rounds: int = 100,
) -> DataFrame:
    """DIRECTED strongly connected components — the classic GraphX
    algorithm the undirected lane lacks (everything else here
    symmetrizes). Trim + forward-coloring + backward-mark phases
    (the FW-BW-Trim family, Slota et al. / Orzan coloring), all on
    DataFrame joins:

    1. TRIM: iteratively peel vertices with no in-edge or no out-edge
       inside the remaining subgraph — they are singleton SCCs (their
       own label). A DAG trims away entirely, so phases are paid only
       for actual cycles.
    2. COLOR: converged min-label propagation along edge DIRECTION:
       color(v) = min id that can reach v.
    3. MARK: from each color root r (color(r) = r), walk edges
       BACKWARD restricted to vertices of the same color; everything
       marked is exactly SCC(r), labeled r — which is also the
       minimum member id (any smaller member would reach r and lower
       r's own color; proof in the docstring test). Extract, repeat
       on the remainder.

    Labels therefore match the oracle's ``min(w : v ↔ w)`` exactly.
    Every loop round is ONE driver action (convergence probes ride the
    checkpoint via observe); per-phase round counts are
    diameter-bounded. Worst case (nested cycle chains) pays
    O(phases · rounds); ``max_phases`` guards it honestly — the
    function raises rather than returning partial labels.

    Returns (id, component) for every vertex (isolated ⇒ own id)."""
    verts = vertices.select("id").distinct()
    assigned: list[DataFrame] = []
    with _Loop(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    ) as loop:
        e_all = loop.base
        remaining = loop.step("remaining", verts, n=F.count(F.lit(1)))
        n_remaining = loop.seen["n"]
        for _ in range(max_phases):
            if n_remaining == 0:
                break
            # -- trim singleton SCCs ---------------------------------------
            # A round's survivors are the next round's `remaining`, which
            # the round after still anti-joins against: trim states take
            # turns in two slots.
            for r in range(max_rounds):
                e_r = e_all.join(
                    remaining.withColumnRenamed("id", "src"), "src", "semi"
                ).join(remaining.withColumnRenamed("id", "dst"), "dst", "semi")
                has_in = e_r.select(F.col("dst").alias("id")).distinct()
                has_out = e_r.select(F.col("src").alias("id")).distinct()
                keep = loop.step(
                    ("trim", r % 2),
                    remaining.join(has_in, "id", "semi").join(has_out, "id", "semi"),
                    n=F.count(F.lit(1)),
                )
                n_keep = loop.seen["n"]
                if n_keep == n_remaining:
                    break
                assigned.append(loop.step(
                    ("assigned", len(assigned)),
                    remaining.join(keep, "id", "anti").select(
                        "id", F.col("id").alias("component")
                    ),
                ))
                remaining, n_remaining = keep, n_keep
            if n_remaining == 0:
                break
            # -- forward min-color to convergence --------------------------
            e_r = loop.step(
                "e_r",
                e_all.join(remaining.withColumnRenamed("id", "src"), "src", "semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "semi"),
            )
            colors = remaining.select("id", F.col("id").alias("color"))
            for _ in range(max_rounds):
                pred_min = (
                    e_r.join(colors, e_r.src == colors.id)
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("color").alias("pmin"))
                )
                new_color = F.least(
                    F.col("color"), F.coalesce(F.col("pmin"), F.col("color"))
                )
                colors = loop.step(
                    "colors",
                    colors.join(pred_min, "id", "left").select(
                        "id",
                        new_color.alias("color"),
                        (new_color != F.col("color")).alias("_changed"),
                    ),
                    changed=F.sum(F.col("_changed").cast("long")),
                ).select("id", "color")
                if not loop.seen["changed"]:
                    break
            else:
                # Exhausting the round budget mid-propagation would hand MARK
                # non-converged colors and silently mislabel high-diameter
                # cycle chains — the docstring's no-partial-labels contract
                # must hold for the inner loops too, not just max_phases.
                raise RuntimeError(
                    f"SCC forward coloring did not converge within "
                    f"{max_rounds} rounds (diameter exceeds budget)"
                )
            # -- backward mark within color classes ------------------------
            marked = loop.step("marked", colors.where(F.col("id") == F.col("color")))
            frontier = marked
            for _ in range(max_rounds):
                preds = (
                    e_r.join(frontier, e_r.dst == frontier.id)
                    .select(F.col("src").alias("id"), "color")
                    .distinct()
                )
                # stay inside the color class, and only newly marked rows
                same_color = preds.join(colors, ["id", "color"], "semi")
                frontier = loop.step(
                    "frontier", same_color.join(marked, "id", "anti"), n=F.count(F.lit(1))
                )
                if not loop.seen["n"]:
                    break
                marked = loop.step("marked", marked.unionByName(frontier))
            else:
                # A frontier still alive after max_rounds means the extracted
                # set is a PARTIAL SCC; its unmarked members would get a
                # different label next phase. Raise instead.
                raise RuntimeError(
                    f"SCC backward mark did not converge within "
                    f"{max_rounds} rounds (diameter exceeds budget)"
                )
            assigned.append(loop.step(
                ("assigned", len(assigned)),
                marked.select("id", F.col("color").alias("component")),
            ))
            remaining = loop.step(
                "remaining", remaining.join(marked, "id", "anti"), n=F.count(F.lit(1))
            )
            n_remaining = loop.seen["n"]
        if n_remaining:
            raise RuntimeError(
                f"SCC did not converge within {max_phases} phases "
                f"({n_remaining} vertices unassigned)"
            )
        loop.keep("assigned")
    out = assigned[0] if assigned else verts.select(
        "id", F.col("id").alias("component")
    ).limit(0)
    for a in assigned[1:]:
        out = out.unionByName(a)
    # isolated vertices (never in an edge) label themselves
    return (
        verts.join(out, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def deterministic_random_walks(
    edges: DataFrame, *, steps: int, salt: str = "walk"
) -> DataFrame:
    """Fixed-length random walks from EVERY vertex — the sampling
    primitive behind node2vec/DeepWalk-style graph representation
    training data — made deterministic: at step s from vertex v, the
    next hop is ``sorted_neighbors(v)[ md5(start|s|v) % degree(v) ]``.
    md5 seeding makes the whole walk a pure function of the graph
    (reproducible releases, and the DuckDB oracle replays every hop);
    a vertex with no outgoing neighbor would end its walk early — over
    a symmetrized graph every reached vertex has one.

    Scale shape: the neighbor table is one row per vertex holding the
    SORTED neighbor array (one groupBy); each step is an equi-join of
    the walk frontier against it, keyed by the current vertex — steps
    are sequential by nature, but each is a single co-partitioned
    join, and the frontier never exceeds one row per start vertex.
    Output: (start_id, final_id, path) with path = '->'-joined vertex
    ids including the start."""
    sym = symmetrize(edges)
    nbrs = (
        sym.groupBy(F.col("src").alias("cur"))
        .agg(F.array_sort(F.collect_list("dst")).alias("nbr"))
        .localCheckpoint()
    )
    walk = nbrs.select(
        F.col("cur").alias("start_id"),
        F.col("cur"),
        F.col("cur").cast("string").alias("path"),
    )
    for s in range(1, steps + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("start_id").cast("string"),
                            F.lit(str(s)),
                            F.col("cur").cast("string"),
                            F.lit(salt),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.size("nbr")
            + 1
        )
        walk = (
            walk.join(nbrs, "cur")
            .select(
                "start_id",
                F.element_at("nbr", pick.cast("int")).alias("cur"),
                F.concat_ws("->", "path", F.element_at("nbr", pick.cast("int")).cast("string")).alias("path"),
            )
        )
    return walk.select("start_id", F.col("cur").alias("final_id"), "path")


def _negative_pick_hash(salt: str):
    """First 8 md5 hex digits of ``src|dst|salt`` as a bigint — the
    deterministic corruption index before the ``% |V|`` fold."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                    F.lit(salt),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")


def ranked_vertices(
    vertices: DataFrame,
    *,
    n_partitions: int | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """(v, rank0) with rank0 = 0-indexed position of v in the globally
    sorted vertex universe — WITHOUT a global single-reducer window.
    Two-phase distributed rank: repartitionByRange(v) +
    sortWithinPartitions gives the total order; the rank is
    ``monotonically_increasing_id`` split into (ordered partition
    index, in-partition offset) plus a ≤ n_partitions-row carry table
    joined back by broadcast — the only unpartitioned window runs over
    the carry aggregate, never over data-sized input.

    ``n_partitions`` defaults to the session's
    ``sparkContext.defaultParallelism`` so rank-build parallelism
    tracks the cluster instead of capping at a constant — on a
    1000-executor cluster the range partitioner spreads |V| over the
    real slot count, not 32.

    ``checkpoint=True`` materializes the result and RELEASES the
    internal ranged checkpoint (|V|-sized blocks that the lazy return
    otherwise keeps referenced — and persisted — for as long as the
    caller holds the plan); use it when the caller was going to
    ``localCheckpoint()`` the result anyway (narrow CC does)."""
    if n_partitions is None:
        n_partitions = max(vertices.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = (
        vertices.select("v")
        .repartitionByRange(n_partitions, "v")
        .sortWithinPartitions("v")
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    with_pos = ranged.withColumn(
        "_pid", F.shiftright("_mid", 33).cast("int")
    ).withColumn("_local", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
    totals = with_pos.groupBy("_pid").agg(F.count(F.lit(1)).alias("_ptotal"))
    w_carry = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    carry = totals.select(
        "_pid", F.coalesce(F.sum("_ptotal").over(w_carry), F.lit(0)).alias("_carry")
    )
    out = with_pos.join(F.broadcast(carry), "_pid").select(
        "v", (F.col("_carry") + F.col("_local")).cast("bigint").alias("rank0")
    )
    if checkpoint:
        out = out.localCheckpoint()
        _release(ranged)
    return out


def link_prediction_pairs(
    edges: DataFrame, *, salt: str = "neg", broadcast_vertex_limit: int = 5_000_000
) -> DataFrame:
    """Training pairs for link prediction: every undirected edge as a
    positive (label 1) plus one DETERMINISTIC negative corruption per
    edge (label 0) — the corrupted dst is the vertex at
    ``md5(src|dst|salt) % |V|`` in the globally sorted vertex list,
    KEPT only when it is a genuine non-neighbor of src (filter, no
    resample — a fixed single-probe policy keeps the output a pure
    function of the graph, at the cost of slightly fewer than one
    negative per positive; the drop rate is the graph's density, which
    is what negative sampling assumes is small anyway).

    Scale shape: when the vertex universe fits a broadcast
    (≤ ``broadcast_vertex_limit`` ids) the sorted list ships as one
    broadcast array; above the limit the lookup switches to an
    equi-join against :func:`ranked_vertices` (same semantics,
    bit-identical output — pinned by a test that runs both paths) so
    no single array ever has to hold the id universe. The non-edge
    check is one anti-join against the edge set. Output:
    (src, dst, label)."""
    sym = symmetrize(edges).localCheckpoint()
    vd = sym.select(F.col("src").alias("v")).distinct()
    n_verts = vd.count()
    pos = sym.where(F.col("src") < F.col("dst"))
    if n_verts <= broadcast_vertex_limit:
        verts = vd.agg(F.array_sort(F.collect_list("v")).alias("vs"))
        pick = (_negative_pick_hash(salt) % F.size("vs") + 1).cast("int")
        cand = (
            pos.crossJoin(F.broadcast(verts))
            .select("src", F.element_at("vs", pick).alias("neg_dst"))
            .where(F.col("neg_dst") != F.col("src"))
        )
    else:
        picked = pos.select(
            "src", (_negative_pick_hash(salt) % F.lit(n_verts)).alias("_rank")
        )
        cand = (
            picked.join(ranked_vertices(vd), picked["_rank"] == F.col("rank0"))
            .select("src", F.col("v").alias("neg_dst"))
            .where(F.col("neg_dst") != F.col("src"))
        )
    negatives = (
        cand.alias("c")
        .join(
            sym.alias("e"),
            (F.col("c.src") == F.col("e.src"))
            & (F.col("c.neg_dst") == F.col("e.dst")),
            "left_anti",
        )
        .select(
            F.col("c.src").alias("src"),
            F.col("c.neg_dst").alias("dst"),
            F.lit(0).alias("label"),
        )
    )
    positives = pos.select("src", "dst", F.lit(1).alias("label"))
    return positives.unionByName(negatives)


def personalized_pagerank_fixed_point(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iterations: int = 8,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank (damping 0.85) in integer micro-units:
    the teleport mass lands ONLY on the ``sources`` set instead of
    uniformly — rank then measures proximity to the seeds, the
    recommend-related-entities primitive (GraphX's
    ``personalizedPageRank`` analog). Same integer fixed-point
    discipline as :func:`pagerank_fixed_point`: contributions are
    ``rank div out_degree`` BIGINTs, update = ``teleport + (85 ·
    Σcontrib) div 100`` with teleport 150 000 micro-units on seeds and
    0 elsewhere, so the unrolled SQL oracle reproduces every iteration
    bit-for-bit. Per iteration: one co-partitioned join + one dst-keyed
    aggregation; seeds broadcast (a seed set is small by definition).

    ``damping_pct`` generalizes the damping factor to any whole percent
    (GraphFrames' ``resetProbability`` = ``1 - damping_pct/100``); the
    default 85 is the form the unrolled SQL oracle replays bit-exactly."""
    if not (isinstance(damping_pct, int) and 0 <= damping_pct <= 100):
        raise ValueError(
            f"damping_pct must be a whole percent in [0, 100], got {damping_pct!r} "
            "(the integer fixed-point form keeps the unrolled oracle bit-exact)"
        )
    return _fixed_point_rank(edges, sources, iterations, damping_pct)


def ancestor_closure(parents: DataFrame, *, max_rounds: int) -> DataFrame:
    """Transitive (node, anc, depth) closure of a parent-pointer
    forest — the traversal under every org-chart / category-tree
    rollup. ``parents`` is one (child, parent) row per non-root node;
    in a forest each node has exactly one parent, so every
    node→ancestor path is unique and the closure needs no distinct.

    Pregel-style: each round joins the frontier's current ancestor
    back to the parent table to climb one level (shuffle keyed by the
    ancestor id), accumulating (node, anc, depth) rows. Fixed
    ``max_rounds`` (an empty frontier makes remaining rounds no-op
    joins) so a recursive-CTE oracle reproduces it exactly; chains
    stop naturally at nodes with no parent row. Output size is O(nodes × depth) —
    bounded for the shallow trees org hierarchies actually are
    (fanout-f forests have depth log_f n).
    """
    with _Loop(parents.select("child", "parent")) as loop:
        par = loop.base
        closure = loop.step(
            "closure",
            par.select(
                F.col("child").alias("node"),
                F.col("parent").alias("anc"),
                F.lit(1).alias("depth"),
            ),
        )
        frontier = closure
        for _ in range(2, max_rounds + 1):
            frontier = loop.step(
                "frontier",
                frontier.join(par, frontier.anc == par.child).select(
                    frontier.node,
                    par.parent.alias("anc"),
                    (frontier.depth + 1).alias("depth"),
                ),
            )
            closure = loop.step("closure", closure.unionByName(frontier))
        loop.keep("closure")
    return closure


def pivot_betweenness(
    edges: DataFrame, pivots: DataFrame, *, k: int, unit: int = 1_000_000
) -> DataFrame:
    """Pivot-sampled, depth-bounded betweenness dependencies (Brandes
    2001 §4, with the pivot-sampling of Brandes-Pich 2007): for each
    pivot s, a forward BFS counts shortest paths σ per (vertex, pivot)
    lane, then the backward pass accumulates the dependency
    δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ_w) level by level.
    Returns one (id, pivot, dist, delta) row per lane with δ computed
    at hop depth < k (the deepest level's δ is identically 0 and is
    not emitted); betweenness is the per-vertex sum over pivots.

    ``edges`` must already contain both directions. δ is fixed-pointed:
    each edge's share is computed by INTEGER division
    (σ_v·(unit+δ_w) div σ_w) before the per-vertex sum, so the
    distributed aggregation is order-independent and an unrolled SQL
    oracle reproduces it bit-for-bit. (σ·δ products stay far inside
    BIGINT at these scales with milli units; a corpus-scale run would
    move the numerator to DECIMAL(38,0).)

    Scale shape: forward is the ``multi_source_distances`` lane plan —
    per-round shuffles keyed on vertex id, state bounded by
    |V|·|pivots| — plus a (vertex, pivot) partial-sum for σ. Backward
    is k-1 joins of the edge list against two adjacent BFS levels,
    each keyed on vertex id; nothing ever materializes per-path."""
    with _Loop(edges.select("src", "dst"), key="src") as loop:
        # r11 (VERDICT r10 next-6): the per-pivot BFS predates the r10
        # loop kit — apply it wholesale. The frontier / visited / level
        # slices ride observed counts and take broadcast hints under the
        # same provable-size guard as SSSP; an empty frontier ends the
        # forward pass (remaining rounds are no-op joins) and caps the
        # backward pass at the deepest REACHED level (shallower levels
        # see identical inputs; deeper ones contribute zero rows).
        sym = loop.base
        visited = loop.step(
            "visited",
            pivots.select(
                "id",
                F.col("id").alias("pv"),
                F.lit(0).alias("dist"),
                F.lit(1).cast("bigint").alias("sigma"),
            ),
            n=F.count(F.lit(1)),
        )
        frontier, n_frontier = visited, loop.seen["n"]
        n_visited = n_frontier
        last_level = 0
        for r in range(1, k + 1):
            if n_frontier == 0:
                break
            msgs = sym.join(
                loop.broadcast(frontier, n_frontier), sym.src == frontier.id
            ).select(F.col("dst").alias("id"), "pv", "sigma")
            frontier = loop.step(
                "frontier",
                msgs.groupBy("id", "pv")
                .agg(F.sum("sigma").alias("sigma"))
                .join(
                    loop.broadcast(visited.select("id", "pv"), n_visited),
                    ["id", "pv"],
                    "left_anti",
                )
                .select("id", "pv", F.lit(r).alias("dist"), "sigma"),
                n=F.count(F.lit(1)),
            )
            n_frontier = loop.seen["n"]
            if n_frontier == 0:
                break
            last_level = r
            n_visited += n_frontier
            visited = loop.step("visited", visited.unionByName(frontier))

        # level 1's backward round would only produce the pivots' own
        # (dist 0) dependencies, which betweenness excludes — stop at 2.
        delta: DataFrame | None = None
        for level in range(min(k, last_level), 1, -1):
            upper = visited.where(F.col("dist") == level - 1).select(
                F.col("id").alias("u_id"), "pv", F.col("sigma").alias("u_sigma")
            )
            lower = visited.where(F.col("dist") == level).select(
                F.col("id").alias("w_id"),
                F.col("pv").alias("w_pv"),
                F.col("sigma").alias("w_sigma"),
            )
            if delta is not None:
                lower = lower.join(
                    delta.select(
                        F.col("id").alias("w_id"),
                        F.col("pv").alias("w_pv"),
                        F.col("delta").alias("w_delta"),
                    ),
                    ["w_id", "w_pv"],
                    "left",
                )
            else:
                lower = lower.withColumn("w_delta", F.lit(None).cast("bigint"))
            # level slices (and the delta-joined lower side) hold at
            # most n_visited lanes — provably broadcastable under the
            # same guard as the forward frontier, so neither join
            # re-exchanges the edge stream.
            contrib = (
                sym.join(loop.broadcast(upper, n_visited), sym.src == upper.u_id)
                .join(
                    loop.broadcast(lower, n_visited),
                    (F.col("dst") == F.col("w_id")) & (F.col("pv") == F.col("w_pv")),
                )
                .select(
                    "u_id",
                    "pv",
                    F.expr(
                        f"(u_sigma * ({unit} + coalesce(w_delta, CAST(0 AS BIGINT))))"
                        " div w_sigma"
                    ).alias("share"),
                )
            )
            du = (
                contrib.groupBy("u_id", "pv")
                .agg(F.sum("share").cast("bigint").alias("delta"))
                .select(
                    F.col("u_id").alias("id"),
                    "pv",
                    F.lit(level - 1).alias("dist"),
                    "delta",
                )
            )
            delta = loop.step(
                "delta",
                du if delta is None else delta.unionByName(loop.step("du", du)),
            )
        loop.keep("delta")
    if delta is None:
        # forward pass never reached depth 2 (early exit) — the
        # backward loop had nothing to fold; same empty result the
        # unrolled no-op joins used to produce.
        return pivots.select(
            "id",
            F.col("id").alias("pv"),
            F.lit(0).alias("dist"),
            F.lit(0).cast("bigint").alias("delta"),
        ).where(F.lit(False))
    return delta.where(F.col("dist") > 0)
