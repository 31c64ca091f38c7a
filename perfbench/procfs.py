"""CPU and memory of this process tree, read from /proc.

One sweep reads every live descendant of the benchmark process. The CPU of
a process counts its own time plus the time of children it has already
waited for (``cutime``/``cstime``), so a Python worker that exits inside a
pass still lands in its parent's figure.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    ppid: int
    cpu_s: float  # own + reaped children
    own_cpu_s: float
    comm: str
    seam: bool  # a pyspark daemon or worker
    hwm_mb: float
    threads: dict[str, float] = field(default_factory=dict)  # a JVM's CPU by thread name

    @property
    def jit_cpu_s(self) -> float:
        """The JVM's just-in-time compiler threads."""
        return sum(v for k, v in self.threads.items() if "CompilerThre" in k)

    @property
    def gc_cpu_s(self) -> float:
        """The JVM's garbage-collector threads (G1)."""
        return sum(v for k, v in self.threads.items() if k.startswith(("GC Thread", "G# ")))


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except OSError:
        return None  # exited between listing and reading
    rp = raw.rfind(")")
    comm = raw[raw.find("(") + 1 : rp]
    fields = raw[rp + 2 :].split()
    # after comm: 0=state 1=ppid ... 11=utime 12=stime 13=cutime 14=cstime
    own = (int(fields[11]) + int(fields[12])) / _HZ
    reaped = (int(fields[13]) + int(fields[14])) / _HZ
    hwm = 0.0
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            hwm = int(line.split()[1]) / 1024
            break
    return Proc(
        int(fields[1]),
        own + reaped,
        own,
        comm,
        b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd,
        hwm,
        _thread_cpu_s(pid) if comm == "java" else {},
    )


def _thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds of a process's threads, summed by thread name with the
    digits replaced by ``#`` ("C2 CompilerThread0" and "...1" count
    together as "C# CompilerThre", the kernel keeping 15 characters)."""
    out: dict[str, float] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rp = raw.rfind(")")
        name = re.sub(r"\d+", "#", raw[raw.find("(") + 1 : rp])
        fields = raw[rp + 2 :].split()
        out[name] = out.get(name, 0.0) + (int(fields[11]) + int(fields[12])) / _HZ
    return out


def sweep(root: int | None = None) -> dict[int, Proc]:
    """pid -> Proc for ``root`` (default: this process) and its descendants."""
    from leader_graph_spark.hostload import _tree_pids
    root = os.getpid() if root is None else root
    procs: dict[int, Proc] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            p = _read(int(entry))
            if p is not None:
                procs[int(entry)] = p
    tree = _tree_pids({pid: (p.ppid, 0, p.comm) for pid, p in procs.items()}, root)
    return {pid: procs[pid] for pid in tree if pid in procs}


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [pid for pid in sweep(root) if pid != root]


@dataclass
class CpuSplit:
    """CPU seconds of one window, split by process role."""

    tree_s: float
    driver_py_s: float
    jvm_s: float
    jit_s: float
    gc_s: float
    seam_s: float
    seam_workers: int
    peak_rss_mb: float
    jvm_threads: dict[str, float] = field(default_factory=dict)


def _total(snap: dict[int, Proc], pred=lambda p: True) -> float:
    return sum(p.cpu_s for p in snap.values() if pred(p))


def cpu_between(before: dict[int, Proc], after: dict[int, Proc]) -> CpuSplit:
    """CPU used between two sweeps of the same tree.

    A process that exits inside the window moves its whole CPU time, the
    part before the window included, into its parent's reaped-children
    time; subtracting the totals of the two sweeps nets that out. ``seam``
    is the pyspark daemon and its forked workers.
    """
    me = os.getpid()
    jvm = [p for p, pr in after.items() if pr.ppid == me and pr.comm == "java"]

    def seam(p: Proc) -> bool:
        return p.seam

    # a thread that exits inside the window takes its time along
    threads: dict[str, float] = {}
    for p in jvm:
        for name, cpu in after[p].threads.items():
            prev = before[p].threads.get(name, 0.0) if p in before else 0.0
            threads[name] = threads.get(name, 0.0) + cpu - prev

    return CpuSplit(
        tree_s=_total(after) - _total(before),
        driver_py_s=after[me].own_cpu_s - before[me].own_cpu_s,
        jvm_s=sum(after[p].own_cpu_s - (before[p].own_cpu_s if p in before else 0.0) for p in jvm),
        jit_s=sum(after[p].jit_cpu_s - (before[p].jit_cpu_s if p in before else 0.0) for p in jvm),
        gc_s=sum(after[p].gc_cpu_s - (before[p].gc_cpu_s if p in before else 0.0) for p in jvm),
        seam_s=max(0.0, _total(after, seam) - _total(before, seam)),
        seam_workers=sum(1 for p in after.values() if p.seam),
        peak_rss_mb=sum(p.hwm_mb for p in after.values()),
        jvm_threads=threads,
    )
