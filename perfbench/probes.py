"""Process, JVM and host probes read from ``/proc`` and JMX.

CPU and memory are summed over the benchmark's process tree: this Python
process, the Spark JVM it launches, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
CPU_KINDS = ("python", "jvm", "worker", "jit")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces; fields after it are fixed-position
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and all its live descendants."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _stat_fields(int(name))) is not None:
            stats[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[2]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return tree


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (HotSpot names them
    "C1 CompilerThreadN" / "C2 CompilerThreadN"; the kernel keeps the
    first 15 bytes). The JVM is started with a fixed set of compiler
    threads, so none exits and takes its time out of this sum."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        if "CompilerThre" in comm:
            ticks += sum(int(x) for x in raw.rpartition(")")[2].split()[11:13])
    return ticks


def cpu_seconds() -> dict[str, float]:
    """CPU-seconds used so far by each kind of process in the tree, with
    the JVM's JIT compiler threads apart from the rest of the JVM.

    Counts user + system time of live processes plus the time of their
    reaped children, so a worker that has exited stays counted in its
    parent."""
    me = os.getpid()
    out = dict.fromkeys(CPU_KINDS, 0.0)
    for pid, f in process_tree(me).items():
        # after comm: state ppid ... utime=12 stime=13 cutime=14 cstime=15
        ticks = sum(int(x) for x in f[12:16])
        kind = "python" if pid == me else "jvm" if f[0] == "java" else "worker"
        if kind == "jvm":
            jit = _jit_ticks(pid)
            out["jit"] += jit / _TICK
            ticks -= jit
        out[kind] += ticks / _TICK
    return out


def program_cpu_s(cpu: dict[str, float]) -> float:
    """CPU-seconds of the program: every kind but the JIT compiler."""
    return sum(v for k, v in cpu.items() if k != "jit")


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def process_age_s() -> float:
    """Seconds since this process started (its start time in /proc)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[20])
    return uptime - start_ticks / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from the first /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def calibrate(n: int = 3_000_000) -> float:
    """Seconds for a fixed CPU-bound loop: a host-speed control that no
    change to the program can move."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """(GC, JIT) seconds the Spark JVM has spent so far, from JMX."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000
