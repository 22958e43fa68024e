"""Measurement helpers shared by the workloads.

- ``digest``: the timed action. An order-insensitive hash of every output
  column, summed as a decimal so Spark's ANSI mode cannot overflow, with
  top-level floats formatted to 9 significant digits so shuffle-order
  float sums cannot flip it.
- ``ProcTree``: user+sys CPU and peak RSS of this process and every
  descendant (the Spark JVM and its Python workers), read from ``/proc``.
- ``HostWindow``: loadavg, steal % and CPU-busy % over a run. Host context
  for reading a result, never a metric.
- ``Stopwatch`` / ``Tally``: timed, checked operations.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FLOATS = (T.DoubleType, T.FloatType)


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, digest) of ``df``; runs one Spark job over all columns."""
    cols = []
    for field in df.schema.fields:
        col = F.col(f"`{field.name}`")
        if isinstance(field.dataType, _FLOATS):
            # + 0.0 folds -0.0 into 0.0 before formatting
            col = F.format_string("%.9g", col.cast("double") + F.lit(0.0))
        cols.append(col)
    row_hash = F.xxhash64(*cols).cast("decimal(20,0)")
    out = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(row_hash).alias("h")).collect()[0]
    return int(out["n"]), str(out["h"] if out["h"] is not None else 0)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Stopwatch:
    """Wall and process-tree CPU seconds of a ``with`` block."""

    def __init__(self, tree: "ProcTree"):
        self.tree = tree
        self.wall = self.cpu = 0.0

    def __enter__(self):
        self.c0 = self.tree.cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.tree.cpu_s() - self.c0
        return False


class Tally:
    """Operations attempted and failed; a failure is an exception or a
    failed output check, and its message is kept for the summary."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, name: str, fn):
        """Run one checked operation; ``fn`` returns (stopwatch, ok,
        detail). Returns the stopwatch, or None when the operation raised
        or failed its check."""
        self.attempted += 1
        try:
            watch, ok, detail = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}"[:500])
            return None
        return watch


_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields after the closing paren are fixed
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields


class ProcTree:
    """CPU time and peak RSS of a process and all its descendants."""

    def __init__(self, root_pid: int | None = None):
        self.root = str(root_pid or os.getpid())

    def pids(self) -> list[str]:
        children: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            st = _read_stat(pid)
            if st is not None:
                children.setdefault(str(st[0]), []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of the live tree plus what reaped children used."""
        total = 0
        for pid in self.pids():
            st = _read_stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[1][11:15])
        return total / _TICK

    def peak_rss_by_name(self) -> dict[str, float]:
        """High-water RSS (VmHWM, MB) of the live tree, summed per
        process name (the JVM is ``java``, workers ``python3``)."""
        out: dict[str, float] = {}
        for pid in self.pids():
            name, kb = None, 0
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("Name:"):
                            name = line.split()[1]
                        elif line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            break
            except OSError:
                continue
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out

    def peak_rss_mb(self) -> float:
        """Sum of every live process's high-water RSS."""
        return sum(self.peak_rss_by_name().values())


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended; reap it if ours)."""
    st = _read_stat(str(pid))
    if st is None:
        return False
    if st[1][0] != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def _cpu_jiffies():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:11]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


class HostWindow:
    """Host load over a window: loadavg at both ends, busy and steal %."""

    def __init__(self):
        self.t0 = time.time()
        self.j0 = _cpu_jiffies()
        self.load0 = os.getloadavg()

    def close(self) -> dict:
        total, idle, steal = _cpu_jiffies()
        dt = max(1, total - self.j0[0])
        return {
            "cores": len(os.sched_getaffinity(0)),
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_busy_pct": round(100.0 * (dt - (idle - self.j0[1])) / dt, 1),
            "steal_pct": round(100.0 * (steal - self.j0[2]) / dt, 2),
            "wall_s": round(time.time() - self.t0, 1),
        }
