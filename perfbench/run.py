#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads, every output checked.

Run from the repository root:

    python3 perfbench/run.py --workload lanes_repeated_write --seed 1 \
        --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``lanes_repeated_write``: golden corpus replicated to a fixed number of
  documents, fused ``pipeline.lanes_pipeline`` with spatial locale, then
  ``plans.lineage.write_checkpoint``. Tag-sets repeat, so the transform
  memo hits.
- ``lanes_distinct``: the same corpus with an ignored ``bench:rep=<i>`` tag
  on every document, so every memo lookup misses; the action is a digest.
- ``aux_joins``: one sweep over join- and orchestration-bound
  ``__spark_entry__.queries()`` legs on a seeded TPC-H-shaped data set.

Spark runs in this process on ``local[<cores>]``. Inputs are generated from
``--seed`` into ``.perfbench_work/`` and the program only reads them from
there. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures
untraced, restarts the SparkContext with the JSON event log on (through
``PYSPARK_SUBMIT_ARGS`` / JVM system properties, so ``session.get_spark``
is unchanged), measures again and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The two lines before it are a human-readable metrics line
with ``failed_ops_frac``, and a JSON summary with the run's context (input
sizes, per-pass times, host load and steal, failed checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lanes_repeated_write", "lanes_distinct", "aux_joins")
DRIVER_MEMORY = "2g"


def _program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "osm2lanes_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def _prepare_env() -> None:
    """Keep every file Spark, Java and Python write inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; the launcher JVM spark-submit starts first is covered too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the event log is configured for every run and switched on only for
    # the traced half of a --trace 1 run (Context.restart_traced)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # -Xms = -Xmx: the JVM's resident size is its heap, not GC timing
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
        " -XX:-UsePerfData\"",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.eventLog.enabled=false",
        f"--conf spark.eventLog.dir=file://{os.path.join(WORK, 'eventlog')}",
        "--conf spark.eventLog.compress=false",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


class Context:
    """The Spark session of one benchmark run and its lifetime."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.work = WORK
        self.spark = None

    def start(self) -> float:
        """Start (or restart) the session; returns the seconds it took."""
        from osm2lanes_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def describe(self, desc: str | None) -> None:
        """Tag the jobs that follow (None clears the tag)."""
        self.spark.sparkContext.setJobDescription(desc)

    def restart_traced(self) -> float:
        """Stop the SparkContext and start a new one that writes the event
        log. The JVM stays, so codegen and JIT stay warm."""
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
        return self.start()

    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def stop(self) -> None:
        """Stop Spark, the gateway JVM and any process left in our tree."""
        import subprocess

        from pyspark import SparkContext

        from probes import ProcTree, alive

        me = str(os.getpid())
        started = [int(p) for p in ProcTree().pids() if p != me]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # Python workers outlive the JVM by a moment (they watch its pipe)
        deadline = time.monotonic() + 20
        while True:
            left = [p for p in started if alive(p)]
            if not left:
                return
            if time.monotonic() > deadline:
                raise RuntimeError(f"processes did not stop: {left}")
            if time.monotonic() > deadline - 15:
                sig = (signal.SIGKILL if time.monotonic() > deadline - 5
                       else signal.SIGTERM)
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def _metrics(raw: dict, trace: bool, skipped: tuple) -> dict:
    """Name every catalogued metric with its unit. A per-layer metric of a
    layer the workload does not run (``skipped`` name prefixes) reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalogue = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in catalogue:
        value = raw.get(m["name"])
        if value is None and trace and m["name"].startswith(skipped):
            value = 0.0
        if value is None:
            raise KeyError(f"workload did not report {m['name']}")
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return out


def _fmt(metrics: dict) -> str:
    return " ".join(f"{k}={v['value']:.6g}{v['unit']}"
                    for k, v in metrics.items())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no osm2lanes_spark program under {ROOT}",
              file=sys.stderr)
        return 2
    _prepare_env()
    sys.path.insert(0, HERE)
    from probes import HostWindow

    if args.workload == "aux_joins":
        import aux as workload
    else:
        import lanes as workload

    ctx = Context(trace=bool(args.trace))
    host = HostWindow()
    try:
        result = workload.run(ctx, args)
    finally:
        ctx.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    metrics = _metrics(result["metrics"], ctx.trace, result["skipped_layers"])
    attempted, failed = result["attempted"], result["failed"]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_ops_frac": failed / max(1, attempted),
        "context": result.get("context", {}), "host": host.close(),
        "checks": result.get("checks", []),
    }
    print(f"perfbench {args.workload}: {_fmt(metrics)} "
          f"failed_ops_frac={summary['failed_ops_frac']:.6g}")
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
