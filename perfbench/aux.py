"""The ``aux_joins`` workload: one sweep over join-heavy query legs.

Input: a seeded TPC-H-shaped data set (the schemas and distributions of
the engine's test tables, at a two-hundredth of the bench scale),
generated into the work directory. The legs are the registered
``__spark_entry__.queries()`` entries with hand-placed join hints,
iterative driver-side loops or both.

Check: in set-up every leg runs once and its collected rows must equal
its ``oracle_sql()`` result in DuckDB over the same files (values
compared the way the engine's oracle-parity test does: columns by name,
floats to 9 significant digits, rows sorted). The checked rows give the
leg's expected digest, and every timed execution's digest must equal it.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from probes import ProcTree, Stopwatch, Tally, digest, median

LEGS = ("triangles", "sssp_costs", "jaccard_prefix", "region_revenue",
        "idle_rich", "cheapest_supplier")
# per-layer metric groups of the lanes pipeline, which this workload skips
LANES_LAYERS = ("locale.", "cell_encode.", "scan.", "span_assembly.",
                "kernel.", "lane_transform.", "pipeline.", "checkpoint.")

SCALE = 0.005
N_DOCUMENTS = 120
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    d0 = np.datetime64(start)
    span = int((np.datetime64(end) - d0) / np.timedelta64(1, "D"))
    return (d0 + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")
            ).astype("datetime64[us]")


def generate(out: str, seed: int) -> dict[str, int]:
    """Write the seeded tables as parquet under ``out``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * SCALE), int(10000 * SCALE)
    n_part, n_ord = int(200000 * SCALE), int(1500000 * SCALE)
    n_line = int(6000000 * SCALE)
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]

    words = np.array(VOCAB)
    texts = []
    for _ in range(N_DOCUMENTS):
        doc = list(words[rng.integers(0, len(words), rng.integers(10, 101))])
        if rng.random() < 0.05:
            doc[int(rng.integers(0, len(doc)))] = "dup"
        texts.append(" ".join(doc))
    for _ in range(max(1, N_DOCUMENTS // 100)):  # a few exact duplicates
        j, i = sorted(rng.integers(0, N_DOCUMENTS, 2))
        texts[i] = texts[j]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
            "c_mktsegment": pa.array(pick(SEGMENTS, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(pick(names, n_part)),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(pick(PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 1000, n_part), 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(pick(["O", "P", "F"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(pick(PRIORITIES, n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100.0, 2)),
            "l_returnflag": pa.array(pick(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(pick(["F", "O"], n_line)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line),
                                   pa.timestamp("us"))}),
        "documents": pa.table({
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(pick(["en", "en", "zh", "es", "fr", "de"], N_DOCUMENTS)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
    }
    os.makedirs(out)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _norm(value) -> str:
    if value is None:
        return "None"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, int):
        return str(value)
    try:
        f = float(value)
    except (TypeError, ValueError):
        return str(value)
    return "nan" if math.isnan(f) else f"{f:.9g}"


def normalized(columns, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values as strings, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def oracle_rows(data: str, legs) -> dict[str, tuple]:
    """DuckDB oracle result of each leg, normalized."""
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data, t)}.parquet'")
        out = {}
        for leg in legs:
            rel = con.sql(sql[leg])
            out[leg] = normalized(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


class AuxRun:
    def __init__(self, ctx, args):
        self.ctx = ctx
        self.args = args
        self.tally = Tally()
        self.tree = ProcTree()
        self.data = os.path.join(ctx.work, "aux")
        self.expected: dict[str, tuple] = {}

    def _leg_df(self, leg: str):
        import __spark_entry__ as E

        return E.queries()[leg](self.ctx.spark, self.data)

    def verify(self, leg: str, oracle):
        """Set-up execution of a leg: collect, check, derive its digest."""
        def body():
            self.ctx.describe(f"setup:{leg}")
            with Stopwatch(self.tree) as watch:
                df = self._leg_df(leg)
                rows = df.collect()
            got = normalized(df.columns, rows)
            ok = got == oracle
            detail = (f"{len(got[1])} rows differ from the oracle's "
                      f"{len(oracle[1])} (columns {got[0]} vs {oracle[0]})")
            self.expected[leg] = digest(
                self.ctx.spark.createDataFrame(rows, df.schema))
            self.ctx.describe(None)
            return watch, ok, detail

        return self.tally.op(f"setup:{leg}", body)

    def execute(self, leg: str, tag: str):
        def body():
            self.ctx.describe(tag)
            with Stopwatch(self.tree) as watch:
                got = digest(self._leg_df(leg))
            self.ctx.describe(None)
            want = self.expected.get(leg)
            return watch, got == want, f"digest {got} != {want}"

        return self.tally.op(tag, body)

    def measure(self) -> tuple[float, float]:
        """Run the legs round-robin until ``seconds`` have passed and every
        leg ran once. A pass is one sweep, so pass time and CPU are sums
        over legs of each leg's median."""
        self.leg_times, cpu = {}, {}
        end = time.perf_counter() + self.args.seconds
        k = 0
        while k < len(LEGS) or time.perf_counter() < end:
            leg = LEGS[k % len(LEGS)]
            watch = self.execute(leg, f"leg:{leg}:{k // len(LEGS)}")
            if watch is not None:
                self.leg_times.setdefault(leg, []).append(watch.wall)
                cpu.setdefault(leg, []).append(watch.cpu)
            k += 1
        return (sum(median(t) for t in self.leg_times.values()),
                sum(median(c) for c in cpu.values()))

    def run(self) -> dict:
        ctx, args = self.ctx, self.args
        t0 = time.perf_counter()
        rows = generate(self.data, args.seed)
        gen_s = time.perf_counter() - t0

        session_s = ctx.start()
        # set-up: one cold execution of every leg (Python worker spin-up,
        # codegen, the package shipped to workers), checked against DuckDB
        t0 = time.perf_counter()
        oracle = oracle_rows(self.data, LEGS)
        oracle_s = time.perf_counter() - t0
        warm = [self.verify(leg, oracle[leg]) for leg in LEGS]
        warm_s = sum(w.wall for w in warm if w is not None)
        setup_s = session_s + warm_s

        pass_s, cpu_s = self.measure()
        input_rows = sum(rows.values())
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": input_rows / pass_s if pass_s else 0.0,
            "pass_s": pass_s,
            "cpu_s_per_pass": cpu_s,
            "peak_rss_mb": self.tree.peak_rss_mb(),
        }
        rss = {k: round(v, 1) for k, v in self.tree.peak_rss_by_name().items()}
        context = {"peak_rss_mb_by_process": rss,
                   "input_rows": rows, "input_gen_s": round(gen_s, 3),
                   "oracle_s": round(oracle_s, 3),
                   "session_start_s": round(session_s, 3),
                   "leg_median_s": {k: round(median(v), 4)
                                    for k, v in self.leg_times.items()}}
        if ctx.trace:
            metrics = self.traced(pass_s, session_s)
        return {"metrics": metrics, "attempted": self.tally.attempted,
                "failed": self.tally.failed, "context": context,
                "checks": self.tally.problems, "skipped_layers": LANES_LAYERS}

    def traced(self, untraced_pass_s: float, session_s: float) -> dict:
        import eventlog

        ctx = self.ctx
        ctx.restart_traced()
        pass_s, _ = self.measure()
        ctx.spark.stop()  # flushes and closes the event log
        ctx.spark = None
        per_op = eventlog.summarize(eventlog.read_events(ctx.event_log_dir()))
        runs: dict[str, list[dict]] = {}
        for desc, m in per_op.items():
            if desc.startswith("leg:"):
                runs.setdefault(desc.split(":")[1], []).append(m)
        layers = {"session.start_s": session_s,
                  "trace.overhead_frac": pass_s / untraced_pass_s - 1.0}
        for key in ("jobs", "stages", "tasks", "executor_run_s",
                    "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "task_skew",
                    "single_task_stages"):
            per_leg = [median([m[key] for m in ms]) for ms in runs.values()]
            # one sweep: sums over legs; skew is the worst leg's
            layers[f"spark.{key}"] = (max(per_leg, default=0.0)
                                      if key == "task_skew" else sum(per_leg))
        for leg in LEGS:
            ms = runs.get(leg, [])
            layers[f"leg.{leg}.s"] = median(self.leg_times.get(leg, []))
            layers[f"leg.{leg}.jobs"] = median([m["jobs"] for m in ms])
            layers[f"leg.{leg}.shuffle_bytes"] = median(
                [m["shuffle_write_bytes"] for m in ms])
            layers[f"leg.{leg}.task_skew"] = median(
                [m["task_skew"] for m in ms])
        return layers


def run(ctx, args) -> dict:
    return AuxRun(ctx, args).run()
