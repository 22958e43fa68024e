"""The two lanes workloads: documents → spatial locale → lanes.

Corpus: the 46 golden cases replicated to ``N_DOCS`` documents. Each case
is placed, by seed, in one country with the case's own driving side, and
every replica gets a seeded point drawn uniformly inside that country's
polygon (so points near a border take the point-in-polygon path). The
corpus is written as one parquet file per core, so the pipeline runs one
wave of one task per core.

Check: each pass's output digest must equal the digest of the two-step
result — ``tags_to_lanes_stage`` with explicit ``iso_3166_2`` /
``driving_side`` over the 46 case × placement pairs, computed once in
set-up and fanned out to every replica's ``doc_id``. On
``lanes_distinct`` the extra ``bench:rep`` key must not change a row, so
the expected digest is the same one.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from probes import ProcTree, Stopwatch, Tally, digest, median

N_DOCS = 20_000
LEVEL = 10
KERNEL_CALLS = 46 * 20
SETUP_REPEATS = 3
PROBE_REPEATS = 3


def _fixture_table() -> pa.Table:
    import osm2lanes_spark

    path = os.path.join(os.path.dirname(osm2lanes_spark.__file__),
                        "fixtures", "golden_fixture", "documents.parquet")
    return pq.read_table(path)


def _tags(spans) -> dict:
    """Tag map of a case, as span assembly builds it (split on first '=')."""
    tag_spans = sorted((s for s in spans if s["kind"] == "tag"),
                       key=lambda s: s["offset"])
    return dict(s["text"].split("=", 1) for s in tag_spans)


class Corpus:
    """Seeded documents on disk plus what the checks need to know."""

    def __init__(self, work: str, seed: int, n_docs: int, distinct: bool,
                 files: int, with_locale: bool):
        from osm2lanes_spark.core.locale import COUNTRIES
        from osm2lanes_spark.fixtures.geography import (RADIUS,
                                                        country_centroid,
                                                        country_polygon)

        fixture = _fixture_table()
        self.cases = fixture.to_pylist()
        self.n = n_docs
        rng = np.random.default_rng(seed)
        self.placement = {}
        for case in self.cases:
            side = case["driving_side"]
            options = sorted(a2 for a2, (_, _, s) in COUNTRIES.items()
                             if s == side)
            self.placement[case["case_id"]] = (str(rng.choice(options)), side)
        which = rng.permutation(np.arange(n_docs) % len(self.cases))
        points = {}
        for case in self.cases:
            a2 = self.placement[case["case_id"]][0]
            if a2 not in points:
                points[a2] = _points_inside(rng, country_centroid(a2),
                                            country_polygon(a2), RADIUS, n_docs)

        rows = {"doc_id": [], "spans": [], "lon": [], "lat": [],
                "iso_3166_2": [], "driving_side": []}
        for i, ci in enumerate(which.tolist()):
            case = self.cases[ci]
            cid = case["case_id"]
            spans = case["spans"]
            if distinct:
                spans = spans + [{"kind": "tag", "text": f"bench:rep={i}",
                                  "media_ref": None, "offset": 1 << 20}]
            iso, side = self.placement[cid]
            rows["doc_id"].append(f"{cid}#{i}")
            rows["spans"].append(spans)
            rows["lon"].append(points[iso][0][i])
            rows["lat"].append(points[iso][1][i])
            rows["iso_3166_2"].append(iso)
            rows["driving_side"].append(side)
        self.lon = np.asarray(rows["lon"])
        self.lat = np.asarray(rows["lat"])
        self.tag_maps = [_tags(s) for s in rows["spans"][:KERNEL_CALLS]]
        self.tag_locales = [(rows["iso_3166_2"][i], rows["driving_side"][i])
                            for i in range(min(KERNEL_CALLS, n_docs))]
        spans_type = fixture.schema.field("spans").type
        table = pa.table({
            "doc_id": pa.array(rows["doc_id"], pa.string()),
            "spans": pa.array(rows["spans"], spans_type),
            "lon": pa.array(rows["lon"], pa.float64()),
            "lat": pa.array(rows["lat"], pa.float64()),
            "iso_3166_2": pa.array(rows["iso_3166_2"], pa.string()),
            "driving_side": pa.array(rows["driving_side"], pa.string()),
        })
        # the pipeline's input carries geometry only; the copy with
        # explicit locale columns feeds the two-step layer probe
        self.docs_path = os.path.join(work, "lanes_docs")
        self.located_path = os.path.join(work, "lanes_docs_located")
        _write_split(table.drop(["iso_3166_2", "driving_side"]),
                     self.docs_path, files)
        if with_locale:
            _write_split(table, self.located_path, files)


def _inside(x, y, ring) -> np.ndarray:
    """Even-odd ray casting of points against a closed ring."""
    inside = np.zeros(len(x), bool)
    for (x0, y0), (x1, y1) in zip(ring, np.roll(ring, -1, axis=0)):
        crosses = (y0 > y) != (y1 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            at = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (x < at)
    return inside


def _points_inside(rng, centre, ring, radius, n):
    """n uniform points inside the ring shrunk by 1% about its centre, so
    no point sits on a border the resolver could read either way."""
    cx, cy = centre
    xs, ys = [], []
    while sum(len(x) for x in xs) < n:
        x = cx + radius * (2 * rng.random(n) - 1)
        y = cy + radius * (2 * rng.random(n) - 1)
        keep = _inside(cx + (x - cx) / 0.99, cy + (y - cy) / 0.99, ring)
        xs.append(x[keep])
        ys.append(y[keep])
    return np.concatenate(xs)[:n], np.concatenate(ys)[:n]


def _write_split(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def time_ops(seconds: float, op, min_ops: int = 3):
    """Call ``op(k)`` (→ stopwatch or None) until ``seconds`` of wall time
    have passed and ``min_ops`` ran (three, so a median drops one pass
    still slowed by JIT warm-up). Returns (wall times, CPU times) of the
    operations that succeeded."""
    times, cpu = [], []
    end = time.perf_counter() + seconds
    k = 0
    while k < min_ops or time.perf_counter() < end:
        watch = op(k)
        if watch is not None:
            times.append(watch.wall)
            cpu.append(watch.cpu)
        k += 1
    return times, cpu


def expected_digest(spark, corpus: Corpus) -> tuple[int, str]:
    """Digest of the two-step result fanned out to every replica."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from osm2lanes_spark.operators.lane_transform import tags_to_lanes_stage
    from osm2lanes_spark.schemas import DOCUMENTS_SCHEMA, ROAD_SCHEMA

    schema = T.StructType(DOCUMENTS_SCHEMA.fields + [
        T.StructField("iso_3166_2", T.StringType()),
        T.StructField("driving_side", T.StringType())])
    base = spark.createDataFrame(
        [(c["case_id"], c["spans"], *corpus.placement[c["case_id"]])
         for c in corpus.cases], schema)
    two_step = (tags_to_lanes_stage(base)
                .withColumnRenamed("doc_id", "case_id"))
    ids = (spark.read.parquet(corpus.docs_path).select(
        "doc_id", F.substring_index("doc_id", "#", 1).alias("case_id")))
    fanned = (ids.join(F.broadcast(two_step), "case_id")
              .select(*[f.name for f in ROAD_SCHEMA.fields]))
    return digest(fanned)


class LanesRun:
    def __init__(self, ctx, args):
        self.ctx = ctx
        self.args = args
        self.write = args.workload == "lanes_repeated_write"
        self.tally = Tally()
        self.tree = ProcTree()
        self.ckpt_seq = 0
        self.last_checkpoint = None

    # -- one timed operation -------------------------------------------
    def _execute(self, tag: str):
        """One pass: the timed work, then the untimed digest of its output.
        Returns (stopwatch, digest, rows written or None)."""
        from osm2lanes_spark.pipeline import lanes_pipeline
        from osm2lanes_spark.plans.lineage import write_checkpoint

        spark = self.ctx.spark
        docs = spark.read.parquet(self.corpus.docs_path)
        self.ctx.describe(tag)
        if not self.write:
            with Stopwatch(self.tree) as watch:
                got = digest(lanes_pipeline(docs, self.polygons, level=LEVEL))
            self.ctx.describe(None)
            return watch, got, None
        self.ckpt_seq += 1
        path = os.path.join(self.ctx.work, f"ckpt_{self.ckpt_seq}")
        with Stopwatch(self.tree) as watch:
            summary = write_checkpoint(
                lanes_pipeline(docs, self.polygons, level=LEVEL), path)
        self.ctx.describe(f"check:{tag}")
        got = digest(spark.read.parquet(path))
        self.ctx.describe(None)
        if self.last_checkpoint:
            shutil.rmtree(self.last_checkpoint[0])
        self.last_checkpoint = (path, summary)
        return watch, got, summary["rows"]

    def _verdict(self, result):
        watch, got, written = result
        ok = got == self.expected and written in (None, self.corpus.n)
        return watch, ok, f"digest {got} != {self.expected}, rows written {written}"

    def one_pass(self, tag: str):
        return self.tally.op(tag, lambda: self._verdict(self._execute(tag)))

    # -- the run --------------------------------------------------------
    def run(self) -> dict:
        from osm2lanes_spark.fixtures.geography import all_country_polygons
        from osm2lanes_spark.spatial.joins import make_locale_resolver

        ctx, args = self.ctx, self.args
        t0 = time.perf_counter()
        self.corpus = Corpus(ctx.work, args.seed, N_DOCS,
                             distinct=args.workload == "lanes_distinct",
                             files=ctx.cores, with_locale=ctx.trace)
        gen_s = time.perf_counter() - t0

        session_s = ctx.start()
        builds = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.polygons = all_country_polygons()
            resolver = make_locale_resolver(self.polygons, LEVEL)
            builds.append(time.perf_counter() - t0)
        # the cold first pass (Python worker spin-up, codegen) is set-up;
        # its output is checked once the expected digest exists
        try:
            warm_result = self._execute("warmup")
        except Exception as e:  # reported through the tally below
            warm_result = e
        t0 = time.perf_counter()
        ctx.describe("expected")
        self.expected = expected_digest(ctx.spark, self.corpus)
        check_s = time.perf_counter() - t0

        def warm_check():
            if isinstance(warm_result, Exception):
                raise warm_result
            return self._verdict(warm_result)
        warm = self.tally.op("warmup", warm_check)
        warm_s = warm.wall if warm else 0.0
        setup_s = session_s + median(builds) + warm_s

        times, cpu = time_ops(args.seconds, lambda k: self.one_pass(f"pass:{k}"))
        pass_s = median(times)
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": self.corpus.n / pass_s if pass_s else 0.0,
            "pass_s": pass_s,
            "cpu_s_per_pass": median(cpu),
            "peak_rss_mb": self.tree.peak_rss_mb(),
        }
        rss = {k: round(v, 1) for k, v in self.tree.peak_rss_by_name().items()}
        context = {"peak_rss_mb_by_process": rss,
                   "docs": self.corpus.n, "input_gen_s": round(gen_s, 3),
                   "expected_digest_s": round(check_s, 3),
                   "session_start_s": round(session_s, 3),
                   "warmup_s": round(warm_s, 3),
                   "pass_times_s": [round(t, 4) for t in times],
                   "ways_per_s": metrics["rows_per_s"]}
        if ctx.trace:
            metrics = self.traced(metrics, session_s, builds, resolver)
        return {"metrics": metrics, "attempted": self.tally.attempted,
                "failed": self.tally.failed, "context": context,
                "checks": self.tally.problems,
                "skipped_layers": ("leg.",) if self.write
                else ("leg.", "checkpoint.")}

    def traced(self, untraced: dict, session_s: float, builds, resolver) -> dict:
        import eventlog

        ctx = self.ctx
        ctx.restart_traced()
        self.one_pass("rewarm")
        times, _ = time_ops(self.args.seconds,
                            lambda k: self.one_pass(f"pass:{k}"))
        layers = {
            "session.start_s": session_s,
            "locale.resolver_build_s": median(builds),
            "trace.overhead_frac": median(times) / untraced["pass_s"] - 1.0,
        }
        layers.update(self.locale_probe(resolver))
        layers.update(self.kernel_probe())
        layers.update(self.spark_probes())
        if self.write:
            layers.update(self.checkpoint_probe())
        ctx.spark.stop()  # flushes and closes the event log
        ctx.spark = None
        per_op = eventlog.summarize(eventlog.read_events(ctx.event_log_dir()))
        passes = [m for d, m in per_op.items() if d.startswith("pass:")]
        for key in ("jobs", "stages", "tasks", "executor_run_s",
                    "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "task_skew",
                    "single_task_stages"):
            layers[f"spark.{key}"] = median([m[key] for m in passes])
        return layers

    # -- per-layer probes (traced run only) -------------------------------
    def locale_probe(self, resolver) -> dict:
        from osm2lanes_spark.spatial import cells

        cell = cells.encode(self.corpus.lon, self.corpus.lat, LEVEL)
        pip = sum(any(not full for _, full in resolver.cell_index.get(int(c), ()))
                  for c in cell)
        sweeps = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            for lo in range(0, len(cell), 10_000):
                resolver(cell[lo:lo + 10_000], self.corpus.lon[lo:lo + 10_000],
                         self.corpus.lat[lo:lo + 10_000])
            sweeps.append(time.perf_counter() - t0)
        return {"locale.us_per_way": 1e6 * median(sweeps) / len(cell),
                "locale.pip_frac": pip / len(cell)}

    def kernel_probe(self) -> dict:
        from osm2lanes_spark.core.locale import Locale
        from osm2lanes_spark.core.model import RoadError
        from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes

        calls = []
        for i, tags in enumerate(self.corpus.tag_maps):
            tags = dict(tags)
            tags["bench:rep"] = str(i)  # distinct maps: no memo anywhere
            calls.append((tags, Locale.build(*self.corpus.tag_locales[i])))
        sweeps = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            for tags, locale in calls:
                try:
                    tags_to_lanes(tags, locale)
                except RoadError:
                    pass
            sweeps.append(time.perf_counter() - t0)
        return {"kernel.us_per_way": 1e6 * median(sweeps) / len(calls)}

    def _noop_s(self, df, tag: str) -> float:
        runs = []
        for k in range(PROBE_REPEATS):
            self.ctx.describe(f"probe:{tag}:{k}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        self.ctx.describe(None)
        return median(runs)

    def spark_probes(self) -> dict:
        """Self time of each layer: a noop-sink run of the layer minus the
        run of what feeds it."""
        from pyspark.sql import functions as F

        from osm2lanes_spark.operators.lane_transform import \
            tags_to_lanes_stage
        from osm2lanes_spark.operators.span_assembly import with_tags
        from osm2lanes_spark.pipeline import lanes_pipeline
        from osm2lanes_spark.spatial.joins import cell_expr

        spark = self.ctx.spark
        docs = spark.read.parquet(self.corpus.docs_path)
        located = spark.read.parquet(self.corpus.located_path)
        scan = self._noop_s(docs.select("doc_id", "spans"), "scan")
        assembled = self._noop_s(
            with_tags(docs).select("doc_id", "tags", "tags_error"), "spans")
        points = self._noop_s(docs.select("lon", "lat"), "points")
        cells = self._noop_s(
            docs.select(cell_expr(F.col("lon"), F.col("lat"), LEVEL)), "cells")
        located_tags = self._noop_s(
            with_tags(located).select("doc_id", "tags", "tags_error",
                                      "iso_3166_2", "driving_side"),
            "located_spans")
        transform = self._noop_s(tags_to_lanes_stage(located), "transform")
        pipeline = self._noop_s(lanes_pipeline(docs, self.polygons,
                                               level=LEVEL), "pipeline")
        # the transform memo is per task: keys are (tags, locale, config)
        key = F.concat_ws(
            "\x1e", F.coalesce("tags_error", F.lit("")),
            F.to_json(F.array_sort(F.map_entries("tags"))),
            "iso_3166_2", "driving_side")
        self.ctx.describe("probe:memo")
        per_part = (with_tags(located)
                    .groupBy(F.spark_partition_id().alias("pid"))
                    .agg(F.countDistinct(key).alias("keys"),
                         F.count(F.lit(1)).alias("rows")).collect())
        self.ctx.describe(None)
        keys = sum(r["keys"] for r in per_part)
        rows = sum(r["rows"] for r in per_part)
        return {"scan.s": scan,
                "span_assembly.s": assembled - scan,
                "cell_encode.s": cells - points,
                "lane_transform.s": transform - located_tags,
                "lane_transform.memo_hit_ratio": 1.0 - keys / rows,
                "pipeline.s": pipeline}

    def checkpoint_probe(self) -> dict:
        from osm2lanes_spark.pipeline import lanes_pipeline
        from osm2lanes_spark.plans.lineage import write_checkpoint

        spark = self.ctx.spark
        path, summary = self.last_checkpoint
        files = glob.glob(os.path.join(path, "part-*"))
        size = sum(os.path.getsize(f) for f in files)
        skew = summary["max_partition_rows"] / (summary["rows"]
                                                / summary["partitions"])
        out = lanes_pipeline(spark.read.parquet(self.corpus.docs_path),
                             self.polygons, level=LEVEL).persist()
        self.ctx.describe("probe:materialize")
        out.write.format("noop").mode("overwrite").save()
        runs = []
        for k in range(PROBE_REPEATS):
            target = os.path.join(self.ctx.work, f"probe_ckpt_{k}")
            self.ctx.describe(f"probe:checkpoint:{k}")
            t0 = time.perf_counter()
            write_checkpoint(out, target)
            runs.append(time.perf_counter() - t0)
            shutil.rmtree(target, ignore_errors=True)
        self.ctx.describe(None)
        out.unpersist()
        return {"checkpoint.write_s": median(runs),
                "checkpoint.bytes_per_way": size / summary["rows"],
                "checkpoint.partition_skew": skew}


def run(ctx, args) -> dict:
    return LanesRun(ctx, args).run()
