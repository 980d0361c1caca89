"""The benchmark's workloads, driven through the engine's public surface
(``SolarEngine``, ``io.results``) from one process with one client: every
loop is closed, the next operation starts when the previous one returned
and was checked.

``backfill``  repeated bulk imports of one seeded multi-file history, each
              by one ``availableNow`` run into a fresh store.
``dashboard`` a seeded mix of dashboard queries over a read-only store
              built at setup.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F

import checks
import gen
from spans import SparkCounters, Tracer, median, peak_rss_mb, tail
from solar_logger_spark.engine import SolarEngine
from solar_logger_spark.io import results
from solar_logger_spark.query.flux_parser import parse_flux
from solar_logger_spark.session import get_spark
from solar_logger_spark.streaming.decode import decode_packets
from solar_logger_spark.streaming.ingest import RAW_SCHEMA, data_points

WARM_SECONDS = 300            # history decoded to spawn the Python workers
BACKFILL_SECONDS = 2 * gen.DAY # 1 Hz history per backfill import ...
BACKFILL_FILES = 8             # ... in one file-source micro-batch
BACKFILL_OFFLINE = ("mx-1",)   # reports offline throughout: all gated out
DASH_SECONDS = 4 * gen.DAY     # dashboard store: four days ...
DASH_STEP = 10                 # ... at one packet per device every 10 s


def utc(epoch: int) -> datetime:
    return datetime.fromtimestamp(epoch, timezone.utc)


def flux_text(q: dict) -> str:
    """The reference grammar, as a Flux user would write the query."""
    iso = "%Y-%m-%dT%H:%M:%SZ"
    return (
        'from(bucket: "points") '
        f"|> range(start: {utc(q['start']).strftime(iso)}, "
        f"stop: {utc(q['stop']).strftime(iso)}) "
        f'|> filter(fn: (r) => r["_measurement"] == "{q["measurement"]}" '
        f'and r["_field"] == "{q["field"]}") '
        f"|> aggregateWindow(every: {q['every']}s, fn: {q['fn']})"
    )


def offered(sent: dict[str, int]) -> int:
    """Points carried by the packets sent: packets times channels."""
    return sum(n * len(gen.FIELDS[d]) for d, n in sent.items())


def write_inputs(deliveries: list[gen.Delivery], out_dir: str) -> None:
    """Write files atomically with strictly increasing modification
    times, so file-source ordering follows delivery order."""
    base = time.time() - len(deliveries)
    for i, d in enumerate(deliveries):
        path = gen.write_atomic(d.table(), out_dir, f"part-{i:04d}.parquet")
        os.utime(path, (base + i, base + i))


class Bench:
    """One benchmark invocation: set-up, the measured loop, checks
    and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str, cpus: int) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.cpus = traced, work, cpus
        self.tracer = Tracer()
        self.rng = np.random.default_rng(seed)
        self.spark = self.engine = self.counters = self.jvm_pid = None
        self.attempted = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []       # measured operations
        self.deliveries: list[dict] = []  # ingest runs: timings and progress
        self.queries: list[dict] = []   # traced query executions
        self.store_dir = ""
        self.input_dir = ""
        self.oracle = gen.Oracle()
        self.sent: dict[str, int] = {}

    # -- bookkeeping ---------------------------------------------------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failures.append(f"{what}: {problem}")

    def check_store(self, what: str) -> None:
        self.check(what, "; ".join(checks.store_mismatches(
            self.store_dir, self.oracle)[:3]) or None)

    def note_inputs(self, deliveries: list[gen.Delivery]) -> None:
        for d in deliveries:
            for dev, n in d.sent.items():
                self.sent[dev] = self.sent.get(dev, 0) + n

    # -- set-up --------------------------------------------------------

    def setup(self) -> None:
        """Session start plus warm-up, timed as ``setup_s``: spawn the
        Python workers with one decode, then the workload's own warm-in.
        Input generation comes first and is not part of it."""
        warm = gen.history(self.seed + 1, WARM_SECONDS, 1,
                           offline=BACKFILL_OFFLINE)
        write_inputs(warm, self.path("warm_in"))
        self.prepare()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="solar-engine-bench", master=f"local[{self.cpus}]"
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = SolarEngine(self.spark)  # runs the health check
        self.counters = SparkCounters(self.spark)
        t1 = time.perf_counter()
        data_points(
            self.spark.read.schema(RAW_SCHEMA).parquet(self.path("warm_in"))
        ).write.format("noop").mode("overwrite").save()
        self.warm_in()
        t2 = time.perf_counter()
        self.setup_s, self.start_s, self.warm_s = t2 - t0, t1 - t0, t2 - t1
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.after_setup()

    def prepare(self) -> None:
        """Generate the workload's inputs (not part of set-up time)."""

    def warm_in(self) -> None:
        """The workload's part of set-up."""

    def after_setup(self) -> None:
        """Checks of what set-up built, outside set-up time."""

    # -- measured loop -------------------------------------------------

    def run(self) -> None:
        deadline = time.perf_counter() + self.seconds
        i = 0
        while (time.perf_counter() < deadline or self.mid_round()) and not self.failures:
            # traced runs alternate traced and untraced operations, so the
            # tracing overhead is measured in the same process
            self.tracer.enabled = self.traced and i % 2 == 0
            op = self.op(i)
            op["traced"] = self.tracer.enabled
            self.ops.append(op)
            i += 1
        self.tracer.enabled = False
        if self.traced and not self.failures:
            self.tracer.enabled = True
            self.probe_layers()
            self.tracer.enabled = False

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def mid_round(self) -> bool:
        """True while a fixed-proportion round of operations is unfinished."""
        return False

    # -- ingest helpers ------------------------------------------------

    def ingest_record(self, ms: float, batches: list[dict], lo: int | None,
                      hi: int | None) -> None:
        rec = {"ms": ms, "batches": [b for b in batches if b["numInputRows"]]}
        if lo is not None:
            rec["jobs"], rec["tasks"] = self.counters.count(lo, hi)
        self.deliveries.append(rec)

    def bulk_import(self, input_dir: str, store: str, trace_id: str,
                    count_jobs: bool) -> dict:
        """One ``availableNow`` import into a fresh store: its wall time in
        ms, per-batch progress and, if asked, the job-id range it used."""
        engine = SolarEngine(self.spark, store_dir=store)
        lo = self.counters.boundary() if count_jobs else None
        t0 = time.perf_counter()
        with self.tracer.span("op", trace_id):
            with self.tracer.span("engine.ingest", trace_id):
                q = engine.ingest(input_dir)
            with self.tracer.span("ingest.await", trace_id):
                q.awaitTermination()
        ms = (time.perf_counter() - t0) * 1e3
        hi = self.counters.boundary() if count_jobs else None
        return {"ms": ms, "progress": [json.loads(p.json) for p in q.recentProgress],
                "lo": lo, "hi": hi}

    # -- queries -------------------------------------------------------

    def query(self, q: dict, trace_id: str):
        """Run one dashboard query in its result mode; returns the
        DataFrame and the answer as (epoch, measurement, field, value)."""
        engine = self.engine
        if q["shape"] == "flux_text":
            text = flux_text(q)
            with self.tracer.span("flux.parse", trace_id):
                parse_flux(text)
            with self.tracer.span("engine.query_points_flux", trace_id):
                qb = engine.query_points_flux(text)
        else:
            with self.tracer.span("engine.query_points", trace_id):
                qb = engine.query_points()
            qb = qb.range(utc(q["start"]), utc(q["stop"]))
            if q["shape"] != "long_range":
                qb = qb.filter("measurement", q["measurement"]).filter(
                    "field", q["field"])
            if q["shape"] == "short_range":
                qb = qb.sort("ts")
            elif q["shape"] == "topk":
                qb = qb.sort("value", desc=True).limit(q["k"])
            else:
                qb = qb.aggregate_window(f"{q['every']}s", q["fn"])
        with self.tracer.span("builder.to_df", trace_id):
            df = qb.to_df()
        mode = q["mode"]
        with self.tracer.span(f"results.{mode}", trace_id):
            out = results.execute(df, mode)
            rows = checks.csv_rows(out) if mode == "csv" else list(out)
        return df, checks.normalise(rows)

    def timed_query(self, q: dict, expect: checks.Expect, trace_id: str) -> dict:
        """One checked query; with tracing on, also its job and task
        counts and the time of its bare action."""
        lo = self.counters.boundary() if self.tracer.enabled else None
        t0 = time.perf_counter()
        with self.tracer.span("query", trace_id):
            df, rows = self.query(q, trace_id)
        ms = (time.perf_counter() - t0) * 1e3
        self.check(f"{trace_id} {q['shape']}", expect.mismatch(q, rows))
        if self.tracer.enabled:
            hi = self.counters.boundary()
            jobs, tasks = self.counters.count(lo, hi)
            t1 = time.perf_counter()
            df.collect()
            self.queries.append({
                "shape": q["shape"], "mode": q["mode"], "ms": ms,
                "exec_ms": (time.perf_counter() - t1) * 1e3,
                "jobs": jobs, "tasks": tasks, "rows": len(rows),
                "trace": trace_id,
            })
        return {"ms": ms, "points": expect.covered(q)}

    def probe_layers(self) -> None:
        """Traced runs only: time every layer over this workload's own
        input and store, so each per-layer metric exists on every
        workload: ``decode_packets`` alone, and one query of each shape."""
        self.engine = SolarEngine(self.spark, store_dir=self.store_dir)
        raw = self.spark.read.schema(RAW_SCHEMA).parquet(self.input_dir)
        data = (
            raw.filter(F.col("topic").rlike(r"^mate/[^/]+/[a-z]{2}-status$"))
            .select(F.split("topic", "/")[1].alias("measurement"), "payload")
            .cache()
        )
        packets = data.count()
        t0 = time.perf_counter()
        with self.tracer.span("decode.decode_packets", "probe-decode"):
            decode_packets(data).write.format("noop").mode("overwrite").save()
        decode_ms = (time.perf_counter() - t0) * 1e3
        points_out = decode_packets(data).count()
        data.unpersist()
        self.decode = {
            "ms_per_kpacket": decode_ms / (packets / 1e3),
            "points_out": points_out,
            "capacity": offered(self.sent),
            "stored": self.oracle.points,
        }
        self.check("decode points", None if points_out == self.oracle.decodable_points
                   else f"{points_out} decoded, oracle {self.oracle.decodable_points}")
        if self.workload != "dashboard":
            t0, seconds = self.store_span()
            devices = tuple(d for d in gen.DEVICES if self.oracle.kept[d])
            expect = checks.Expect(self.oracle)
            for j, q in enumerate(gen.query_round(
                    self.rng, t0, seconds, devices)):
                self.timed_query(q, expect, f"probe-{j}")

    def store_span(self) -> tuple[int, int]:
        raise NotImplementedError

    # -- metrics -------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = [o["ms"] for o in self.ops]
        stats = checks.store_stats(self.store_dir)
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_ms_p50": (median(lat), "ms"),
            "points_per_s": (
                sum(o["points"] for o in self.ops) / (sum(lat) / 1e3), "points/s"),
            "store_bytes_per_point": (stats["bytes"] / self.oracle.points, "B/point"),
            "peak_rss_mb": (peak_rss_mb(self.jvm_pid), "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        t = self.tracer
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (self.start_s, "s"),
            "session.warm_s": (self.warm_s, "s"),
            "decode.ms_per_kpacket": (self.decode["ms_per_kpacket"], "ms"),
            "decode.points_out": (self.decode["points_out"], "count"),
            "decode.useful_ratio": (
                self.decode["points_out"] / self.decode["capacity"], "ratio"),
            "gate.points_dropped_ratio": (
                1 - self.decode["stored"] / self.decode["points_out"], "ratio"),
        }
        batches = [b for d in self.deliveries for b in d["batches"]]
        counted = [d for d in self.deliveries if "jobs" in d]
        n_counted = sum(len(d["batches"]) for d in counted) or 1

        def dur(b, *keys):
            return sum(b["durationMs"].get(k, 0) for k in keys)

        out.update({
            "ingest.delivery_ms_p50": (median(d["ms"] for d in self.deliveries), "ms"),
            "ingest.trigger_ms": (median(dur(b, "triggerExecution") for b in batches), "ms"),
            "ingest.add_batch_ms": (median(dur(b, "addBatch") for b in batches), "ms"),
            "ingest.latest_offset_ms": (median(dur(b, "latestOffset") for b in batches), "ms"),
            "ingest.commit_ms": (median(dur(b, "walCommit", "commitOffsets") for b in batches), "ms"),
            "ingest.plan_ms": (median(dur(b, "queryPlanning") for b in batches), "ms"),
            "ingest.wait_ms": (median(
                d["ms"] - sum(dur(b, "triggerExecution") for b in d["batches"])
                for d in self.deliveries), "ms"),
            "ingest.batches_per_delivery": (len(batches) / len(self.deliveries), "count"),
            "ingest.jobs_per_batch": (sum(d["jobs"] for d in counted) / n_counted, "count"),
            "ingest.tasks_per_batch": (sum(d["tasks"] for d in counted) / n_counted, "count"),
        })
        stats = checks.store_stats(self.store_dir)
        out.update({
            "store.files": (stats["files"], "count"),
            "store.partitions": (stats["partitions"], "count"),
            "store.bytes": (stats["bytes"], "B"),
            # every store holds exactly one import
            "store.files_per_delivery": (stats["files"], "count"),
            "tables.open_ms": (median(t.durations_ms("engine.query_points")), "ms"),
            "flux.parse_ms": (median(t.durations_ms("flux.parse")), "ms"),
            "builder.plan_ms": (median(t.durations_ms("builder.to_df")), "ms"),
            "exec.ms": (median(q["exec_ms"] for q in self.queries), "ms"),
            "exec.jobs_per_query": (median(q["jobs"] for q in self.queries), "count"),
            "exec.tasks_per_query": (median(q["tasks"] for q in self.queries), "count"),
            "exec.rows_out": (median(q["rows"] for q in self.queries), "count"),
        })
        for shape in gen.ROUND:
            out[f"query.{shape}_ms_p50"] = (
                median(q["ms"] for q in self.queries if q["shape"] == shape), "ms")
        for mode in gen.MODES:
            out[f"results.{mode}_ms_p50"] = (median(t.durations_ms(f"results.{mode}")), "ms")
        on = [o["ms"] for o in self.ops if o["traced"]]
        off = [o["ms"] for o in self.ops if not o["traced"]]
        out["trace.overhead_pct"] = (
            100.0 * (median(on) - median(off)) / median(off) if on and off else 0.0, "%")
        return out

    def summary(self) -> list[str]:
        """The workload's headline figures under their workload-specific
        names, with sample counts and tails."""
        lines = [f"setup_s {self.setup_s:.3f} s"]
        lines += self.headline()
        lines.append(f"failed_ratio {len(self.failures) / max(self.attempted, 1):.4f} "
                     f"failed/attempted ({len(self.failures)}/{self.attempted})")
        return lines

    def headline(self) -> list[str]:
        return []

    def close(self) -> None:
        """Stop the session."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def timing_lines(name: str, xs: list[float], unit: str = "ms") -> list[str]:
    lines = [f"{name}_p50 {median(xs):.3f} {unit} ({len(xs)} samples)"]
    t = tail(xs)
    lines.append(
        f"{name}_tail {t[0]:.3f} {unit} (p{t[1]:.0f} of {t[2]} samples)" if t
        else f"{name}_tail n/a ({len(xs)} samples; a tail needs at least 11)")
    return lines


class Backfill(Bench):
    """Bulk import: decode, unpivot and the partitioned sorted write do
    most of the work, the per-batch fixed cost about a sixth of it; the
    query layers idle."""

    def prepare(self) -> None:
        history = gen.history(self.seed, BACKFILL_SECONDS, BACKFILL_FILES,
                              offline=BACKFILL_OFFLINE)
        self.t0 = gen.history_start(np.random.default_rng(self.seed))
        self.input_dir = self.path("backfill_in")
        write_inputs(history, self.input_dir)
        for d in history:
            self.oracle.apply(d)
        self.note_inputs(history)

    def warm_in(self) -> None:
        # one full-size import: the first ones run far slower while the
        # JVM compiles the import path
        self.bulk_import(self.input_dir, self.path("warm_store"), "setup", False)

    def op(self, i: int) -> dict:
        if self.store_dir:
            shutil.rmtree(self.store_dir)
        self.store_dir = self.path(f"store_{i}")
        run = self.bulk_import(self.input_dir, self.store_dir, f"import-{i}",
                               self.tracer.enabled)
        self.ingest_record(run["ms"], run["progress"], run["lo"], run["hi"])
        self.check_store(f"import {i}")
        return {"ms": run["ms"], "points": offered(self.sent)}

    def store_span(self) -> tuple[int, int]:
        return self.t0, BACKFILL_SECONDS

    def headline(self) -> list[str]:
        rates = [o["points"] / (o["ms"] / 1e3) for o in self.ops]
        return [f"backfill_points_per_s {median(rates):.1f} points/s "
                f"({len(rates)} imports of {self.oracle.points} points)"]


class Dashboard(Bench):
    """Read-only store, seeded query mix: plan construction, partition
    pruning, scan plus window aggregation and result delivery do the
    work while ingest idles."""

    def prepare(self) -> None:
        history = gen.history(self.seed, DASH_SECONDS, 4, step=DASH_STEP)
        self.t0 = gen.history_start(np.random.default_rng(self.seed))
        self.input_dir = self.path("dash_in")
        write_inputs(history, self.input_dir)
        for d in history:
            self.oracle.apply(d)
        self.note_inputs(history)
        self.expect = checks.Expect(self.oracle)
        self.pending: list[dict] = []

    def warm_in(self) -> None:
        # the store build is set-up: a later change that moves work into
        # it shows in setup_s
        self.store_dir = self.path("dash_store")
        self.build = self.bulk_import(self.input_dir, self.store_dir,
                                      "setup", self.traced)
        self.engine = SolarEngine(self.spark, store_dir=self.store_dir)
        for j, q in enumerate(gen.query_round(self.rng, self.t0, DASH_SECONDS)):
            _, rows = self.query(q, f"setup-{j}")
            self.check(f"warm query {j}", self.expect.mismatch(q, rows))

    def after_setup(self) -> None:
        self.check_store("dashboard store")
        b = self.build
        self.ingest_record(b["ms"], b["progress"], b["lo"], b["hi"])

    def op(self, i: int) -> dict:
        if not self.pending:
            self.pending = gen.query_round(self.rng, self.t0, DASH_SECONDS)
        return self.timed_query(self.pending.pop(0), self.expect, f"query-{i}")

    def mid_round(self) -> bool:
        return bool(self.pending)

    def headline(self) -> list[str]:
        return timing_lines("query_ms", [o["ms"] for o in self.ops])


WORKLOADS = {"backfill": Backfill, "dashboard": Dashboard}
