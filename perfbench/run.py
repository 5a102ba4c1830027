#!/usr/bin/env python3
"""CDC-to-serving and cold/warm query benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process with Spark at
``local[nproc]`` does, in order:

1. writes the seeded inputs (analytic tables and a change backlog) with
   pyarrow into ``.perfbench_work/`` — not timed;
2. sets the session up several times (``get_spark`` + ``load_tables``);
3. drains the change backlog through ``pipelines.users_cdc_pipeline``
   (closed loop, one client, ``availableNow``, one file per trigger);
4. runs the workload's declared queries once cold, then, for at least
   ``--seconds``, rounds of one warm call of each query followed by seeded
   point lookups served from ``ParquetUpsertSink.current_state()``;
5. checks every output outside the timers: the final state and every
   lookup against the change log's replay oracle, every query call against
   its DuckDB oracle.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is the run record:
nproc, driver memory, load average, steal share, a machine-speed
calibration probe, phase wall times and every per-sample timing. A traced
run also writes its spans to ``.perfbench_work/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
# A fixed young generation: with adaptive sizing, G1 grows eden by a
# timing-dependent amount and peak RSS varied by a third between runs.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn768m -XX:-UsePerfData"
# Untimed lookups first: the first few pay JIT compilation of the read path,
# which a long-running server pays once.
N_WARMUP_LOOKUPS = 5
MIN_ROUNDS = 3
N_SETUPS = 2
# Listener names of the actions behind a lookup and a query call.
LOOKUP_ACTION = "collectToPython"
QUERY_ACTION = "collectAsArrowToPython"

# Why each workload exists is recorded in BENCHMARK.json. Both run every
# phase, because every end-to-end metric is reported on every workload;
# they differ in which layers dominate.
WORKLOADS = {
    # Ingest- and execution-heavy: a key space far larger than one trigger,
    # so every micro-batch rewrites a state several times its own size
    # (write amplification) and the point lookups scan a large state; the
    # query is execution-heavy (shuffle, a persisted intermediate, Python
    # workers) with no dialect work.
    "cdc_upsert": {
        "sf": 0.01,
        "n_keys": 30_000,
        "n_ops": 6_000,
        "n_files": 4,
        "queries": ["x_semantic_dedup"],
        "lookups_per_round": 6,
    },
    # Planning-heavy: ClickHouse-dialect queries whose cost is translate,
    # parse, analysis and codegen rather than stage execution. The change
    # backlog is small and hot, so the sink's fixed per-batch cost shows.
    "dialect_mix": {
        "sf": 0.01,
        "n_keys": 1_000,
        "n_ops": 2_000,
        "n_files": 4,
        "queries": [
            "sql_ch_codec_report",
            "sql_ch_jaro_match",
            "sql_ch_window_funnel",
        ],
        # The warm calls are short, so a round holds fewer lookups and the
        # window more rounds.
        "lookups_per_round": 3,
    },
}

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
    "lookup_p50_ms": "ms",
    "lookup_p75_ms": "ms",
    "state_bytes_per_row": "bytes",
    "cold_s": "s",
    "warm_s": "s",
    "peak_rss_mb": "MB",
}

SPAN_NAMES = (
    "query", "build", "execute", "tables.load", "dialect.translate",
    "dialect.clickhouse_sql", "sink.process_batch", "sink.read_state", "serve.lookup",
)

PER_LAYER = {
    "session.first_start_s": "s",
    "session.start_s": "s",
    "tables.register_s": "s",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "build.s": "s",
    "dialect.translate_s": "s",
    "dialect.sql_out_bytes": "bytes",
    "dialect.plan_cache_hits": "count",
    "dialect.plan_cache_misses": "count",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.classes": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "python_udf.eval_ms": "ms",
    "python_udf.rows": "count",
    "python_udf.bytes": "bytes",
    "cache.persisted_bytes": "bytes",
    "cache.unreleased_rdds": "count",
    "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.rows_per_batch": "count",
    "dedup.state_rows": "count",
    "dedup.state_bytes": "bytes",
    "dedup.commit_ms": "ms",
    "dedup.dropped_share": "ratio",
    "sink.process_batch_s": "s",
    "sink.read_state_s": "s",
    "sink.touched_bucket_share": "ratio",
    "sink.bytes_written": "bytes",
    "sink.write_amp": "ratio",
    "sink.state_files": "count",
    "serve.files_read": "count",
    "serve.rows_scanned_per_result": "ratio",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
    "trace.overhead_s": "s",
    "trace.lookup_overhead_ms": "ms",
    # The traced run's own values of two end-to-end metrics, to set against
    # the untraced runs' (ingest and cold calls run traced throughout).
    "trace.events_per_s": "1/s",
    "trace.cold_s": "s",
}

# Planning-side layers are summed over the cold call of each query (they
# move cold_s); execution-side layers over traced warm calls, per round
# (they move warm_s).
COLD_LAYERS = (
    "build.s", "catalyst.parsing_ms", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "codegen.classes",
)
WARM_LAYERS = (
    "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "python_udf.eval_ms", "python_udf.rows", "python_udf.bytes",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description="CDC-to-serving and cold/warm query benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, size the driver heap for the box, and let Python
    workers import the package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} {JVM_OPTIONS}" pyspark-shell'
    )


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = work
        self.trace = bool(args.trace)
        self.sf_dir = os.path.join(work, "tables")
        self.changes_dir = os.path.join(work, "changes")
        self.state_dir = os.path.join(work, "state")
        self.ckpt_dir = os.path.join(work, "checkpoint")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.sessions = []  # stopped sessions stay referenced, so no id() is reused
        self.lookup_results: list[tuple[int, list]] = []
        self.gen_s = 0.0
        self.live_rows = 0
        self.state_bytes = 0
        self.oracles: dict = {}
        self.detail: dict = {}  # per-sample timings, printed with the run record

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    # -- inputs -----------------------------------------------------------------
    def make_inputs(self) -> None:
        from perfbench.datagen import write_change_backlog, write_tables

        t = time.perf_counter()
        c = self.cfg
        write_tables(self.sf_dir, c["sf"], self.args.seed)
        self.expected, self.file_bytes, self.n_events = write_change_backlog(
            self.changes_dir, c["n_keys"], c["n_ops"], c["n_files"], self.args.seed
        )
        # The file source takes files oldest first; make delivery order explicit.
        for i, name in enumerate(sorted(os.listdir(self.changes_dir))):
            os.utime(os.path.join(self.changes_dir, name), (1_700_000_000 + i,) * 2)
        self.gen_s = time.perf_counter() - t

    # -- set-up -----------------------------------------------------------------
    def setup(self):
        """Start the session and register the tables; then stop and redo
        it ``N_SETUPS`` times in the same JVM. ``setup_s`` is the median of
        the repeats; the first start, which also launches the JVM, is a
        per-layer number."""
        from python_cdc_postgres_to_clickhouse_spark.session import get_spark
        from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

        def one():
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", cpus=nproc())
            t1 = time.perf_counter()
            load_tables(spark, self.sf_dir)
            return spark, t1 - t0, time.perf_counter() - t1

        spark, _, _ = one()
        self.layer["session.first_start_s"] = time.perf_counter() - T_PROCESS - self.gen_s
        totals, sessions, tables = [], [], []
        for _ in range(N_SETUPS):
            self.sessions.append(spark)
            spark.stop()
            t0 = time.perf_counter()
            spark, s, t = one()
            totals.append(time.perf_counter() - t0)
            sessions.append(s)
            tables.append(t)
        self.e2e["setup_s"] = statistics.median(totals)
        self.layer["session.start_s"] = statistics.median(sessions)
        self.layer["tables.register_s"] = statistics.median(tables)
        return spark

    # -- CDC ingest -------------------------------------------------------------
    def ingest(self, spark, counters) -> None:
        from perfbench.probes import make_progress_listener
        from python_cdc_postgres_to_clickhouse_spark.pipelines import users_cdc_pipeline
        from python_cdc_postgres_to_clickhouse_spark.sources.cdc import ENVELOPE_SCHEMA

        log = make_progress_listener(spark)
        changes = (
            spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.changes_dir)
        )
        t0 = time.perf_counter()
        query, self.sink = users_cdc_pipeline(spark, changes, self.state_dir, self.ckpt_dir)
        finished = query.awaitTermination(150)
        drain_s = time.perf_counter() - t0
        if not finished:
            query.stop()
            raise RuntimeError("change backlog did not drain within 150 s")
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        progress = log.batches(self.cfg["n_files"])
        spark.streams.removeListener(log)
        # The first trigger also starts the query (state store, first
        # planning and code generation); throughput and batch latency are
        # those of the triggers after it.
        steady = progress[1:]
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        self.detail["drain_s"] = drain_s
        self.detail["batch_s"] = batch_s
        self.e2e["events_per_s"] = sum(p["numInputRows"] for p in steady) / sum(batch_s[1:])
        self.e2e["batch_p50_s"] = statistics.median(batch_s[1:])
        self.state_bytes = sum(_state_files(self.state_dir).values())
        if self.trace:
            self.stream_layers(progress, counters)

    def stream_layers(self, progress, counters) -> None:
        from perfbench.probes import median

        # Per-batch numbers are medians over the triggers after the first,
        # like batch_p50_s; the state sizes are those after the last.
        L, c = self.layer, counters.lists
        steady = progress[1:]
        for k in ("getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            L[f"stream.{k}_ms"] = median([p["durationMs"].get(k, 0) for p in steady])
        L["stream.rows_per_batch"] = median([p["numInputRows"] for p in steady])
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        last = ops[-1] if ops else {}
        L["dedup.state_rows"] = last.get("numRowsTotal", 0)
        L["dedup.state_bytes"] = last.get("memoryUsedBytes", 0)
        L["dedup.commit_ms"] = median([o.get("commitTimeMs", 0) for o in ops[1:]])
        dropped = sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            + o.get("numRowsDroppedByWatermark", 0)
            for o in ops
        )
        # Spark counts a dropped duplicate at each execution of the batch
        # plan, so a sink that runs its batch twice doubles this share.
        L["dedup.dropped_share"] = dropped / max(1, self.n_events)
        L["sink.process_batch_s"] = median(c["sink.process_batch_s"][1:])
        L["sink.read_state_s"] = median(c["sink.read_state_s"][1:])
        L["sink.touched_bucket_share"] = median(c["sink.touched_buckets"][1:]) / self.sink.n_buckets
        L["sink.bytes_written"] = sum(c["sink.bytes_written"])
        L["sink.write_amp"] = L["sink.bytes_written"] / max(1, sum(self.file_bytes))
        L["sink.state_files"] = c["sink.state_files"][-1] if c["sink.state_files"] else 0

    # -- serving reads and queries ---------------------------------------------
    def measure(self, spark, probe, tracer, jvm) -> None:
        """Point lookups served from ``ParquetUpsertSink.current_state()`` and
        the workload's declared queries.

        After ``N_WARMUP_LOOKUPS`` untimed lookups each query runs once cold
        (plan cache and ``clearCache`` emptied), then once warm untimed (the
        first reuse of a plan is slower than the rest). Then the measurement
        window: rounds of one warm call of every query followed by the
        workload's ``lookups_per_round`` lookups, at least ``MIN_ROUNDS``
        rounds and for at least ``--seconds``. Interleaving spreads both
        kinds of sample over the whole window, so a stretch in which the
        host runs slow moves a few samples of each rather than most samples
        of one.

        Each query call is ``spec.fn(...).toPandas()``: planned, executed and
        delivered to the client; its output is checked against the DuckDB
        oracle right after the timer stops. A traced run traces every other
        round; the difference between the medians of traced and untraced
        rounds is the tracing overhead. Its query listener calls back into
        Python after every action, so after each call, traced or not, it
        waits for that callback: the callback then overlaps no timed call."""
        from pyspark.sql import functions as F
        from python_cdc_postgres_to_clickhouse_spark import dialect
        from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

        specs = all_queries()
        names = self.cfg["queries"]
        sc = spark.sparkContext
        rng = random.Random(self.args.seed)
        serve = {"files": [], "scan_rows": 0, "results": 0}

        def call(name: str, tag: str, traced: bool) -> float | None:
            spark.catalog.clearCache()
            group = f"{name}#{tag}"
            sc.setJobGroup(group, name)
            self.attempted += 1
            try:
                if not traced:
                    n0 = len(probe.records) if self.trace else 0
                    t = time.perf_counter()
                    out = specs[name].fn(spark, self.sf_dir).toPandas()
                    dt = time.perf_counter() - t
                    if self.trace:
                        probe.wait_for(n0, QUERY_ACTION)
                else:
                    before = (jvm.codegen(), len(probe.records))
                    t = time.perf_counter()
                    with tracer.on(), tracer.span("query", trace_id=group):
                        with tracer.span("build") as build:
                            df = specs[name].fn(spark, self.sf_dir)
                        with tracer.span("execute"):
                            out = df.toPandas()
                    dt = time.perf_counter() - t
                    self.query_layers(tag, group, build, before, probe, jvm)
            except Exception:
                self.fail(f"{group}: {traceback.format_exc(limit=4)}")
                return None
            if not self.matches_oracle(specs[name], out):
                return None
            return dt

        def lookup(traced: bool) -> float:
            """One lookup by a seeded random key; its latency in ms."""
            k = rng.randrange(self.cfg["n_keys"])
            i = len(self.lookup_results)
            sc.setJobGroup(f"lookup-{i}", "lookup")
            n0 = len(probe.records) if self.trace else 0
            t = time.perf_counter()
            if not traced:
                rows = self.sink.current_state().filter(F.col("id") == k).collect()
            else:
                with tracer.on(), tracer.span("serve.lookup", trace_id=f"lookup-{i}"):
                    rows = self.sink.current_state().filter(F.col("id") == k).collect()
            dt = (time.perf_counter() - t) * 1e3
            self.lookup_results.append((k, rows))
            if self.trace:
                recs = [r for r in probe.wait_for(n0, LOOKUP_ACTION) if r["func"] == LOOKUP_ACTION]
                if traced and recs:
                    serve["files"].append(recs[-1]["metrics"].get("numFiles", 0))
                    serve["scan_rows"] += recs[-1]["scan_rows"]
                    serve["results"] += len(rows)
            return dt

        for _ in range(N_WARMUP_LOOKUPS):
            lookup(False)
        cold = {}
        for name in names:
            if hasattr(dialect, "_PLAN_CACHE"):
                dialect._PLAN_CACHE.clear()
            cold[name] = call(name, "cold", self.trace)
        for name in names:
            call(name, "warmup", False)

        warm = {n: [] for n in names}
        traced_warm = {n: [] for n in names}
        lookups, traced_lookups = [], []
        t0 = time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() - t0 < self.args.seconds:
            traced = self.trace and rounds % 2 == 1
            for name in names:
                dt = call(name, f"warm{rounds}", traced)
                if dt is not None:
                    (traced_warm if traced else warm)[name].append(dt)
            for _ in range(self.cfg["lookups_per_round"]):
                (traced_lookups if traced else lookups).append(lookup(traced))
            rounds += 1
        self.detail["cold_s"] = cold
        self.detail["warm_s"] = warm
        self.detail["lookup_ms"] = lookups
        self.e2e["cold_s"] = sum(v for v in cold.values() if v is not None)
        self.e2e["warm_s"] = sum(statistics.median(v) for v in warm.values() if v)
        self.e2e["lookup_p50_ms"] = statistics.median(lookups)
        self.e2e["lookup_p75_ms"] = statistics.quantiles(lookups, n=4)[-1]
        if self.trace:
            self.detail["traced_warm_s"] = traced_warm
            self.detail["traced_lookup_ms"] = traced_lookups
            self.traced_rounds = rounds // 2
            self.layer["trace.overhead_s"] = sum(
                statistics.median(v) for v in traced_warm.values() if v
            ) - self.e2e["warm_s"]
            L = self.layer
            L["serve.files_read"] = statistics.median(serve["files"]) if serve["files"] else 0
            L["serve.rows_scanned_per_result"] = serve["scan_rows"] / max(1, serve["results"])
            L["trace.lookup_overhead_ms"] = (
                statistics.median(traced_lookups) - self.e2e["lookup_p50_ms"]
            )

    def query_layers(self, tag, group, build, before, probe, jvm) -> None:
        """Per-layer numbers of one traced query call."""
        (cg_ns0, cg_n0), n0 = before
        recs = probe.wait_for(n0, QUERY_ACTION)
        cmds = [r for r in recs if r["func"] == QUERY_ACTION]
        cmd = cmds[-1] if cmds else probe.empty_record(QUERY_ACTION)
        cg_ns1, cg_n1 = jvm.codegen()
        side = self.qlayers["cold" if tag == "cold" else "warm"]

        def add(k, v):
            side[k] = side.get(k, 0) + v

        add("build.s", build["end"] - build["start"])
        add("catalyst.optimization_ms", cmd["phases"].get("optimization", 0))
        add("catalyst.planning_ms", cmd["phases"].get("planning", 0))
        add("codegen.compile_ms", (cg_ns1 - cg_ns0) / 1e6)
        add("codegen.classes", cg_n1 - cg_n0)
        for k, v in jvm.stages(group).items():
            if k == "task_skew":
                side["exec.task_skew"] = max(side.get("exec.task_skew", 1.0), v)
            else:
                add(f"exec.{k}", v)
        m = cmd["metrics"]
        add("python_udf.eval_ms", m.get("pythonTotalTime", 0))
        add("python_udf.rows", m.get("pythonNumRowsReceived", 0))
        add("python_udf.bytes", m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0))
        held, rdds = jvm.storage()
        side["cache.persisted_bytes"] = max(side.get("cache.persisted_bytes", 0), held)
        side["cache.unreleased_rdds"] = max(side.get("cache.unreleased_rdds", 0), rdds)

    # -- correctness ------------------------------------------------------------
    def matches_oracle(self, spec, sdf) -> bool:
        """``tests.oracle_harness.assert_parity``'s checks (columns, dtype
        classes, row count, canonical row multiset) on an output already
        collected; the oracle runs once per query."""
        from tests.oracle_harness import assert_dtype_parity, canon_rows, run_oracle

        if spec.name not in self.oracles:
            odf = run_oracle(spec.resolve_oracle(self.sf_dir), self.sf_dir)
            self.oracles[spec.name] = (odf, canon_rows(odf))
        odf, orows = self.oracles[spec.name]
        problem = None
        if sorted(sdf.columns) != sorted(odf.columns):
            problem = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        elif len(sdf) != len(odf):
            problem = f"row count {len(sdf)} vs {len(odf)}"
        elif canon_rows(sdf) != orows:
            problem = "row values differ"
        else:
            try:
                assert_dtype_parity(sdf, odf, spec.name)
            except AssertionError as e:
                problem = str(e)[:300]
        if problem:
            self.fail(f"{spec.name}: {problem}")
        return problem is None

    def check_state(self) -> None:
        """The final state and every lookup against the replay oracle."""
        fields = ("id", "username", "email", "created_at_us")

        def as_row(r) -> tuple:
            return tuple(r[f] for f in fields)

        want = {k: tuple(v[f] for f in fields) for k, v in self.expected.items()}
        self.attempted += 1
        state = self.sink.current_state()
        rows = [] if state is None else state.select(*fields).collect()
        got = {r["id"]: as_row(r) for r in rows}
        self.live_rows = len(rows)
        if got != want or len(rows) != len(got):
            self.fail(f"final state differs from the replay oracle: {len(got)} vs {len(want)} rows")
        for k, found in self.lookup_results:
            self.attempted += 1
            exp = [want[k]] if k in want else []
            if [as_row(r) for r in found] != exp:
                self.fail(f"lookup id={k}: got {found!r}, want {exp!r}")


def instrument(run: Run, tracer, counters):
    """Wrap the package entry points each layer is entered through."""
    from perfbench import probes
    from pyspark.sql import SparkSession
    from python_cdc_postgres_to_clickhouse_spark import dialect
    from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink

    pkg = probes.PKG

    def load_tables(orig):
        def traced(*args, **kwargs):
            t = time.perf_counter()
            with tracer.span("tables.load"):
                out = orig(*args, **kwargs)
            counters.add("tables.load_s", time.perf_counter() - t)
            counters.add("tables.load_calls")
            return out

        return probes.gated(tracer, orig, traced)

    def translate(orig):
        def traced(sql):
            t = time.perf_counter()
            with tracer.span("dialect.translate"):
                out = orig(sql)
            counters.add("dialect.translate_s", time.perf_counter() - t)
            counters.add("dialect.sql_out_bytes", len(out))
            return out

        return probes.gated(tracer, orig, traced)

    def clickhouse_sql(orig):
        def traced(spark, sql, sf_dir=None, _layout=None):
            cache = getattr(dialect, "_PLAN_CACHE", None)
            before = len(cache) if cache is not None else None
            with tracer.span("dialect.clickhouse_sql"):
                out = orig(spark, sql, sf_dir, _layout)
            if before is not None and sf_dir is not None:
                hit = len(cache) == before
                counters.add("dialect.plan_cache_hits" if hit else "dialect.plan_cache_misses")
            return out

        return probes.gated(tracer, orig, traced)

    def spark_sql(orig):
        # Parsing and analysis run eagerly inside SparkSession.sql.
        def traced(self, *args, **kwargs):
            df = orig(self, *args, **kwargs)
            cold = _in_cold(tracer)
            if cold is not None:
                ph = probes.phases(df._jdf.queryExecution())
                side = run.qlayers["cold" if cold else "warm"]
                for k in ("parsing", "analysis"):
                    side[f"catalyst.{k}_ms"] = side.get(f"catalyst.{k}_ms", 0) + ph.get(k, 0)
            return df

        return probes.gated(tracer, orig, traced)

    def process_batch(orig):
        def traced(self, batch_df, batch_id):
            before = _state_files(self.state_dir)
            t = time.perf_counter()
            with tracer.span("sink.process_batch", trace_id=f"batch-{batch_id}"):
                orig(self, batch_df, batch_id)
            counters.sample("sink.process_batch_s", time.perf_counter() - t)
            after = _state_files(self.state_dir)
            new = {p: s for p, s in after.items() if p not in before}
            counters.sample("sink.bytes_written", sum(new.values()))
            counters.sample("sink.touched_buckets", len({os.path.dirname(p) for p in new}))
            counters.sample("sink.state_files", len(after))

        return probes.gated(tracer, orig, traced)

    def read_state(orig):
        def traced(self):
            t = time.perf_counter()
            with tracer.span("sink.read_state") as span:
                out = orig(self)
            parent = span["parent"]
            if parent is not None and tracer.spans[parent]["name"] == "sink.process_batch":
                counters.sample("sink.read_state_s", time.perf_counter() - t)
            return out

        return probes.gated(tracer, orig, traced)

    stack = contextlib.ExitStack()
    stack.enter_context(
        probes.patched(
            [
                (f"{pkg}.tables", "load_tables", load_tables),
                (f"{pkg}.dialect", "translate", translate),
                (f"{pkg}.dialect", "clickhouse_sql", clickhouse_sql),
            ]
        )
    )
    stack.enter_context(probes.patched_method(SparkSession, "sql", spark_sql))
    stack.enter_context(probes.patched_method(ParquetUpsertSink, "process_batch", process_batch))
    stack.enter_context(probes.patched_method(ParquetUpsertSink, "read_state", read_state))
    return stack


def _in_cold(tracer) -> bool | None:
    """Whether this thread is inside a cold query call (None: in no query)."""
    root = tracer.root()
    if root is None or root["name"] != "query":
        return None
    return root["trace_id"].endswith("#cold")


def _state_files(state_dir: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(state_dir):
        for f in fs:
            if f.endswith(".parquet"):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


def execute(run: Run, spark) -> tuple[dict, dict]:
    """Run the timed phases, with outputs checked as they arrive; return
    the metrics to print and the wall time of each phase."""
    from perfbench import probes
    from pyspark import SparkContext

    tracer, counters = probes.Tracer(), probes.Counters()
    probe = jvm = None
    scope = contextlib.nullcontext()
    if run.trace:
        probe, jvm = probes.QueryProbe(spark), probes.JvmCounters(spark)
        run.qlayers = {"cold": {}, "warm": {}}
        scope = instrument(run, tracer, counters)
    wall = {}
    with scope:
        t = time.perf_counter()
        with tracer.on(run.trace):
            run.ingest(spark, counters)
        wall["ingest"] = time.perf_counter() - t
        t = time.perf_counter()
        run.measure(spark, probe, tracer, jvm)
        wall["measure"] = time.perf_counter() - t
    calibration = calibrate(spark)
    pids = [os.getpid()]
    jproc = getattr(SparkContext._gateway, "proc", None)
    if jproc is not None:
        pids.append(jproc.pid)
    run.e2e["peak_rss_mb"] = probes.peak_rss_mb(pids)
    if run.trace:
        probe.close()
    run.check_state()
    run.e2e["state_bytes_per_row"] = run.state_bytes / max(1, run.live_rows)
    info = {"phase_s": wall, "calibration_s": calibration, "samples": run.detail}
    if not run.trace:
        return {k: run.e2e[k] for k in END_TO_END}, info

    L = run.layer
    L["trace.events_per_s"] = run.e2e["events_per_s"]
    L["trace.cold_s"] = run.e2e["cold_s"]
    cold, warm = run.qlayers["cold"], run.qlayers["warm"]
    for k in COLD_LAYERS:
        L[k] = cold.get(k, 0)
    for k in WARM_LAYERS:
        L[k] = warm.get(k, 0) / max(1, run.traced_rounds)
    L["exec.task_skew"] = warm.get("exec.task_skew", 1.0)
    for k in ("cache.persisted_bytes", "cache.unreleased_rdds"):
        L[k] = max(cold.get(k, 0), warm.get(k, 0))
    for k in ("tables.load_s", "tables.load_calls", "dialect.translate_s",
              "dialect.sql_out_bytes", "dialect.plan_cache_hits", "dialect.plan_cache_misses"):
        L[k] = counters.values.get(k, 0)
    selfs = tracer.self_time_by_name()
    for name in SPAN_NAMES:
        L[f"self.{name}_s"] = selfs.get(name, 0.0)
    path = os.path.join(
        ROOT, ".perfbench_work", "traces", f"{run.args.workload}-seed{run.args.seed}.json"
    )
    tracer.dump(path, {"workload": run.args.workload, "seed": run.args.seed, "layers": L})
    info["trace_file"] = os.path.relpath(path, ROOT)
    return {k: L[k] for k in PER_LAYER}, info


def calibrate(spark) -> float:
    """Wall time of a fixed code-generated job that reads no input and
    calls no package code: it tracks the box's speed, so a reader can tell
    a drifting machine from a changed program (the gauge ``bench.py``
    records too)."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id * 3 + 7) AS s").collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM and
    the Python workers it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        ppid = todo.pop()
        kids = [c for c, p in parent.items() if p == ppid]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """Whether ``pid`` runs (an exited, unreaped process does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import python_cdc_postgres_to_clickhouse_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the system under test: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    load_start, cpu_start = os.getloadavg(), _cpu_times()
    run = Run(args, work)
    spark = None
    try:
        run.make_inputs()
        spark = run.setup()
        metrics, info = execute(run, spark)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if run.trace else END_TO_END
    info.update(
        workload=args.workload,
        seed=args.seed,
        nproc=nproc(),
        driver_memory=DRIVER_MEMORY,
        loadavg_start=load_start,
        loadavg_end=os.getloadavg(),
        steal_share=_steal_share(cpu_start, _cpu_times()),
        input_gen_s=run.gen_s,
        error_rate=run.failed / max(1, run.attempted),
        errors=run.errors[:10],
        wall_s=time.perf_counter() - T_PROCESS,
    )
    print(json.dumps({"run": info}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
