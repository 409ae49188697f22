#!/usr/bin/env python3
"""The engine's benchmark: two workloads, checked outputs, named metrics.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. One run:

1. builds its inputs (corpus tables once per checkout, cached under
   ``perfbench/_work/``; stream backlogs from ``--seed`` every run);
2. set-up: starts the session, makes one untimed pass over the
   workload that collects every output (warm-up and verification),
   then the workload's untimed warm passes (``WARM_PASSES``);
3. measures passes for ``--seconds`` seconds (the pass in progress is
   finished);
4. checks the collected outputs against the DuckDB oracle or the answer
   the stream generator planted, and checks after every query and
   stream pass that no persisted RDD is left behind.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates untraced and traced passes, reports the
per-layer metrics (layers.json maps each to its layer, the end-to-end
metric it should move and the workload it shows on) and the tracing
overhead, and writes the span tree to
``perfbench/_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The lines before it print every metric with its unit, the environment,
and ``error_rate`` (failed / attempted), which the JSON carries as
``failed`` and ``attempted``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import decimal
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import duckdb
import pandas as pd
import pyarrow
from py4j.protocol import Py4JError

import gen
from spans import ProgressListener, StatusProbe, Tracer, busy_gap

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CPUS = min(4, os.cpu_count() or 4)  # fixed, so runs compare across machines
DRIVER_MEM = "2g"
STREAM_TIMEOUT_S = 120

# Training-data rows whose time is in the action (shuffles, joins,
# aggregations); each has a DuckDB oracle.
CORPUS_QUERIES = (
    "dedup_containment",
    "winnow_overlap_pairs",
    "doc_semantic_pairs",
)
# the two detectors with one key per order or transaction, whose
# event-time timers decide the answer
STREAM_JOBS = ("order_timeout_stream", "tx_match_stream")

# The corpus tables are fixed (the seed orders the rows within each
# pass): a 1,500-document base. At this size the compute dominates;
# with 500 documents the per-query driver work dominated and passes
# kept speeding up for a minute (JIT), so runs disagreed. A pass takes
# a few seconds, so a run times several and reports their median.
CORPUS_TABLES = {"seed": 20240104, "sf": 0.01, "n_docs": 1500, "n_emb": 500}
# untimed passes after the collecting one, part of set-up: passes
# still speed up over the first two (corpus) or the first (stream)
WARM_PASSES = {"corpus": 2, "stream_state": 1}
STREAM_FILES = 2  # data micro-batches per job; a no-data batch fires the last timers
STREAM_SCALE = 10  # 50 x scale orders and as many transactions

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "events_per_s": "events/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies of the machine so far. Steal is time the
    hypervisor ran something else on our virtual CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def _steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs, pct: int) -> float:
    """Percentile with linear interpolation between order statistics."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[pct - 1])


class Counters:
    """Per-layer totals of the traced passes."""

    KEYS = (
        "tables.load_s", "tables.load_jobs", "queries.build_s", "queries.build_jobs",
        "plan.s", "operators.exec_s", "operators.jobs", "operators.stages",
        "operators.tasks", "operators.task_s", "operators.driver_gap_s",
        "operators.shuffle_read_bytes", "operators.shuffle_write_bytes",
        "operators.spill_bytes", "operators.input_bytes", "operators.python_rows",
        "operators.python_bytes", "operators.python_init_s", "caching.release_s", "streaming.batches",
        "streaming.input_rows", "streaming.add_batch_ms", "streaming.planning_ms",
        "streaming.get_batch_ms", "streaming.commit_ms", "streaming.state_commit_ms",
        "streaming.late_rows_dropped",
    )
    PEAKS = ("caching.persists_peak", "streaming.state_rows_peak", "streaming.state_bytes_peak")

    def __init__(self) -> None:
        self.v = {k: 0.0 for k in self.KEYS + self.PEAKS}

    def add(self, key: str, x: float) -> None:
        self.v[key] += x

    def peak(self, key: str, x: float) -> None:
        self.v[key] = max(self.v[key], x)

    def add_stages(self, st: dict) -> None:
        for k in ("jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            self.add(f"operators.{k}", st[k])


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.attempted = 0
        self.failures: list[str] = []
        self.counters = Counters()
        self.leaked = 0
        self.query_ms: dict[str, list[float]] = {}  # timed walls per batch query
        self.batch_ms: list[float] = []  # triggerExecution per timed micro-batch
        self.events_total = 0
        self.events_wall = 0.0
        self.tracer = None
        self.env: dict = {}

    # ------------------------------------------------------------ helpers
    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED: {what}")

    def check_hygiene(self, what: str) -> None:
        """After release_all() + clearCache() no RDD may stay persisted."""
        self.attempted += 1
        n = int(self.sc._jsc.getPersistentRDDs().size())
        if n:
            self.leaked += 1
            self.fail(f"{what}: {n} persisted RDDs left after release")

    def release(self) -> None:
        t = time.perf_counter()
        self.release_all()
        self.spark.catalog.clearCache()
        if self.tracing:
            self.counters.add("caching.release_s", time.perf_counter() - t)

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        local = os.path.join(self.run_dir, "local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        # every JVM the launch starts keeps its temp files in the run dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
        from flink_kafka_spark.caching import release_all
        from flink_kafka_spark.session import get_spark

        self.release_all = release_all
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CPUS}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        took = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.probe = StatusProbe(self.spark)
        return took

    def record_env(self, inputs: dict) -> None:
        self.env = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "cpus": CPUS,
            "default_parallelism": self.sc.defaultParallelism,
            "driver_memory": DRIVER_MEM,
            "spark": self.spark.version,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "inputs": inputs,
            "loadavg_before": os.getloadavg(),
        }

    # ------------------------------------------------------------ batch
    def batch_setup(self) -> None:
        from flink_kafka_spark.queries import all_queries

        self.sf_dir = os.path.join(WORK, f"tables-{self.workload}")
        self.table_info = gen.ensure_tables(self.sf_dir, CORPUS_TABLES)
        registry = all_queries()
        self.queries = {n: registry[n] for n in CORPUS_QUERIES}
        self.input_rows = sum(v["rows"] for v in self.table_info.values())

    def run_query(self, name: str, collect: bool):
        """Build and run one query (collecting its rows, or to a noop
        sink), release its persists and check hygiene. Returns
        (wall_s or None if it raised, pandas result or None)."""
        self.attempted += 1
        wall, out = None, None
        try:
            if self.tracing:
                with self.tracer.span("query", query=name) as qspan:
                    wall = self.traced_query(name, qspan)
            else:
                t0 = time.perf_counter()
                df = self.queries[name].fn(self.spark, self.sf_dir)
                if collect:
                    out = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
        except Exception:
            self.fail(f"{name}: raised\n{traceback.format_exc()}")
        self.release()
        self.check_hygiene(name)
        return wall, out

    def traced_query(self, name: str, qspan: dict) -> float:
        """The query split into build, plan and action spans, each call
        tagged with its own job group."""
        group = f"pb-{qspan['id']}"
        c = self.counters
        self.sc.setJobGroup(f"{group}-build", name, False)
        try:
            t0 = time.perf_counter()
            with self.tracer.span("build"):
                df = self.queries[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self.sc.setJobGroup(f"{group}-action", name, False)
            mark = self.probe.sql_mark()
            a0 = time.time()
            with self.tracer.span("action"):
                df.write.format("noop").mode("overwrite").save()
            a1 = time.time()
            t3 = time.perf_counter()
        finally:
            self.sc.setJobGroup("pb-idle", "", False)
        b = self.probe.stages(f"{group}-build")
        st = self.probe.stages(f"{group}-action")
        gap = busy_gap(st["intervals"], a0, a1)
        py = self.probe.python_io(mark)
        c.add("queries.build_s", t1 - t0)
        c.add("queries.build_jobs", b["jobs"])
        c.add("plan.s", t2 - t1)
        c.add("operators.exec_s", t3 - t2)
        c.add_stages(st)
        c.add("operators.driver_gap_s", gap)
        c.add("operators.python_rows", py["python_rows"])
        c.add("operators.python_bytes", py["python_bytes"])
        c.add("operators.python_init_s", py["python_init_s"])
        c.peak("caching.persists_peak", int(self.sc._jsc.getPersistentRDDs().size()))
        qspan.update(
            wall=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2,
            build_jobs=b["jobs"], jobs=st["jobs"], stages=st["stages"], tasks=st["tasks"],
            task_s=st["task_s"], driver_gap_s=gap,
            shuffle_bytes=st["shuffle_read_bytes"] + st["shuffle_write_bytes"], **py,
        )
        return t3 - t0

    def batch_pass(self, order, collect: bool = False) -> float:
        t = time.perf_counter()
        results = {}
        for name in order:
            wall, out = self.run_query(name, collect)
            if wall is not None and not collect:
                self.query_ms.setdefault(name, []).append(wall * 1000.0)
            results[name] = out
        self.last_results = results
        return time.perf_counter() - t

    def verify_batch(self, results: dict) -> None:
        con = duckdb.connect()
        for t, expr in gen.duckdb_paths(self.sf_dir, self.table_info).items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {expr}")
        for name, pdf in results.items():
            if pdf is None:
                continue  # the query raised; already counted
            self.attempted += 1
            err = compare(pdf, con.execute(self.queries[name].oracle).df())
            if err:
                self.fail(f"{name}: output mismatch: {err}")

    def trace_tables(self) -> None:
        """One direct tables.load + schema resolution per table."""
        from flink_kafka_spark.tables import load

        self.sc.setJobGroup("pb-tables", "tables", False)
        with self.tracer.span("tables"):
            t = time.perf_counter()
            for name in self.table_info:
                load(self.spark, self.sf_dir, name).schema
            self.counters.add("tables.load_s", time.perf_counter() - t)
        self.counters.add("tables.load_jobs", len(self.probe.group_jobs("pb-tables")))
        self.sc.setJobGroup("pb-idle", "", False)

    # ------------------------------------------------------------ stream
    def stream_setup(self) -> None:
        self.inputs = gen.stream_inputs(
            os.path.join(self.run_dir, "streams"), self.seed, STREAM_FILES, STREAM_SCALE
        )
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def stream_sources(self, job: str):
        from flink_kafka_spark.schemas import ORDER_EVENT, RECEIPT_EVENT
        from flink_kafka_spark.streaming.sources import csv_replay_source

        def src(path, schema):
            return csv_replay_source(self.spark, path, schema, max_files_per_trigger=1).withWatermark(
                "ts", "1 second"
            )

        d = self.inputs.dirs
        if job == "order_timeout_stream":
            return (src(d["orders"], ORDER_EVENT),)
        return (src(d["tx"][0], ORDER_EVENT), src(d["tx"][1], RECEIPT_EVENT))

    def stream_build(self, job: str, sources):
        from flink_kafka_spark.streaming import stateful

        if job == "order_timeout_stream":
            return stateful.order_timeout_stream(sources[0], timeout_s=self.inputs.expected["orders"]["timeout"])
        return stateful.tx_match_stream(*sources)

    def stream_pass(self, order, tag: str, collect: bool = False) -> float:
        """Drain each detector's backlog to termination, one job at a
        time in ``order`` (a closed loop: into a memory sink when
        collecting, else a noop sink), then release and check hygiene."""
        tr = self.tracing
        mark = self.probe.sql_mark() if tr else 0
        t0 = time.perf_counter()
        results = {}
        for job in order:
            self.attempted += 1
            try:
                results[job] = self.run_stream(job, tag, collect)
            except Exception:
                self.fail(f"{job}: raised\n{traceback.format_exc()}")
        took = time.perf_counter() - t0
        if not collect:
            self.events_wall += took
        if tr:
            py = self.probe.python_io(mark)
            self.counters.add("operators.python_rows", py["python_rows"])
            self.counters.add("operators.python_bytes", py["python_bytes"])
            self.counters.add("operators.python_init_s", py["python_init_s"])
            self.counters.add("operators.exec_s", took)
        self.release()
        self.check_hygiene(f"stream pass {tag}")
        self.last_results = results
        return took

    def run_stream(self, job: str, tag: str, collect: bool):
        """One detector from source to termination; returns its output
        rows when collecting."""
        t0 = time.perf_counter()
        sources = self.stream_sources(job)
        t1 = time.perf_counter()
        df = self.stream_build(job, sources)
        t2 = time.perf_counter()
        sink = f"pb_{job}_{tag}"
        w = df.writeStream.outputMode("append").option(
            "checkpointLocation", os.path.join(self.run_dir, "ckpt", f"{tag}-{job}")
        )
        w = w.format("memory").queryName(sink) if collect else w.format("noop")
        q = w.trigger(availableNow=True).start()
        run = {"job": job, "q": q, "t0": t0, "load_s": t1 - t0, "build_s": t2 - t1, "s0": time.time()}
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            q.awaitTermination(30)
            raise RuntimeError(f"still running after {STREAM_TIMEOUT_S} s")
        end, s1 = time.perf_counter(), time.time()
        qid = str(q.id)
        if not self.listener.wait_terminated(qid, 30):
            raise RuntimeError("terminated event not delivered")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = self.listener.batches(qid)
        if collect:
            out = self.spark.sql(f"SELECT * FROM {sink}").toPandas()
            self.spark.catalog.dropTempView(sink)
            return out
        self.events_total += sum(b["numInputRows"] for b in batches)
        self.batch_ms += [b["durationMs"].get("triggerExecution", 0) for b in batches]
        if self.tracing:
            self.stream_counters(run, batches, end, s1)
        return None

    def stream_counters(self, run: dict, batches: list[dict], end: float, s1: float) -> None:
        """Per-job counters from the status store (the stream's jobs run
        under its runId as job group) and its progress events; spans
        for the job and each micro-batch."""
        c = self.counters
        c.add("tables.load_s", run["load_s"])
        c.add("queries.build_s", run["build_s"])
        st = self.probe.stages(str(run["q"].runId))
        c.add_stages(st)
        gap = busy_gap(st["intervals"], run["s0"], s1)
        c.add("operators.driver_gap_s", gap)
        c.peak("caching.persists_peak", int(self.sc._jsc.getPersistentRDDs().size()))
        jid = self.tracer.add(
            "job", run["t0"], end, self.tracer.current(), job=run["job"],
            load_s=run["load_s"], build_s=run["build_s"], jobs=st["jobs"],
            stages=st["stages"], tasks=st["tasks"], task_s=st["task_s"], driver_gap_s=gap,
        )
        offset = time.time() - time.perf_counter()
        for b in batches:
            d = b["durationMs"]
            c.add("streaming.batches", 1)
            c.add("streaming.input_rows", b["numInputRows"])
            c.add("streaming.add_batch_ms", d.get("addBatch", 0))
            c.add("streaming.planning_ms", d.get("queryPlanning", 0))
            c.add("plan.s", d.get("queryPlanning", 0) / 1000.0)
            c.add("streaming.get_batch_ms", d.get("getBatch", 0) + d.get("latestOffset", 0))
            c.add("streaming.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
            for so in b.get("stateOperators", []):
                c.peak("streaming.state_rows_peak", so.get("numRowsTotal", 0))
                c.peak("streaming.state_bytes_peak", so.get("memoryUsedBytes", 0))
                c.add("streaming.state_commit_ms", so.get("commitTimeMs", 0))
                c.add("streaming.late_rows_dropped", so.get("numRowsDroppedByWatermark", 0))
            start = _iso_epoch(b["timestamp"]) - offset
            self.tracer.add(
                "micro-batch", start, start + d.get("triggerExecution", 0) / 1000.0, jid,
                batch=b["batchId"], input_rows=b["numInputRows"], durations=d,
                state=[
                    {k: so.get(k) for k in ("numRowsTotal", "memoryUsedBytes", "numRowsDroppedByWatermark")}
                    for so in b.get("stateOperators", [])
                ],
            )

    def verify_stream(self, results: dict) -> None:
        exp = self.inputs.expected
        for job, pdf in results.items():
            if pdf is None:
                continue
            self.attempted += 1
            err = check_stream(job, pdf, exp)
            if err:
                self.fail(f"{job}: output mismatch: {err}")

    # ------------------------------------------------------------ run
    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self._traced_pass

    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def run(self) -> dict:
        os.makedirs(self.run_dir, exist_ok=True)
        rng = random.Random(self.seed)
        self._traced_pass = False
        self.tracer = Tracer() if self.trace else None
        stream = self.workload == "stream_state"
        if not stream:
            self.batch_setup()  # cached table build, not part of set-up

        with self._span("run", workload=self.workload, seed=self.seed):
            t_setup = time.perf_counter()
            with self._span("setup"):
                session_s = self.start_session()
                if stream:
                    self.stream_setup()
                    names = list(STREAM_JOBS)
                    inputs = {"events": self.inputs.events, "bytes": self.inputs.bytes, "files_per_job": STREAM_FILES}
                else:
                    names, inputs = list(self.queries), self.table_info
                self.record_env(inputs)
                # one untimed pass that collects every output
                order = names[:]
                rng.shuffle(order)
                if stream:
                    self.stream_pass(order, "verify", collect=True)
                else:
                    self.batch_pass(order, collect=True)
                verify_results = self.last_results
                for i in range(WARM_PASSES[self.workload]):
                    rng.shuffle(order)
                    if stream:
                        self.stream_pass(order, f"w{i}")
                    else:
                        self.batch_pass(order)
                # the warm passes' samples are not measurements
                self.query_ms, self.batch_ms = {}, []
                self.events_total, self.events_wall = 0, 0.0
            setup_s = time.perf_counter() - t_setup

            if self.trace and not stream:
                self._traced_pass = True
                self.trace_tables()
                self._traced_pass = False

            untraced, traced = [], []
            jiffies = _cpu_jiffies()
            deadline = time.perf_counter() + self.seconds
            k = 0
            while True:
                order = names[:]
                rng.shuffle(order)
                self._traced_pass = bool(self.trace and k % 2 == 1)
                with self._span("pass", index=k, traced=self._traced_pass):
                    took = self.stream_pass(order, f"p{k}") if stream else self.batch_pass(order)
                (traced if self._traced_pass else untraced).append(took)
                k += 1
                if time.perf_counter() >= deadline and (traced or not self.trace):
                    break
            self._traced_pass = False

        (self.verify_stream if stream else self.verify_batch)(verify_results)
        self.env["loadavg_after"] = os.getloadavg()
        # context for noisy virtual machines: the share of CPU time
        # stolen by the hypervisor while the timed passes ran
        self.env["steal_frac"] = _steal_frac(jiffies, _cpu_jiffies())
        self.env["passes"] = {"untraced": untraced, "traced": traced}
        # latency: per micro-batch for streams; for batch, each query's
        # median over the timed passes
        latencies = self.batch_ms if stream else [_median(v) for v in self.query_ms.values()]
        self.env["latency_samples"] = len(latencies)
        pass_s = _median(untraced)
        if stream:
            events_per_s = self.events_total / self.events_wall if self.events_wall else 0.0
        else:
            events_per_s = self.input_rows * len(untraced) / sum(untraced)
        e2e = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "events_per_s": events_per_s,
            "batch_p50_ms": _pct(latencies, 50),
            "batch_p90_ms": _pct(latencies, 90),
        }
        layers = None
        if self.trace:
            n = len(traced)
            v = {k: x / n for k, x in self.counters.v.items() if k in Counters.KEYS}
            v.update({k: self.counters.v[k] for k in Counters.PEAKS})
            if not stream:
                v["tables.load_s"] = self.counters.v["tables.load_s"]
                v["tables.load_jobs"] = self.counters.v["tables.load_jobs"]
            exec_s = v["operators.exec_s"]
            layers = {
                "session.start_s": session_s,
                "session.peak_rss_mb": _vm_hwm_mb("self")
                + _vm_hwm_mb(self.spark._jvm.ProcessHandle.current().pid()),
                **v,
                "operators.busy_frac": v["operators.task_s"] / (exec_s * CPUS) if exec_s else 0.0,
                "caching.leaked": self.leaked,
                "trace.overhead_frac": _median(traced) / pass_s - 1.0,
            }
            self.tracer.dump(
                os.path.join(WORK, f"trace-{self.workload}-{self.seed}.json"),
                {"env": self.env, "end_to_end": e2e, "per_layer": layers},
            )
        return {"e2e": e2e, "layers": layers}

    def shutdown(self) -> None:
        """Remove the listener, wait for any stream, stop the session,
        then end the driver JVM and every process this run started
        (Python workers included) and wait until each has exited."""
        spark = getattr(self, "spark", None)
        procs = set(_ours())
        try:
            if spark is not None:
                if getattr(self, "listener", None) is not None:
                    spark.streams.removeListener(self.listener)
                for q in spark.streams.active:
                    q.stop()
                    q.awaitTermination(30)
                spark.stop()
        finally:
            procs.update(_ours())
            _stop_gateway()
            procs.update(_ours())
            _reap(sorted(procs))


RUN_MARK = "PERFBENCH_RUN"  # inherited by every process a run starts


def _ours() -> list[int]:
    """Every live process this run started: those below it, and any
    that left the tree but carry its mark in their environment."""
    me = os.getpid()
    mark = f"{RUN_MARK}={me}".encode()
    children: dict[int, list[int]] = {}
    marked = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
            with open(f"/proc/{d}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    marked.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = set(marked), [me]
    while todo:
        kids = children.get(todo.pop(), [])
        out.update(kids)
        todo += kids
    return sorted(out)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _stop_gateway() -> None:
    """End the driver JVM: close the py4j gateway and the JVM's stdin
    (on EOF it exits), kill it if it lingers, and reap it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Py4JError, OSError):
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _reap(pids: list[int], grace_s: float = 10.0) -> None:
    """Wait for each process to end; kill any still running after
    ``grace_s`` and wait for those too."""
    deadline = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    for p in pids:
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(p, os.WNOHANG)
    deadline = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def _iso_epoch(ts: str) -> float:
    utc = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=datetime.timezone.utc)
    return utc.timestamp()


def _cell(v) -> str:
    """Exact cell rendering: 5, 5.0 and Decimal('5.00') all differ;
    only NULLs and timestamps are normalised."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ", ".join(_cell(x) for x in v) + "]"
    return repr(v.item() if hasattr(v, "item") else v)


def compare(spark_pdf, oracle_pdf) -> str | None:
    """Order-insensitive exact comparison of two result frames."""
    a, b = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if a != b:
        return f"columns {a} vs {b}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"{len(spark_pdf)} rows vs {len(oracle_pdf)}"
    ra = sorted(tuple(_cell(v) for v in r) for r in spark_pdf[a].itertuples(index=False, name=None))
    rb = sorted(tuple(_cell(v) for v in r) for r in oracle_pdf[a].itertuples(index=False, name=None))
    bad = [(x, y) for x, y in zip(ra, rb) if x != y]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None


def check_stream(job: str, pdf, exp: dict) -> str | None:
    """Compare a detector's output with the answer planted in its input."""
    if job == "order_timeout_stream":
        want = {int(k): v for k, v in exp["orders"]["outcome"].items()}
        rows = [(int(r.order_id), r.result_type) for r in pdf.itertuples() if int(r.order_id) in want]
    else:
        want = exp["tx"]
        rows = [(r.tx_id, r.result_type) for r in pdf.itertuples() if r.tx_id in want]
    got = dict(rows)
    if len(rows) != len(got):
        return f"{len(rows) - len(got)} keys answered twice"
    wrong = [k for k in want if got.get(k) != want[k]]
    return f"{len(wrong)} of {len(want)} keys wrong, e.g. {wrong[0]}: {got.get(wrong[0])} vs {want[wrong[0]]}" if wrong else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("corpus", "stream_state"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "flink_kafka_spark")):
        log(f"engine sources not found under {ROOT}; run from the root of a checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ[RUN_MARK] = str(os.getpid())
    # a terminating signal unwinds through the shutdown below
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, f: sys.exit(128 + n))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = bench.run()
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(bench.run_dir, ignore_errors=True)
    failed = len(bench.failures)
    attempted = max(bench.attempted, 1)
    print("env " + json.dumps(bench.env, default=str))
    for k, v in res["e2e"].items():
        print(f"{k} {v:.6g} {END_TO_END_UNITS[k]}")
    print(f"error_rate {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    if args.trace:
        for k, v in res["layers"].items():
            print(f"{k} {v:.6g}")
        with open(os.path.join(HERE, "layers.json")) as f:
            units = {k: m["unit"] for k, m in json.load(f)["metrics"].items()}
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in res["e2e"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
