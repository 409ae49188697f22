"""Spans and counters read from outside the engine.

Everything here observes the program through public Spark surfaces:
the job group a call is tagged with, the application status store
(jobs, stages, task metrics), the SQL status store (per-operator
metrics such as the Python worker rows and bytes) and
``StreamingQueryProgress`` events. The Spark UI stays off; the stores
are kept by the Spark driver regardless.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span tree: each span has a name, start, end, parent
    and free-form attributes. Spans stay in memory until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a stream job, a micro-batch
        from its progress event); ``start``/``end`` are perf_counter
        readings. Returns its id."""
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "start": start - self._t0,
                "end": end - self._t0,
                **attrs,
            }
        )
        return sid

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 0.001, "s": 1, "m": 60, "h": 3600,
}


def _metric_value(text: str) -> float:
    """Parse a SQL metric as the status store formats it: a plain
    number ("100,000"), a size ("1.5 MiB"), a duration ("952 ms",
    "1.2 s") or a "total (min, med, max ...)" header followed by the
    total on the next line. Sizes come back in bytes, durations in
    seconds."""
    line = text.strip().splitlines()[-1] if "total (" in text else text.strip()
    m = re.match(r"([\d.,]+)\s*([KMGT]?i?B|ms|s|m|h)?\b", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _seq(jseq) -> list[int]:
    s = jseq.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


# plan nodes that run Python workers (MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandasWithState, MapInArrow, ...)
_PYTHON_NODES = ("Python", "Pandas", "InArrow")


class StatusProbe:
    """Counters read from the application status store (per job group)
    and the SQL status store (per execution)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> dict:
        """Counters over every job the group launched. Stage intervals
        are kept so the caller can measure driver gaps."""
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
            "intervals": [],
        }
        for jid in self.group_jobs(group):
            out["jobs"] += 1
            job = self.store.job(jid)
            for sid in _seq(job.stageIds()):
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    out["intervals"].append((a / 1000.0, b / 1000.0))
        return out

    def sql_mark(self) -> int:
        return int(self.sql.executionsCount())

    def python_io(self, since: int) -> dict:
        """Rows and bytes crossing the Python worker boundary, and the
        time workers spent initialising (loading the pickled function
        and its imports), in the SQL executions started after ``since``
        (a ``sql_mark`` reading)."""
        rows = nbytes = init_s = 0.0
        count = int(self.sql.executionsCount())
        if count <= since:
            return {"python_rows": 0, "python_bytes": 0, "python_init_s": 0.0}
        execs = self.sql.executionsList(since, count - since)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    name = m.name()
                    if "Python workers" not in name and not (
                        name == "number of output rows"
                        and any(p in node.name() for p in _PYTHON_NODES)
                    ):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if name == "number of output rows":
                        rows += _metric_value(v.get())
                    elif m.metricType() == "size":
                        nbytes += _metric_value(v.get())
                    elif name == "time to initialize Python workers":
                        init_s += _metric_value(v.get())
        return {"python_rows": int(rows), "python_bytes": int(nbytes), "python_init_s": init_s}


def busy_gap(intervals: list[tuple[float, float]], start_s: float, end_s: float) -> float:
    """Seconds of [start_s, end_s] (epoch seconds) with no stage running:
    the driver-side gaps of an action."""
    covered = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        a, b = max(a, start_s), min(b, end_s)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end_s - start_s) - covered)


class ProgressListener(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` of every query, keyed
    by query id. ``recentProgress`` is capped, so a long replay would
    under-report; the listener sees every micro-batch."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.terminated: dict[str, str | None] = {}
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        prog = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(prog["id"], []).append(prog)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._done:
            self.terminated[str(event.id)] = event.exception
            self._done.notify_all()

    def wait_terminated(self, qid: str, timeout: float) -> bool:
        """Listener events arrive on another thread; wait until the
        query's terminated event has been delivered, so every progress
        event before it has been folded in."""
        with self._done:
            return self._done.wait_for(lambda: qid in self.terminated, timeout)

    def batches(self, qid: str) -> list[dict]:
        with self._lock:
            return list(self.progress.get(qid, []))
