"""Measurement plumbing: spans, the Spark status-store census, the
streaming progress listener and process-tree CPU and peak RSS from
``/proc``.

Spans live in memory (a list of dicts) and are written out once, when
the run ends. A span's self time is its duration minus the part of its
interval that its child spans cover.
"""

from __future__ import annotations

import contextlib
from datetime import datetime

from py4j.protocol import Py4JJavaError
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")
SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, layer, time.time(), None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.time()

    def add(self, name, layer, t0, t1, parent=None, **attrs) -> dict:
        """Record a span timed elsewhere (a Spark job, a micro-batch, a
        worker-side fit); ``parent`` defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "layer": layer, "t0": t0, "t1": t1, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {
            s["id"]: (s["t1"] - s["t0"]) - covered(s, kids.get(s["id"], []))
            for s in self.spans
        }

    def layer_table(self) -> dict[str, dict]:
        """Per layer: span count, summed duration and summed self time."""
        own = self.self_times()
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(s["layer"], {"spans": 0, "total_s": 0.0, "self_s": 0.0})
            row["spans"] += 1
            row["total_s"] += s["t1"] - s["t0"]
            row["self_s"] += own[s["id"]]
        return table


def covered(span: dict, children: list[dict]) -> float:
    """Length of the union of the children's intervals, clipped to the span."""
    ivs = sorted(
        (max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in children
    )
    total, end = 0.0, span["t0"]
    for a, b in ivs:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


class SparkCensus:
    """Reads jobs and stages from the JVM's AppStatusStore (works with the
    UI off). Jobs are assigned to the operation whose interval holds their
    submission time: the load is one closed-loop client, so operations
    never overlap."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen: set[int] = set()
        self._seen_sql: set[int] = set()
        self.mark()

    def mark(self) -> None:
        """Forget every job and SQL execution run so far."""
        self._seen |= {j.jobId() for j in _seq(self.store.jobsList(None))}
        self._seen_sql |= {e.executionId() for e in _seq(self.sql.executionsList())}

    def new_python_bytes(self) -> list[tuple[float, int]]:
        """(submission time, Arrow bytes sent to plus returned from Python
        workers) per SQL execution since the last call. The SQL metrics
        are kept only in their formatted form ("783.3 KiB"), so the
        bytes carry four significant digits."""
        out = []
        for e in _seq(self.sql.executionsList()):
            if e.executionId() in self._seen_sql or not e.completionTime().isDefined():
                continue
            self._seen_sql.add(e.executionId())
            ids = {m.accumulatorId() for m in _seq(e.metrics()) if m.name() in PY_BYTES_METRICS}
            if not ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            total = 0
            for acc in ids:
                if values.contains(acc):
                    total += _parse_size(values.apply(acc))
            out.append((e.submissionTime() / 1e3, total))
        return out

    def new_jobs(self) -> list[dict]:
        """Jobs (with their stages) submitted since the last call."""
        out = []
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() in self._seen or not j.completionTime().isDefined():
                continue
            self._seen.add(j.jobId())
            stages = []
            for sid in _seq(j.stageIds()):
                try:
                    st = self.store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # skipped stage (reused exchange): never ran
                    continue
                if st.submissionTime().isDefined() and st.completionTime().isDefined():
                    stages.append(_stage(self.store, st))
            out.append({
                "job": j.jobId(),
                "t0": _ms(j.submissionTime()),
                "t1": _ms(j.completionTime()),
                "stages": stages,
            })
        return out


def _parse_size(text: str) -> int:
    """Bytes from a formatted SQL size metric: the total is the first
    "<number> <unit>" after the header line."""
    num, unit = text.split("\n")[-1].split(" (")[0].split()
    return int(float(num) * SIZE_UNITS[unit])


def _stage(store, st) -> dict:
    return {
        "stage": st.stageId(),
        "t0": _ms(st.submissionTime()),
        "t1": _ms(st.completionTime()),
        "tasks": st.numCompleteTasks(),
        "run_s": st.executorRunTime() / 1e3,
        "cpu_s": st.executorCpuTime() / 1e9,
        "input_bytes": st.inputBytes(),
        "shuffle_bytes": st.shuffleWriteBytes(),
        "task_s": _task_seconds(store, st),
    }


def _task_seconds(store, st) -> list[float]:
    tasks = store.taskList(st.stageId(), st.attemptId(), 100_000)
    return [t.duration().get() / 1e3 for t in _seq(tasks) if t.duration().isDefined()]


def attach_jobs(tracer: Tracer, op_span: dict, jobs: list[dict]) -> dict:
    """Parent the jobs (and their stages) to ``op_span`` and sum the
    operation's JVM counters; ``driver_s`` is the part of the operation's
    wall time that no job covers (planning, py4j, collects, solves)."""
    agg = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "input_bytes": 0, "shuffle_bytes": 0}
    job_spans = []
    for j in jobs:
        js = tracer.add(f"job {j['job']}", "spark.job", j["t0"], j["t1"], parent=op_span["id"])
        job_spans.append(js)
        agg["jobs"] += 1
        for st in j["stages"]:
            tracer.add(f"stage {st['stage']}", "spark.stage", st["t0"], st["t1"], parent=js["id"],
                       op_id=op_span["id"])
            agg["stages"] += 1
            for k in ("tasks", "run_s", "cpu_s", "input_bytes", "shuffle_bytes"):
                agg[k] += st[k]
    agg["driver_s"] = (op_span["t1"] - op_span["t0"]) - covered(op_span, job_spans)
    return agg


class StreamListener:
    """Collects every micro-batch progress event of the session's
    streaming queries (input rows, batch duration, addBatch time and
    state-store commit time)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "run_id": str(p.runId),
                    "t0": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "rows": int(p.numInputRows),
                    "batch_ms": int(p.batchDuration),
                    "add_batch_ms": int(p.durationMs.get("addBatch", 0)),
                    "commit_ms": sum(int(s.commitTimeMs) for s in p.stateOperators),
                }
                with lock:
                    events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def drain(self) -> list[dict]:
        """Every event delivered since the last call."""
        with self._lock:
            out, self.events[:] = list(self.events), []
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree under this process: user +
    system of every live process plus what reaped children left."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over the live processes of the tree of each one's peak resident
    memory (``VmHWM``): an upper bound of the tree's peak."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024
