"""Traced-mode collectors: spans, Spark's status store, query phases,
stream progress.

Everything here runs in the benchmark process and observes the program
from outside: spans are opened around calls into the program's public
functions, stage and job statistics are read from Spark's AppStatusStore
over Py4J, Catalyst phase times arrive through a `QueryExecutionListener`
and micro-batch progress through a `StreamingQueryListener`, both
implemented in Python. Spans are kept in memory and written out when the
run ends.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    op: int  # one id per operation; set-up spans use op -1
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Spans:
    """In-memory span log. `span()` nests: the enclosing open span is the
    parent. Times are seconds on the perf_counter clock."""

    rows: list[Span] = field(default_factory=list)
    op: int = -1
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.rows), self.op, name, self._open[-1] if self._open else None, time.perf_counter())
        self.rows.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace module.attr with a version that records a span per
        call; returns the original so the caller can restore it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        return orig

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.rows]


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class StatusStore:
    """Job and stage statistics from the AppStatusStore, which serves them
    even with the UI disabled. Each call to `new_work()` returns the jobs
    and stages that finished since the previous call."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._last = {"job": -1, "stage": -1}
        self.new_work()  # everything before the collector started is history

    def _newer(self, seq, key: str, id_of) -> list[dict]:
        """Rows of a newest-first Scala Seq whose id is above the last one
        seen, serialized to JSON in one call."""
        fresh = self._jvm.java.util.ArrayList()
        for i in range(seq.size()):
            row = seq.apply(i)
            if id_of(row) <= self._last[key]:
                break
            fresh.add(row)
        if not fresh.size():
            return []
        rows = json.loads(self._json.writeValueAsString(fresh))
        self._last[key] = max(self._last[key], id_of(fresh.get(0)))
        return rows

    def new_work(self) -> dict:
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._newer(self._store.jobsList(None), "job", lambda j: j.jobId())
        # the 5-argument Spark 4.1 form: Scala default arguments do not
        # cross Py4J, so every argument is passed
        al = self._jvm.java.util.ArrayList
        stage_seq = self._store.stageList(al(), False, False, self._no_quantiles, al())
        stages = self._newer(stage_seq, "stage", lambda s: s.stageId())
        # a SKIPPED stage never ran: its output was reused from an earlier one
        return {"jobs": jobs, "stages": [s for s in stages if s["status"] != "SKIPPED"]}


def stage_totals(work: dict) -> dict:
    st = work["stages"]
    return {
        "exec.jobs": len(work["jobs"]),
        "exec.stages": len(st),
        "exec.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in st),
        "exec.task_run_s": sum(s["executorRunTime"] for s in st) / 1000.0,
        "exec.task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "scan.rows": sum(s["inputRecords"] for s in st),
        "scan.bytes": sum(s["inputBytes"] for s in st),
        "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in st),
        "shuffle.spill_bytes": sum(s["diskBytesSpilled"] for s in st),
        "_stage_busy_s": _union_s(
            [(s["submissionTime"], s["completionTime"]) for s in st if s["submissionTime"] and s["completionTime"]]
        ),
    }


_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_PATH = re.compile(r"(?:file:)?/[\w.=/-]+")
_HASH = re.compile(r"@[0-9a-f]+\b")
# AQE prints the runtime size of a cached relation, which depends on how
# far its materialization got when the plan was printed
_STATS = re.compile(r"Statistics\([^)]*\)")


def normalize_plan(text: str) -> str:
    """The plan text with what changes from run to run cut down to one
    character each: run ids, file paths (temp dir names, the checkout's
    location), object hash codes, runtime statistics, and each run of
    digits (expression and RDD ids, which grow during a session)."""
    for pattern in (_UUID, _PATH, _HASH, _STATS):
        text = pattern.sub("_", text)
    return re.sub(r"\d+", "0", text)


class QueryPhases:
    """Catalyst phase times and plan size of every query execution that
    ran, from a `QueryExecutionListener` implemented over Py4J. It sees the
    executions that actually ran: the sink's write commands and each
    DataFrame action a builder submits, not the DataFrame a builder
    returns, which is never executed itself. Events arrive on the listener
    bus, so call `take()` after `StatusStore.new_work()` has drained it."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        # Py4J makes a new Java proxy each time a Python object crosses, so
        # keep one proxy: unregister must see the object register saw
        holder = spark._jvm.java.util.ArrayList()
        holder.add(self)
        self._proxy = holder.get(0)
        self._mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        self.rows: list[dict] = []

    def start(self) -> None:
        self._manager.register(self._proxy)

    def stop(self) -> None:
        self._manager.unregister(self._proxy)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        row = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            row[f"plan.{phase}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        row["plan.bytes"] = len(normalize_plan(qe.explainString(self._mode)))
        self.rows.append(row)

    def take(self) -> dict:
        """Sums over the executions recorded since the last call."""
        rows, self.rows = self.rows, []
        keys = ("plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.bytes")
        return {k: sum(r[k] for r in rows) for k in keys}


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "durations_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    @staticmethod
    def totals(progress: list[dict]) -> dict:
        """Sums over the given progress reports; state size is each
        query's last report."""
        last = {p["query"]: p for p in progress}
        d = [p["durations_ms"] for p in progress]
        return {
            "stream.batches": len(progress),
            "stream.rows": sum(p["rows"] for p in progress),
            "stream.add_batch_s": sum(x.get("addBatch", 0) for x in d) / 1000.0,
            "stream.wal_commit_s": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1000.0,
            "stream.planning_s": sum(x.get("queryPlanning", 0) for x in d) / 1000.0,
            "stream.state_rows": sum(p["state_rows"] for p in last.values()),
            "stream.state_bytes": sum(p["state_bytes"] for p in last.values()),
        }
