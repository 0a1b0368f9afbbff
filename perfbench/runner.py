"""Pass runner: untraced, traced and checking passes over one workload.

Imported by run.py after it has pointed every scratch location into the
run's directory.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

from bigdata_project_spark import caching
from perfbench.trace import QueryPhases, StatusStore, StreamProgress, stage_totals
from perfbench.workloads import clear_pass, lake_dir, quarantine_dir
from tests.oracle import duckdb_con

# per-layer metrics that are counts: they must repeat exactly between traced passes
COUNT_METRICS = (
    "build.jobs", "plan.bytes", "exec.jobs", "exec.stages", "exec.tasks", "scan.rows", "scan.bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes", "cache.persisted_rdds",
    "cache.leaked_rdds", "stream.batches", "stream.rows", "stream.state_rows", "stream.ckpt_dirs_leaked",
    "listings.files_written", "listings.quarantined_rows",
)
MEDIAN_METRICS = (
    "build.s", "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "exec.sink_s",
    "exec.driver_gap_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "cache.release_s",
    "stream.add_batch_s", "stream.wal_commit_s", "stream.planning_s", "stream.state_bytes",
    "listings.etl_s", "listings.readback_s",
)


def jvm_peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def reset_peak_rss(pid: int) -> None:
    Path(f"/proc/{pid}/clear_refs").write_text("5")


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over the machine's CPUs, from /proc/stat."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, Path("/proc/stat").read_text().split()[1:9])
    return user + nice + system + irq + softirq, steal


class HostClock:
    """Wall time over an interval, and that time with the host's steal
    taken out.

    On a virtual machine the hypervisor takes vCPUs away to run other
    tenants; the guest counts that as steal time. A busy vCPU then runs
    for busy / (busy + steal) of the wall time, so the interval would have
    taken `wall * busy / (busy + steal)` on a host that took nothing away.
    Without steal the two are equal."""

    def __init__(self):
        self.t0, self.ticks0 = time.perf_counter(), cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall, unstolen) seconds since the clock was started."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        return wall, (wall * busy / (busy + steal) if busy + steal else wall)


def data_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]


class Runner:
    """Runs passes of one workload and keeps the failure tally."""

    def __init__(self, spark, workload, inputs, seed: int, spans):
        self.spark, self.wl, self.inputs, self.seed, self.spans = spark, workload, inputs, seed, spans
        self.attempted = 0
        self.failures: list[str] = []
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.tmp = Path(tempfile.gettempdir())
        self._op_id = 0
        self._store = None
        self._phases = None
        self._listener = None

    def _release(self) -> None:
        caching.release_cached(self.spark)
        # anything the framework did not track is freed too, so passes do not drift
        caching.release_cached(self.spark, sweep_all=True)

    def _fail(self, pass_no: int, op, err: str) -> None:
        self.failures.append(f"pass {pass_no} {op.name}: {err}")
        print(f"perfbench: FAILED pass {pass_no} {op.name}: {err}", file=sys.stderr)

    def _end_pass(self) -> int:
        """Per-pass hygiene: remove the checkpoint dirs streams left behind
        and the pass outputs. Returns the number of leaked checkpoint dirs."""
        leaked = [p for p in self.tmp.glob("ckpt_*") if p.is_dir()]
        for p in leaked:
            shutil.rmtree(p, ignore_errors=True)
        clear_pass(self.inputs)
        return len(leaked)

    def run_pass(self, pass_no: int, traced: bool = False, check: bool = False, oracle=None) -> dict:
        """One pass over every operation. With `check`, each operation is
        executed by its correctness check instead of its sink (the warm
        pass); `oracle` holds the answers registry checks compare with.
        Returns the pass's figures."""
        ops = self.wl.order(self.seed, pass_no)
        if traced:
            self._start_trace()
        reset_peak_rss(self.jvm_pid)
        layers: list[dict] = []
        clock = HostClock()
        for op in ops:
            self.attempted += 1
            try:
                if traced:
                    layers.append(self._traced_op(op))
                else:
                    df = op.build(self.spark, self.inputs)
                    if check:
                        err = op.check(self.spark, df, self.inputs, oracle)
                        if err:
                            self._fail(pass_no, op, err)
                    else:
                        op.sink(df, self.inputs)
                    self._release()
            except Exception as e:  # a failing operation is counted, the run goes on
                self._fail(pass_no, op, f"{type(e).__name__}: {str(e)[:300]}")
                self._release()
        wall, makespan = clock.read()
        out = {"makespan_s": makespan, "wall_s": wall, "peak_rss_mb": jvm_peak_rss_mb(self.jvm_pid)}
        if traced:
            out["layers"] = self._finish_trace(layers)
        leaked = self._end_pass()
        if traced:
            out["layers"]["stream.ckpt_dirs_leaked"] = leaked
        return out

    # --- traced passes -------------------------------------------------

    def _start_trace(self) -> None:
        if self._store is None:
            self._store = StatusStore(self.spark)
            self._phases = QueryPhases(self.spark)
        self._store.new_work()  # drop jobs of untraced work
        self._phases.start()
        self._listener = StreamProgress()
        self.spark.streams.addListener(self._listener)
        self._patched = self._wrap_inner_layers()

    def _wrap_inner_layers(self) -> list:
        """Spans around the stream builders called inside registry builders."""
        from bigdata_project_spark.operators import staging
        from bigdata_project_spark.streaming import pipeline

        targets = [
            (pipeline, "run_available_now", "stream.run_available_now"),
            (staging, "stage_chunks_one_pass", "staging.stage_chunks_one_pass"),
        ]
        return [(m, attr, self.spans.wrap(m, attr, name)) for m, attr, name in targets]

    def _traced_op(self, op) -> dict:
        sp = self.spans
        sp.op = self._op_id
        self._op_id += 1
        n_progress = len(self._listener.progress)
        with sp.span(op.name) as s_op:
            with sp.span("build") as s_build:
                df = op.build(self.spark, self.inputs)
            build_end_ms = time.time() * 1000.0
            with sp.span("exec.sink") as s_exec:
                op.sink(df, self.inputs)
            with sp.span("cache.release") as s_rel:
                persisted = len(caching.persistent_rdd_ids(self.spark))
                caching.release_cached(self.spark)
                leaked = len(caching.persistent_rdd_ids(self.spark))
                caching.release_cached(self.spark, sweep_all=True)
        work = self._store.new_work()
        totals = stage_totals(work)
        wall = s_op.end - s_op.start
        row = {
            "op": op.name,
            "wall_s": wall,
            "build.s": s_build.end - s_build.start,
            "build.jobs": sum(1 for j in work["jobs"] if j["submissionTime"] <= build_end_ms),
            **self._phases.take(),
            "exec.sink_s": s_exec.end - s_exec.start,
            "exec.driver_gap_s": max(0.0, wall - totals.pop("_stage_busy_s")),
            **totals,
            "cache.release_s": s_rel.end - s_rel.start,
            "cache.persisted_rdds": persisted,
            "cache.leaked_rdds": leaked,
        }
        row.update(self._listener.totals(self._listener.progress[n_progress:]))
        if op.name == "listings_etl":
            row["listings.etl_s"] = s_op.end - s_op.start
        elif op.name == "listings_readback":
            row["listings.readback_s"] = s_op.end - s_op.start
        return row

    def _finish_trace(self, layers: list[dict]) -> dict:
        self.spark.streams.removeListener(self._listener)
        self._phases.stop()
        for m, attr, orig in self._patched:
            setattr(m, attr, orig)
        out = {k: 0 for k in COUNT_METRICS + MEDIAN_METRICS}
        for row in layers:
            for k, v in row.items():
                if k in out:
                    out[k] += v
        if self.inputs.landing is not None:
            lake, quarantine = data_files(lake_dir(self.inputs)), data_files(quarantine_dir(self.inputs))
            out["listings.files_written"] = len(lake) + len(quarantine)
            lake_bytes = sum(p.stat().st_size for p in lake)
            out["listings.lake_bytes_per_input_byte"] = lake_bytes / self.inputs.landing.input_bytes
            out["listings.quarantined_rows"] = self.spark.read.parquet(str(quarantine_dir(self.inputs))).count()
            self._store.new_work()  # the count above is the collector's own job
        else:
            out["listings.lake_bytes_per_input_byte"] = 0.0
        out["scan.rows_per_input_row"] = out["scan.rows"] / self.inputs.records
        out["ops"] = layers
        return out


def summarize_layers(traced: list[dict], untraced: list[dict], setup: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics: medians of times over traced passes, counts from
    the first traced pass (and a list of counts that did not repeat)."""
    first = traced[0]["layers"]
    metrics = {k: first[k] for k in COUNT_METRICS}
    unstable = [k for k in COUNT_METRICS if any(p["layers"][k] != first[k] for p in traced[1:])]
    for k in MEDIAN_METRICS + ("listings.lake_bytes_per_input_byte", "scan.rows_per_input_row"):
        metrics[k] = statistics.median(p["layers"][k] for p in traced)
    metrics.update(setup)
    t_traced = statistics.median(p["makespan_s"] for p in traced)
    t_plain = statistics.median(p["makespan_s"] for p in untraced)
    metrics["trace.overhead_s"] = t_traced - t_plain
    metrics["jvm.peak_rss_mb"] = statistics.median(p["peak_rss_mb"] for p in untraced)
    metrics["trace.counts_repeat"] = 0 if unstable else 1
    return metrics, unstable


class OracleResults:
    """Oracle answers computed by DuckDB ahead of the warm pass. Stands in
    for the DuckDB connection that tests/oracle.compare queries."""

    class _Result:
        def __init__(self, rel):
            self.columns, self._rows = list(rel.columns), rel.fetchall()

        def fetchall(self) -> list:
            return self._rows

    def __init__(self, con, sqls):
        self._results = {q: self._Result(con.sql(q)) for q in sqls}

    def sql(self, query: str):
        return self._results[query]


def precompute_oracles(wl, inputs) -> OracleResults | None:
    if not inputs.sf_dir:
        return None
    from bigdata_project_spark.registry import REGISTRY

    con = duckdb_con(inputs.sf_dir)
    try:
        return OracleResults(con, [REGISTRY[op.name].oracle for op in wl.ops])
    finally:
        con.close()
