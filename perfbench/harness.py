"""Run context shared by the workloads: session start and stop, timed
operations, correctness bookkeeping and per-layer attribution.

An operation is one call the closed-loop client makes into the
library: a registered query built and collected to pandas, or a
listing batch from landing to visible. In the traced run each
operation is a span with ``build`` / ``execute`` / ``trigger``
children, and every Spark job that ran inside it becomes a ``job``
span under whichever child was open when the job was submitted.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from tracing import CpuClock, Tracer, _covered, metric_total, self_times

# Wall-clock figures: in every record, and in the traced run's metrics.
WALL = {
    "wall.op_p50_s": "s",
    "wall.op_tail_s": "s",
    "wall.read_p50_s": "s",
    "wall.cycle_s": "s",
    "wall.rows_per_s": "1/s",
    "wall.peak_rss_mb": "MB",
}

# Per-layer metrics, in the order BENCHMARK.json declares them.
LAYER_METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_idle_frac": "frac",
    "exec.driver_only_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "exec.stage_retries": "count",
    "stream.batches": "count",
    "stream.trigger_frac": "frac",
    "stream.add_batch_frac": "frac",
    "stream.planning_frac": "frac",
    "stream.commit_frac": "frac",
    "stream.input_rows": "count",
    "merge.bytes_written": "bytes",
    "merge.files_written": "count",
    "merge.table_files": "count",
    "merge.table_bytes": "bytes",
    "merge.write_amp": "ratio",
    "merge.space_bytes_per_row": "bytes/row",
    "scan.files_read": "count",
    "operators.rows_out": "count",
    "operators.agg_build_s": "s",
    "operators.sort_s": "s",
    "collect.result_rows": "count",
    "collect.result_bytes": "bytes",
    "span.op.self_s": "s",
    "span.build.self_s": "s",
    "span.execute.self_s": "s",
    "span.job.self_s": "s",
    "trace.ops_traced": "count",
    "trace.probe_s": "s",
    "trace.overhead_frac": "frac",
    **WALL,
}

# Reported as measured rather than per operation.
NOT_PER_OP = {
    "session.start_s",
    "exec.slot_idle_frac",
    "stream.trigger_frac",
    "stream.add_batch_frac",
    "stream.planning_frac",
    "stream.commit_frac",
    "merge.table_files",
    "merge.table_bytes",
    "merge.write_amp",
    "merge.space_bytes_per_row",
    "trace.ops_traced",
    "trace.overhead_frac",
    *WALL,
}

END_TO_END = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
    "read_cpu_p50_s": "s",
    "cycle_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
}


def configure_env(root: str, work: str) -> None:
    """Make the run independent of the caller's working directory and
    environment: Python workers import the engine from ``root``, Spark
    uses every core, and all scratch stays under ``work``."""
    ncpu = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = ncpu
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM the run launches (spark-submit's launcher and the driver)
    # keeps its temp files and no perf-data file under ``work``.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(work: str):
    from etl_mudah_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# Job submission times are whole milliseconds of the JVM's clock; a job
# stamped up to this much before an operation's start still belongs to it.
CLOCK_SLACK_S = 0.002


class Run:
    """One benchmark run: timings of every operation, failures, and in
    the traced run the layer counters of the traced operations.
    ``probe`` is a ``tracing.SparkProbe`` in the traced run, else None."""

    def __init__(self, probe=None):
        self.tracer = Tracer()
        self.probe = probe
        self.layer: Counter = Counter()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.cpu = CpuClock()

    @property
    def tracing(self) -> bool:
        """Whether operations are traced now (the warm-up never is)."""
        return self.tracer.enabled

    @tracing.setter
    def tracing(self, on: bool) -> None:
        on = on and self.probe is not None
        if on and not self.tracer.enabled:
            self.probe.start()
        elif self.tracer.enabled and not on:
            self.probe.stop()
        self.tracer.enabled = on

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def op(self, op_id: str, build, execute, *, kind: str = "execute"):
        """Run one operation: ``build()`` returns a DataFrame (or None),
        ``execute(df)`` produces the result. Returns (result, wall
        seconds, CPU seconds); an exception counts as a failed
        operation and returns a None result."""
        self.attempted += 1
        probe = self.probe if self.tracing else None
        if probe:
            p0 = time.perf_counter()
            probe.set_group(op_id)
            self.layer["trace.probe_s"] += time.perf_counter() - p0
        calls0 = probe.py4j_calls if probe else 0
        c0 = self.cpu.now()
        t0 = time.perf_counter()
        w0 = time.time()
        df = result = None
        try:
            with self.tracer.span("op", op_id) as op_span:
                with self.tracer.span("build", op_id, op_span):
                    df = build()
                w1 = time.time()
                calls1 = probe.py4j_calls if probe else 0
                with self.tracer.span(kind, op_id, op_span):
                    result = execute(df)
        except Exception as exc:  # noqa: BLE001 - a failed op is a measured outcome
            secs, cpu = time.perf_counter() - t0, self.cpu.now() - c0
            self.fail(f"{op_id}: {type(exc).__name__}: {str(exc)[:300]}")
            if probe:  # its jobs belong to no later operation
                probe.mark_seen()
                self.layer["trace.probe_s"] += time.perf_counter() - t0 - secs
            return None, secs, cpu
        secs = time.perf_counter() - t0
        cpu = self.cpu.now() - c0
        if probe:
            self._attribute(op_id, op_span, df, result, w0, w1, calls1 - calls0, kind)
            self.layer["trace.probe_s"] += time.perf_counter() - t0 - secs
        return result, secs, cpu

    def _attribute(self, op_id, op_span, df, result, w0, w1, build_calls, kind) -> None:
        probe, L = self.probe, self.layer
        probe.drain()
        w2 = self.tracer.spans[op_span].end
        # A job submitted before the operation began (one still running
        # when the previous operation returned) is not this operation's.
        jobs = [j for j in probe.new_jobs() if j["t0"] >= w0 - CLOCK_SLACK_S]
        stages = probe.stages_of(jobs)
        sql = probe.new_sql(jobs)
        build_idx, exec_idx = op_span + 1, op_span + 2
        for j in jobs:
            parent = build_idx if j["t0"] < w1 else exec_idx
            self.tracer.add("job", op_id, j["t0"], max(j["t0"], j["t1"]), parent, job=j["jobId"])
        L["trace.ops_traced"] += 1
        L[f"_ops.{kind}"] += 1
        L["plans.build_s"] += w1 - w0
        L["plans.build_jobs"] += sum(1 for j in jobs if j["t0"] < w1)
        L["plans.py4j_calls"] += build_calls
        if kind == "execute" and df is not None:
            for phase, secs in probe.catalyst(df).items():
                L[f"catalyst.{phase}_s"] += secs
        covered = _covered([(j["t0"], j["t1"]) for j in jobs], w0, w2)
        L["exec.jobs"] += len(jobs)
        L["exec.stages"] += len(stages)
        L["exec.driver_only_s"] += (w2 - w0) - covered
        L["_exec.job_wall_s"] += covered
        for s in stages:
            L["exec.tasks"] += s["numTasks"]
            L["exec.task_run_s"] += s["executorRunTime"] / 1e3
            L["exec.task_cpu_s"] += s["executorCpuTime"] / 1e9
            L["exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
            L["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
            L["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            L["exec.input_bytes"] += s["inputBytes"]
            L["exec.spill_bytes"] += s["diskBytesSpilled"]
            L["exec.failed_tasks"] += s["numFailedTasks"]
            L["exec.stage_retries"] += 1 if s["attemptId"] > 0 else 0
            if kind == "trigger":
                L["_merge.stage_output_bytes"] += s["outputBytes"]
        for e in sql:
            for node in e.get("nodes", []):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                name = node["nodeName"]
                if name.startswith("Execute InsertIntoHadoopFsRelationCommand") and kind == "trigger":
                    L["merge.files_written"] += metric_total(m.get("number of written files", "0"))
                    L["merge.bytes_written"] += metric_total(m.get("written output", "0"))
                elif name.startswith("Scan") and kind == "execute":
                    L["scan.files_read"] += metric_total(m.get("number of files read", "0"))
                L["operators.rows_out"] += metric_total(m.get("number of output rows", "0"))
                L["operators.agg_build_s"] += metric_total(m.get("time in aggregation build", "0"))
                L["operators.sort_s"] += metric_total(m.get("sort time", "0"))
        if kind == "execute" and result is not None and hasattr(result, "memory_usage"):
            L["collect.result_rows"] += len(result)
            L["collect.result_bytes"] += int(result.memory_usage(deep=True).sum())

    def stream_progress(self, first: int) -> None:
        """Fold the stream listener's progress events since ``first``."""
        L = self.layer
        for p in self.probe.stream.progress[first:]:
            d = p["durations"]
            L["stream.batches"] += 1
            L["stream.input_rows"] += p["rows"]
            L["_stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            L["_stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            L["_stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            L["_stream.commit_s"] += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3

    def layer_metrics(self, session_start_s: float, batch_s: float, overhead_frac: float, wall: dict[str, float]):
        """Final per-layer metrics. Additive counters are reported per
        traced operation (stream counters per trigger), so a faster
        commit that completes more operations in the same run is not
        penalised; shares are computed from the sums. ``batch_s`` is
        the summed latency of the traced batches."""
        L = self.layer
        n_ops = max(1, L["trace.ops_traced"])
        out = {}
        for k in LAYER_METRICS:
            per = max(1, L["_ops.trigger"]) if k.startswith("stream.") else n_ops
            out[k] = float(L[k]) if k in NOT_PER_OP else L[k] / per
        for name, secs in self_times(self.tracer.spans).items():
            if f"span.{name}.self_s" in out:
                out[f"span.{name}.self_s"] = secs / n_ops
        out["session.start_s"] = session_start_s
        job_wall = L["_exec.job_wall_s"]
        out["exec.slot_idle_frac"] = 1.0 - L["exec.task_run_s"] / (self.probe.cores * job_wall) if job_wall else 0.0
        trig = L["_stream.trigger_s"]
        out["stream.trigger_frac"] = trig / batch_s if batch_s else 0.0
        for k in ("add_batch", "planning", "commit"):
            out[f"stream.{k}_frac"] = L[f"_stream.{k}_s"] / trig if trig else 0.0
        out["trace.overhead_frac"] = overhead_frac
        out.update(wall)
        return out
