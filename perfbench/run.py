"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Works from any working directory: the engine is imported from the
checkout that holds this file. Generates the workload's inputs from the
seed, starts the engine's session, warms up, then runs the workload's
closed loop for ``--seconds`` and checks every output. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the full record with the run's
stamps; the same record (and, when traced, the spans) is written under
``.perfbench_out/``. Exits 1 when any output is wrong, 2 when the
engine is not found beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
T0 = time.perf_counter()
WORKLOADS = ("dashboard", "ingest")


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _cpu_jiffies() -> list[int]:
    """Box-wide (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _source_id(root: str) -> str:
    """The git commit when run from a clone, else a digest of the engine's
    sources (a benchmark checkout need not be a git repository)."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, check=True, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for dirpath, dirs, files in os.walk(os.path.join(root, "etl_mudah_spark")):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
        return "src-sha256:" + h.hexdigest()[:16]


class Context:
    """What a workload needs: the seed, the clock, its run directory,
    and the session / setup / timed-region boundaries."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.spark = self.run = None
        self.session_s = self.setup_s = 0.0
        self._rss = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        import harness
        from tracing import RssSampler, SparkProbe

        self._rss = RssSampler().__enter__()
        self._t0 = time.perf_counter()
        self.spark = harness.start_spark(self.work)
        import etl_mudah_spark.plans  # noqa: F401  (registers every query)

        self.session_s = time.perf_counter() - self._t0
        self.run = harness.Run(SparkProbe(self.spark) if self.traced else None)
        self.log(f"session started in {self.session_s:.2f}s")

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self._t0
        self.log(f"setup done in {self.setup_s:.2f}s")

    def region(self, loop, traced: bool = False) -> dict:
        """Run one timed region: ``loop(finished)`` runs operations
        until ``finished()`` says ``--seconds`` have passed and returns its
        figures, to which this adds the region's wall and process-tree
        CPU seconds and the box's CPU steal and busy shares. Peak RSS
        covers setup and the untraced region."""
        self.run.tracing = traced
        self.run.cpu.refresh()
        jiffies0, cpu0 = _cpu_jiffies(), self.run.cpu.now()
        t0 = time.perf_counter()
        res = loop(lambda: time.perf_counter() - t0 >= self.seconds)
        res["region_s"] = time.perf_counter() - t0
        res["region_cpu_s"] = self.run.cpu.now() - cpu0
        d = [b - a for a, b in zip(jiffies0, _cpu_jiffies())]
        res["steal_frac"] = d[7] / max(1, sum(d))
        res["busy_frac"] = 1 - (d[3] + d[4]) / max(1, sum(d))
        self.run.tracing = False
        if not traced:
            self._rss.__exit__(None, None, None)
        self.log(f"{'traced' if traced else 'timed'} region done")
        return res


def summarize(ctx, res: dict) -> tuple[dict[str, float], dict[str, float]]:
    """(end-to-end metrics, wall-clock figures) of the untraced region."""
    from tracing import tail

    ops, cpu, region = res["ops"], res["ops_cpu"], res["region_s"]
    e2e = {
        "setup_s": ctx.setup_s,
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_tail_s": tail(cpu)[0],
        "read_cpu_p50_s": statistics.median(res["reads_cpu"]),
        "cycle_cpu_s": res["region_cpu_s"] / len(ops),
        "rows_per_cpu_s": res["rows"] / res["region_cpu_s"],
    }
    wall = {
        "wall.op_p50_s": statistics.median(ops),
        "wall.op_tail_s": tail(ops)[0],
        "wall.read_p50_s": statistics.median(res["reads"]),
        "wall.cycle_s": region / len(ops),
        "wall.rows_per_s": res["rows"] / region,
        "wall.peak_rss_mb": ctx._rss.peak_kb / 1024,
    }
    return e2e, wall


def _remove_stale_work(parent: str) -> None:
    """Delete run directories left by runs that were killed."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        pid = name.rsplit("-p", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "etl_mudah_spark")):
        print(f"perfbench: no etl_mudah_spark/ beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import harness

    # SIGTERM unwinds like an error, so the finally below still stops the
    # JVM and deletes the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _remove_stale_work(os.path.join(root, ".perfbench_work"))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    harness.configure_env(root, work)
    load0 = _loadavg()
    ctx = Context(args, work)
    try:
        module = __import__(args.workload)
        res = module.run(ctx)
        e2e, wall = summarize(ctx, res)
        if ctx.traced:
            # Overhead: the traced region's wall time per operation
            # against the untraced region's, same seed and session.
            tres = res["traced"]
            overhead = (tres["region_s"] / len(tres["ops"])) / wall["wall.cycle_s"] - 1
            layers = ctx.run.layer_metrics(ctx.session_s, sum(tres["ops"]), overhead, wall)
            ctx.run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"))
        import pyspark

        spark_version = pyspark.__version__
    finally:
        try:
            if ctx._rss is not None:
                ctx._rss.__exit__(None, None, None)
            if ctx.spark is not None:
                harness.stop_spark(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    ctx.log("stopped")
    from tracing import tail

    run = ctx.run
    metrics = layers if ctx.traced else e2e
    units = harness.LAYER_METRICS if ctx.traced else harness.END_TO_END
    correct = run.failed == 0
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "stamp": {
            "seed": args.seed,
            "commit": _source_id(root),
            "nproc": os.cpu_count(),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_start": load0,
            "loadavg_end": _loadavg(),
            "region_cpu_steal_frac": res["steal_frac"],
            "region_cpu_busy_frac": res["busy_frac"],
            "region_tree_cpu_s": res["region_cpu_s"],
            "traced_region_cpu_steal_frac": res["traced"]["steal_frac"] if ctx.traced else None,
            "spark": spark_version,
            "python": platform.python_version(),
            "seconds": args.seconds,
            "ops": len(res["ops"]),
            "tail_percentile": tail(res["ops"])[1],
            **res["stamp"],
        },
        "ops_failed_frac": run.failed / max(1, run.attempted),
        "failures": run.failures[:20],
        "e2e": e2e,
        "wall": wall,
        "samples": res.get("samples"),
        "layers": layers if ctx.traced else None,
    }
    with open(os.path.join(out_dir, f"record-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
