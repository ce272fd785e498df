"""Spans, statistics and the per-layer probes of the traced run.

The pure parts (``Tracer``, ``self_times``, ``percentile``,
``tail_rank``) have no Spark dependency and are unit-tested. The
``SparkProbe`` reads the layers from outside the library: the UI's
REST status store (jobs, stages, per-node SQL metrics), the executed
plan's ``QueryPlanningTracker`` and a ``StreamingQueryListener``. It
is created only in the traced run, so the untraced run makes none of
these calls.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans: operation -> build / execute / trigger -> job.
    Times are epoch seconds, the clock the Spark status store stamps
    jobs with. It starts disabled; ``span`` is a no-op while it is, so
    untraced operations pay one attribute check per boundary."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        self.spans.append(Span(name, op, time.time(), parent=parent))
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(Span(name, op, start, end, parent, attrs))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval its children cover (overlapping children,
    such as concurrent jobs, count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def tail_rank(n: int) -> int:
    """1-based rank of the tail sample: the highest rank that still has
    at least 10 samples beyond it, never below the upper median's rank.
    With n >= 21 this is the (n-10)-th smallest, i.e. percentile
    100*(n-10)/n; below that the rule falls back to the upper median."""
    if n < 1:
        raise ValueError("no samples")
    return max(n - 10, n // 2 + 1)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the tail rule."""
    k = tail_rank(len(values))
    return sorted(values)[k - 1], 100.0 * k / len(values)


def process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


class CpuClock:
    """CPU seconds (user plus system) of the benchmark's processes: this
    driver, every thread included (the py4j callbacks that run
    ``foreachBatch`` too), plus its descendants, the Spark JVM and any
    Python workers, from /proc (10 ms ticks, reaped children included).
    ``refresh`` re-reads the process tree. Host CPU steal stretches wall
    time but not this clock."""

    def __init__(self):
        self.refresh()

    def refresh(self) -> None:
        self.others = process_tree(os.getpid()) - {os.getpid()}

    def now(self) -> float:
        ticks = 0
        for pid in self.others:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in f[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc on a thread."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pids: set[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        tree, n = set(), 0
        while not self._stop.is_set():
            if n % 25 == 0:  # re-read the process tree every 25 samples
                tree = process_tree(os.getpid())
            n += 1
            self.peak_kb = max(self.peak_kb, self._rss_kb(tree))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark-side probes (traced run only) ------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_total(value: str) -> float:
    """Total of a formatted SQL metric ("1,234", "12.5 MiB", or the
    "total (min, med, max ...)\\n3.2 s (...)" form) in base units
    (bytes, seconds, rows)."""
    line = value.split("\n")[-1] if value.startswith("total") else value
    m = re.match(r"\s*(-?[0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _iso(ts: str) -> float:
    """REST timestamp ("2026-10-17T03:25:22.123GMT") -> epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


class _StreamListener:
    """Collects ``onQueryProgress`` events (trigger durations, input rows)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({"durations": dict(p.durationMs), "rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()


class SparkProbe:
    """Attributes jobs, stages and SQL executions to one operation at a
    time. The benchmark is a single closed-loop client, so every job
    that runs inside an operation's wall-clock window belongs to it;
    direct calls also carry the operation id as their job group.

    The probe hooks into the session (a stream listener and a counting
    wrapper on the py4j client) only between ``start`` and ``stop``, so
    the untraced part of a run pays for none of it."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.cores = self.sc.defaultParallelism
        self._seen_jobs: set[int] = set()
        self._seen_sql: set[int] = set()
        self.stream = _StreamListener()
        self.py4j_calls = 0
        self._client = self.sc._gateway._gateway_client
        self._send = None

    def start(self) -> None:
        """Hook in, and mark every job and SQL execution so far as seen:
        the warm-up and untraced operations belong to no traced one."""
        self.spark.streams.addListener(self.stream.listener)
        send = self._send = self._client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counting_send
        self.mark_seen()

    def stop(self) -> None:
        if self._send is not None:
            self._client.send_command = self._send
            self._send = None
            self.spark.streams.removeListener(self.stream.listener)

    def mark_seen(self) -> None:
        """Drain the bus and mark every finished job and SQL execution
        as seen, so none of them is attributed to a later operation."""
        self.drain()
        self._seen_jobs.update(j["jobId"] for j in self._get("/jobs") if j["status"] != "RUNNING")
        self._seen_sql.update(e["id"] for e in self._sql() if e.get("status") != "RUNNING")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&length=100000")

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the stream listener are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, op: str) -> None:
        self.sc.setJobGroup(op, op)

    def new_jobs(self) -> list[dict]:
        """Jobs that finished since the last call (the current op's)."""
        jobs = [
            j
            for j in self._get("/jobs")
            if j["jobId"] not in self._seen_jobs and j["status"] in ("SUCCEEDED", "FAILED")
        ]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        for j in jobs:
            j["t0"] = _iso(j["submissionTime"])
            j["t1"] = _iso(j["completionTime"]) if j.get("completionTime") else j["t0"]
        return sorted(jobs, key=lambda j: j["jobId"])

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stageIds"]}
        if not ids:
            return []
        return [s for s in self._get("/stages") if s["stageId"] in ids and s["status"] in ("COMPLETE", "FAILED")]

    def new_sql(self, jobs: list[dict]) -> list[dict]:
        """SQL executions whose jobs belong to the current op."""
        ids = {j["jobId"] for j in jobs}
        out = []
        for e in self._sql():
            if e["id"] in self._seen_sql or e.get("status") == "RUNNING":
                continue
            ej = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            if ej & ids:
                self._seen_sql.add(e["id"])
                out.append(e)
        return out

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Catalyst phase times (s) of ``df``'s executed plan."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            out[name] = phases.apply(name).durationMs() / 1000.0 if phases.contains(name) else 0.0
        return out
