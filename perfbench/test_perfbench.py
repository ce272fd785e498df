"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import dashboard  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
from run import WORKLOADS  # noqa: E402
from tracing import Span, metric_total, self_times, tail, tail_rank  # noqa: E402


def _take(it, n):
    return list(itertools.islice(it, n))


def test_star_tables_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = gen.star_tables(7, 0.001), gen.star_tables(7, 0.001), gen.star_tables(8, 0.001)
    assert set(a) == set(gen.STAR_TABLES)
    for name in gen.STAR_TABLES:
        assert a[name].equals(b[name])
        assert a[name].num_rows == c[name].num_rows
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["orders"].equals(c["orders"])


def test_listing_batches_deterministic_per_seed_and_differ_across_seeds():
    a = _take(gen.listing_batches(3, rows=50), 4)
    b = _take(gen.listing_batches(3, rows=50), 4)
    c = _take(gen.listing_batches(4, rows=50), 4)
    assert a == b
    assert a != c
    assert all(len(batch) == 50 for batch in a)
    assert all(len({r["id"] for r in batch}) == 50 for batch in a)
    earlier = {r["id"] for r in a[0]}
    relisted = sum(r["id"] in earlier for r in a[1])
    assert relisted == 15  # 30% of the second batch re-lists the first


def test_decks_deterministic_and_hold_the_popularity_mix():
    a, b = _take(dashboard.decks(5), 6), _take(dashboard.decks(5), 6)
    assert a == b
    assert a != _take(dashboard.decks(6), 6)
    for deck in a:
        assert {p: deck.count(p) for p in deck} == dashboard.POPULARITY
    assert set(dashboard.POPULARITY) == set(dashboard.PAGES)


def test_advance_is_last_write_wins_with_first_created_stamp():
    b1 = [{"id": 1, "attributes": {"date": "2024-01-01 10:00:00", "price": 1.0}}]
    b2 = [
        {"id": 1, "attributes": {"date": "2024-01-02 09:00:00", "price": 2.0}},
        {"id": 2, "attributes": {"date": "2024-01-02 11:00:00", "price": 3.0}},
    ]
    s1 = gen.advance({}, b1)
    s2 = gen.advance(s1, b2)
    assert s1[1]["attributes"]["price"] == 1.0  # not mutated by the next batch
    assert s2[1]["attributes"]["price"] == 2.0
    assert s2[1]["created_at"] == "2024-01-01 10:00:00"
    assert s2[1]["updated_at"] == s2[2]["updated_at"] == "2024-01-02 11:00:00"


@pytest.mark.parametrize("n", [21, 22, 33, 40, 100, 1000])
def test_tail_rank_leaves_exactly_ten_samples_beyond(n):
    assert n - tail_rank(n) == 10


@pytest.mark.parametrize("n,rank", [(1, 1), (2, 2), (11, 6), (19, 10), (20, 11)])
def test_tail_rank_never_below_the_upper_median(n, rank):
    assert tail_rank(n) == rank


def test_tail_value_and_percentile():
    values = [float(i) for i in range(1, 41)]  # 1..40
    assert tail(values) == (30.0, 75.0)
    with pytest.raises(ValueError):
        tail_rank(0)


def test_self_times_subtract_children_and_count_overlap_once():
    spans = [
        Span("op", "q", 0.0, 10.0),
        Span("build", "q", 0.0, 4.0, parent=0),
        Span("execute", "q", 4.0, 10.0, parent=0),
        Span("job", "q", 5.0, 8.0, parent=2),
        Span("job", "q", 6.0, 9.0, parent=2),  # overlaps the first job
        Span("job", "q", 1.0, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(0.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["execute"] == pytest.approx(2.0)
    assert st["job"] == pytest.approx(7.0)


class FakeProbe:
    """Stands in for ``tracing.SparkProbe``: jobs are appended by the
    test, and ``new_jobs`` returns the ones not seen yet."""

    cores = 4

    def __init__(self):
        self.jobs: list[dict] = []
        self.seen: set[int] = set()
        self.py4j_calls = 0
        self.started = 0

    def job(self, t0: float) -> None:
        self.jobs.append({"jobId": len(self.jobs), "t0": t0, "t1": t0 + 0.001, "stageIds": []})

    def start(self):
        self.started += 1
        self.mark_seen()

    def stop(self):
        pass

    def mark_seen(self):
        self.seen.update(j["jobId"] for j in self.jobs)

    def new_jobs(self):
        new = [j for j in self.jobs if j["jobId"] not in self.seen]
        self.mark_seen()
        return new

    def drain(self):
        pass

    def set_group(self, op):
        pass

    def stages_of(self, jobs):
        return []

    def new_sql(self, jobs):
        return []


def test_attribution_counts_only_jobs_inside_the_operation_window():
    probe = FakeProbe()
    run = harness.Run(probe)
    probe.job(time.time() - 5)  # a warm-up job, finished before tracing turns on
    run.tracing = True
    assert probe.started == 1
    probe.job(time.time() - 1)  # submitted before the next operation began

    def build():
        probe.job(time.time())

    def execute(_):
        probe.job(time.time())
        return "ok"

    assert run.op("q1", build, execute)[0] == "ok"
    assert run.layer["exec.jobs"] == 2
    assert run.layer["plans.build_jobs"] == 1

    def failing(_):
        probe.job(time.time())
        raise RuntimeError("boom")

    assert run.op("q2", lambda: None, failing)[0] is None
    assert run.failed == 1
    assert run.op("q3", lambda: None, lambda _: "ok")[0] == "ok"
    assert run.layer["exec.jobs"] == 2  # the failed operation's job went to no later one
    assert run.layer["trace.ops_traced"] == 2
    assert sum(s.name == "job" for s in run.tracer.spans) == 2
    run.tracing = False
    assert not harness.Run(None).tracing


def test_metric_total_parses_sql_metric_formats():
    assert metric_total("1,234") == 1234
    assert metric_total("12.5 MiB") == 12.5 * 1024**2
    assert metric_total("total (min, med, max (stageId: taskId))\n3.2 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 3.2
    assert metric_total("") == 0.0


def test_every_emitted_metric_is_declared_in_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == harness.END_TO_END
    assert declared_layer == harness.LAYER_METRICS
    for name in [*declared_e2e, *declared_layer]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert tuple(w["name"] for w in bench["workloads"]) == WORKLOADS
