"""The event-log fold and the benchmark's metric list.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import metrics  # noqa: E402
from tracing import Tracer, fold, read_event_log, union_s  # noqa: E402

LOG = os.path.join(HERE, "data")
T0 = 1_700_000_000.0  # the canned log's application start, epoch seconds


def _span(name: str, start: float, end: float) -> dict:
    return {"name": name, "start": T0 + start, "end": T0 + end}


def test_read_event_log_orders_rolled_files_by_index():
    events = read_event_log(LOG)
    jobs = [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"]
    assert jobs == [0, 1, 2]


def test_fold_attributes_jobs_and_tasks_by_time_window():
    a, gap, b = _span("a", 1.0, 2.0), _span("gap", 2.4, 2.45), _span("b", 3.0, 4.0)
    fold([a, gap, b], read_event_log(LOG))
    assert (a["jobs"], a["tasks"]) == (1, 3)
    assert a["executor_cpu_s"] == pytest.approx(0.3)
    assert a["gc_s"] == pytest.approx(0.03)
    assert a["shuffle_write_bytes"] == 4000
    assert a["spill_bytes"] == 4096 + 512
    # stage 0 runs 100 and 300 ms: max/median = 300/200
    assert a["task_skew"] == pytest.approx(1.5)
    # job 1 was submitted between the spans: it belongs to neither
    assert (gap["jobs"], gap["tasks"]) == (0, 0)
    assert gap["task_skew"] == 1.0
    # a job submitted in the span's first millisecond belongs to it
    assert (b["jobs"], b["tasks"]) == (1, 1)
    assert b["executor_cpu_s"] == pytest.approx(0.02)


def test_fold_counts_a_job_in_every_enclosing_span():
    outer, inner = _span("outer", 0.5, 4.5), _span("inner", 1.0, 2.0)
    fold([outer, inner], read_event_log(LOG))
    assert outer["jobs"] == 3 and inner["jobs"] == 1


def test_tracer_records_parent_and_trace_only_when_enabled():
    t = Tracer(True)
    t.new_trace()
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert i["trace"] == o["trace"] == 1
    assert o["start"] <= i["start"] <= i["end"] <= o["end"]
    off = Tracer(False)
    with off.span("x") as x:
        pass
    assert off.spans == [] and x["s"] >= 0.0


def test_union_s():
    assert union_s([]) == 0.0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_benchmark_json_lists_the_metrics_the_benchmark_reports():
    from bench import HEADLINE

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == metrics.per_layer_units(list(HEADLINE))
