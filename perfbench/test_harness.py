"""Tests of the benchmark's measurement rules (no Spark needed):

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.harness import (OpFailed, Samples, Tracer,  # noqa: E402
                               fixed_rounds, layer_totals, parse_event_log,
                               percentile, self_times, summarize,
                               tail_percentile)


# ------------------------------------------------------- percentile rule

@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9), (100_000, 99.99),
    (10 ** 7, 99.99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 5000, 7):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 - 1e-9
        higher = [q for q in (90.0, 99.0, 99.9, 99.99) if q > p]
        assert all(n * (100 - q) / 100 < 10 for q in higher)


def test_summarize_small_sample_reports_median_as_tail():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"p50": 2.0, "tail": 2.0, "n": 3}


def test_summarize_uses_p90_at_hundred_samples():
    s = summarize([float(i) for i in range(100)])
    assert s["tail"] == pytest.approx(percentile(
        [float(i) for i in range(100)], 90.0))
    assert s["p50"] == pytest.approx(49.5)


def test_summarize_empty():
    assert summarize([])["n"] == 0


# -------------------------------------------------- failure accounting

def test_samples_count_attempted_and_failed():
    s = Samples()
    assert s.timed("op", lambda: 7) == 7

    def boom():
        raise RuntimeError("x")

    with pytest.raises(OpFailed):
        s.timed("op", boom)
    assert (s.attempted, s.failed) == (2, 1)
    assert len(s.get("op")) == 1
    assert "RuntimeError" in s.errors[0]


# ------------------------------------------------------------ self time

def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "iter": 0}


def test_self_time_subtracts_children():
    spans = [_span("api.a", 0.0, 10.0),
             _span("events.b", 1.0, 4.0, parent=0),
             _span("relations.c", 2.0, 3.0, parent=1),
             _span("projections.d", 5.0, 7.0, parent=0)]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 1.0, 2.0])


def test_self_time_merges_overlapping_children_and_clips():
    spans = [_span("api.a", 0.0, 10.0),
             _span("x.b", 1.0, 5.0, parent=0),
             _span("x.c", 3.0, 6.0, parent=0),     # overlaps b
             _span("x.d", 9.0, 12.0, parent=0)]    # runs past the parent
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_layer_totals_by_first_name_component_inside_window():
    spans = [_span("api.a", 0.0, 10.0),
             _span("events.b", 1.0, 4.0, parent=0),
             _span("events.c", 20.0, 21.0)]
    got = layer_totals(spans, 0.0, 10.0)
    assert got == {"api": {"calls": 1, "self_s": pytest.approx(7.0)},
                   "events": {"calls": 1, "self_s": pytest.approx(3.0)}}


def test_tracer_nests_and_skips_duplicate_wrapper_span():
    t = Tracer(enabled=True)

    class Store:
        def ingest(self):
            return 1

    t.wrap(Store, "ingest", "events.ingest")
    with t.span("events.ingest"):     # the benchmark's own span
        Store().ingest()
    with t.span("api.post_event"):
        Store().ingest()
    names = [(s["name"], s["parent"]) for s in t.spans]
    assert names == [("events.ingest", None), ("api.post_event", None),
                     ("events.ingest", 1)]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("api.x"):
        pass
    assert t.spans == []


# ----------------------------------------------------- event-log parser

def _log(*events) -> list[str]:
    return [json.dumps(e) + "\n" for e in events] + ["not json\n"]


def _task(stage, run_ms, cpu_ns, gc_ms, rd, wr, spill):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": rd},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


def test_event_log_totals_and_gap_inside_window():
    mb = 1024 * 1024
    lines = _log(
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 500, "Stage IDs": [0]},          # before window
        _task(0, 999, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1000, "Stage IDs": [1, 2]},
        _task(1, 100, 50_000_000, 5, mb, 2 * mb, 0),
        _task(2, 300, 150_000_000, 15, 0, 0, mb),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 1300, "Stage IDs": [3]},          # overlaps 1
        _task(3, 100, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 1600},
    )
    got = parse_event_log(lines, 1000, 3000)
    assert got["jobs"] == 2 and got["stages"] == 3 and got["tasks"] == 3
    assert got["executor_run_s"] == pytest.approx(0.5)
    assert got["executor_cpu_s"] == pytest.approx(0.2)
    assert got["gc_s"] == pytest.approx(0.02)
    assert got["shuffle_read_mb"] == pytest.approx(1.0)
    assert got["shuffle_write_mb"] == pytest.approx(2.0)
    assert got["spill_mb"] == pytest.approx(1.0)
    assert got["window_s"] == pytest.approx(2.0)
    # jobs cover 1000..1600 of the 2 s window
    assert got["gap_s"] == pytest.approx(1.4)


def test_event_log_job_still_running_counts_to_window_end():
    lines = _log({"Event": "SparkListenerJobStart", "Job ID": 5,
                  "Submission Time": 100, "Stage IDs": []})
    got = parse_event_log(lines, 0, 1000)
    assert got["jobs"] == 1 and got["gap_s"] == pytest.approx(0.1)


def test_fixed_rounds_depend_only_on_seconds():
    assert fixed_rounds(20, 4.0, 3) == 5
    assert fixed_rounds(20, 6.5, 3) == 3
    assert fixed_rounds(1, 4.0, 3) == 3
