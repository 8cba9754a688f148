"""Measurement plumbing shared by the three workloads.

Nothing here knows about photon_spark: it holds the sample store with
failure accounting, the percentile rule, the span tracer with self time,
the Spark event-log parser and the streaming-progress collector.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager

#: Percentiles a tail may be reported at, lowest first.
_TAIL_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of the ladder that leaves at least ten of
    ``n`` samples beyond it, or None when not even the median does
    (fewer than 20 samples)."""
    best = None
    for p in _TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def fixed_rounds(seconds: int, round_s: float, minimum: int) -> int:
    """Timed rounds for a run of ``seconds``: a fixed count for a given
    ``--seconds``, never a time-boxed loop."""
    return max(minimum, round(seconds / round_s))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of ``values`` (p in 0..100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """p50, the tail at :func:`tail_percentile` (the median when the
    sample is too small for any tail) and the sample count."""
    if not values:
        return {"p50": 0.0, "tail": 0.0, "n": 0}
    tp = tail_percentile(len(values)) or 50.0
    return {"p50": percentile(values, 50.0),
            "tail": percentile(values, tp), "n": len(values)}


class OpFailed(Exception):
    """A timed operation raised; the sample is dropped and counted failed."""


class Samples:
    """Named timing samples plus attempted/failed accounting.

    Every timed operation counts as attempted; one that raises counts as
    failed and contributes no sample. Failures are kept with their error
    text so a run can say what broke."""

    def __init__(self):
        self.values: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)

    def timed(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` and record its wall time in ms under ``name``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # counted, reported, then re-raised
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            raise OpFailed(name) from exc
        self.add(name, (time.perf_counter() - t0) * 1000.0)
        return out

    def get(self, name: str) -> list[float]:
        return self.values.get(name, [])


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans: name, start, end, parent span and the id of the
    iteration that caused them. Written out only at exit.

    Parents are tracked per thread: Structured Streaming runs
    ``foreachBatch`` on its own thread, whose spans start new trees."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.iteration = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]]["name"] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None,
               "iter": self.iteration}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span,
        unless the caller is already inside a span of that name (the
        benchmark's own span around the same call)."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if tracer.current() == name:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children (overlapping children are merged first)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s["end"] - s["start"]) - covered)
    return out


def layer_totals(spans: list[dict], t_lo: float, t_hi: float) -> dict:
    """Calls and summed self time (s) per layer — the span name's first
    dotted component — for spans starting inside [t_lo, t_hi]."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s, st in zip(spans, selfs):
        if not (t_lo <= s["start"] <= t_hi):
            continue
        layer = s["name"].split(".", 1)[0]
        d = out.setdefault(layer, {"calls": 0, "self_s": 0.0})
        d["calls"] += 1
        d["self_s"] += st
    return out


# ------------------------------------------------------- Spark event log

def parse_event_log(lines, t_lo_ms: float, t_hi_ms: float) -> dict:
    """Job, stage and task totals for jobs submitted inside the window
    [t_lo_ms, t_hi_ms] (epoch ms) of a Spark JSON event log.

    ``gap_s`` is the part of the window in which no job was running —
    driver-side time (planning, py4j, Python) between actions."""
    jobs: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    tasks = 0
    run_ms = cpu_ns = gc_ms = 0.0
    sh_read = sh_write = spill = 0.0
    stages = set()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            if t_lo_ms <= t <= t_hi_ms:
                jobs[ev["Job ID"]] = [t, t_hi_ms]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = min(ev["Completion Time"], t_hi_ms)
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_job:
                continue
            stages.add(ev["Stage ID"])
            tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            r = m.get("Shuffle Read Metrics") or {}
            sh_read += (r.get("Remote Bytes Read", 0)
                        + r.get("Local Bytes Read", 0))
            w = m.get("Shuffle Write Metrics") or {}
            sh_write += w.get("Shuffle Bytes Written", 0)
            spill += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
    # union of job intervals → busy wall time; the rest is driver gap
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(jobs.values()):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    window_s = max(t_hi_ms - t_lo_ms, 1e-9) / 1000.0
    mb = 1024.0 * 1024.0
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
            "executor_run_s": run_ms / 1000.0,
            "executor_cpu_s": cpu_ns / 1e9, "gc_s": gc_ms / 1000.0,
            "shuffle_read_mb": sh_read / mb,
            "shuffle_write_mb": sh_write / mb, "spill_mb": spill / mb,
            "window_s": window_s,
            "gap_s": window_s - busy / 1000.0}


# ---------------------------------------------- streaming query progress

STREAM_PHASES = ("triggerExecution", "addBatch", "latestOffset",
                 "queryPlanning", "walCommit", "commitOffsets")


def progress_listener():
    """A StreamingQueryListener that keeps every progress event's
    ``durationMs`` and input-row count in ``.progress`` (list of dicts).
    Built lazily so importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({"t": time.perf_counter(),
                                  "rows": p.numInputRows,
                                  "ms": dict(p.durationMs or {})})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
