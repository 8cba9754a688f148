"""The traced run: spans around calls into each photon_spark layer, and
the per-layer metrics assembled from spans, job counts, the streaming
listener and the Spark event log.

Every workload reports the same per-layer names; a layer a workload
does not exercise reads 0 calls and 0 time.
"""

from __future__ import annotations

import os

from perfbench.harness import (STREAM_PHASES, layer_totals,
                               parse_event_log, percentile,
                               progress_listener, summarize)

LAYERS = ("session", "api", "catalog", "events", "projections",
          "streaming", "relations", "registry")
TIERS = ("native", "assoc", "serial")
#: timed operations reported as p50 / tail / sample count
OPS = ("e2e.write", "e2e.fold", "e2e.read",
       "api.post_event", "streaming.fresh",
       *(f"api.projection_value.{t}" for t in TIERS),
       "api.get_event", "api.stream_contents", "api.streams",
       "events.ingest", "events.read_cold",
       *(f"projections.fold.{t}" for t in TIERS),
       "streaming.catchup", "registry.construct", "registry.action")
#: operations whose Spark job count per call is reported (median)
JOB_OPS = tuple(o for o in OPS if not o.startswith(("e2e.",
                                                    "streaming.")))
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def install(b):
    """Wrap the layers' public entry points in spans and register the
    streaming-progress listener. Called before the workload runs."""
    from photon_spark import relations
    from photon_spark.catalog import Catalog
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import ProjectionEngine
    from photon_spark.streaming.stateful import StreamingProjectionRunner

    t = b.tracer
    for attr in ("ingest", "read_all", "read_cold", "event", "streams"):
        t.wrap(EventStore, attr, f"events.{attr}")
    t.wrap(ProjectionEngine, "advance", "projections.advance")
    t.wrap(ProjectionEngine, "_fold_df", "projections.fold_df")
    t.wrap(Catalog, "sync", "catalog.sync")
    t.wrap(StreamingProjectionRunner, "run", "streaming.run")
    t.wrap(StreamingProjectionRunner, "_apply_batch",
           "streaming.apply_batch")
    t.wrap(relations, "plan_memo", "relations.plan_memo")
    listener = progress_listener()
    b.spark.streams.addListener(listener)
    return listener


def store_stats(path: str, events: int) -> dict:
    """Data files and bytes per event of an event store directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return {"events.store.files": files,
            "events.store.bytes_per_event": size / max(events, 1)}


def names() -> list[str]:
    """Every per-layer metric name, in report order."""
    out = ["session.start_s", "e2e.ops_per_s"]
    for op in OPS:
        out += [f"{op}.p50_ms", f"{op}.tail_ms", f"{op}.n"]
    out += [f"{op}.jobs" for op in JOB_OPS]
    for layer in LAYERS:
        out += [f"{layer}.calls", f"{layer}.self_s"]
    out += [f"spark.{k}" for k in SPARK]
    out += ["spark.busy_share", "driver.gap_share"]
    out += ["streaming.batches", "streaming.input_rows",
            *(f"streaming.{p}_ms" for p in STREAM_PHASES),
            "streaming.overhead_share"]
    out += ["events.store.files", "events.store.bytes_per_event"]
    out += [f"projections.{t}.avg_time_ms" for t in TIERS]
    out += ["projections.serial.fn_share"]
    out += ["registry.cold_s", "registry.construct_s", "registry.action_s",
            "registry.construct_jobs", "registry.zero_job_rows"]
    from perfbench.registry import ROWS
    out += [f"registry.row.{r}.warm_s" for r in ROWS]
    return out


def unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("bytes_per_event"):
        return "B"
    return "count"


def per_layer(b, out: dict, session_s: float, event_log: list[str],
              listener, epoch_offset: float) -> dict:
    """All per-layer metrics of a traced run. ``epoch_offset`` converts
    perf_counter seconds to epoch seconds."""
    lo, hi = b.window
    m: dict[str, float] = {k: 0.0 for k in names()}
    m.update({"session.start_s": session_s,
              "e2e.ops_per_s": out["ops_per_s"]})
    for op in OPS:
        s = summarize(b.samples.get(op))
        m[f"{op}.p50_ms"], m[f"{op}.tail_ms"], m[f"{op}.n"] = \
            s["p50"], s["tail"], s["n"]
    for op in JOB_OPS:
        if b.jobs.get(op):
            m[f"{op}.jobs"] = percentile(b.jobs[op], 50)
    for layer, d in layer_totals(b.tracer.spans, lo, hi).items():
        if layer in LAYERS:
            m[f"{layer}.calls"], m[f"{layer}.self_s"] = d["calls"], \
                d["self_s"]
    m["session.calls"], m["session.self_s"] = 1, session_s

    ev = parse_event_log(event_log, (lo + epoch_offset) * 1000.0,
                         (hi + epoch_offset) * 1000.0)
    for k in SPARK:
        m[f"spark.{k}"] = ev[k]
    cores = len(os.sched_getaffinity(0))
    m["spark.busy_share"] = ev["executor_run_s"] / (ev["window_s"] * cores)
    m["driver.gap_share"] = ev["gap_s"] / ev["window_s"]

    prog = [p for p in listener.progress if lo <= p["t"] <= hi + 5.0]
    m["streaming.batches"] = sum(1 for p in prog if p["rows"])
    m["streaming.input_rows"] = sum(p["rows"] for p in prog)
    for ph in STREAM_PHASES:
        vals = [p["ms"].get(ph, 0) for p in prog if p["rows"]]
        m[f"streaming.{ph}_ms"] = sum(vals)
    trigger_ms = m["streaming.triggerExecution_ms"]
    if trigger_ms:
        spans = b.tracer.spans
        fold_ms = 1000.0 * sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "projections.fold_df" and lo <= s["start"] <= hi
            and s["parent"] is not None
            and spans[s["parent"]]["name"] == "streaming.apply_batch")
        m["streaming.overhead_share"] = 1.0 - fold_ms / trigger_ms
    _registry(b, m)
    m.update({k: v for k, v in b.layer.items() if k in m})
    return m


def _registry(b, m: dict) -> None:
    """Per-pass construction and action time, construction jobs, and
    constructions that submitted no job (a proxy for plan-memo hits)."""
    from perfbench.registry import ROWS

    construct = b.samples.get("registry.construct")
    passes = len(construct) // len(ROWS)
    if not passes:
        return
    m["registry.construct_s"] = sum(construct) / 1000.0 / passes
    m["registry.action_s"] = (sum(b.samples.get("registry.action"))
                              / 1000.0 / passes)
    jobs = b.jobs.get("registry.construct", [])
    m["registry.construct_jobs"] = sum(jobs) / passes
    m["registry.zero_job_rows"] = sum(1 for j in jobs if j == 0) / passes
    for r in ROWS:
        v = b.samples.get(f"registry.row.{r}")
        if v:
            m[f"registry.row.{r}.warm_s"] = percentile(v, 50) / 1000.0
