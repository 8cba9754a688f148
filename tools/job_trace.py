"""Job-level timeline for one registry query: how many Spark jobs does
one invocation run, how long is each, and how much wall time is driver
gap (no job running)?

Usage: python tools/job_trace.py NAME [--runs 2] [--noop]

Methodology: a session with photon_spark defaults plus an event log;
the query is run ``runs`` times (cache cleared before the first,
matching bench.py) and the LAST run's window is parsed from the event
log — jobs sorted by start, with per-job duration, stage/task counts,
and the gap since the previous job's end. Gap time is Python/driver
work between actions (plan construction, result handling); AQE
re-planning happens inside a job and does NOT show as gap.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _traced_session(evdir: str):
    """photon_spark session defaults plus an event log, via get_spark's
    SPARK_GRAFT_EXTRA_CONF hook — so the traced engine configuration can
    never drift from the one bench.py measures."""
    extra = (f"spark.eventLog.enabled=true;spark.eventLog.dir={evdir};"
             "spark.eventLog.compress=false;"
             "spark.eventLog.rolling.enabled=false")
    prev = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        f"{prev};{extra}" if prev else extra)
    try:
        from photon_spark.session import get_spark
        return get_spark("photon_spark-trace")
    finally:
        if prev is None:
            del os.environ["SPARK_GRAFT_EXTRA_CONF"]
        else:
            os.environ["SPARK_GRAFT_EXTRA_CONF"] = prev


def _parse(path: str, jobs: dict) -> None:
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "stages": len(ev.get("Stage Infos", [])),
                    "tasks": sum(s.get("Number of Tasks", 0)
                                 for s in ev.get("Stage Infos", [])),
                    "desc": (ev.get("Properties") or {}).get(
                        "callSite.short", "")[:70],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = (
                        ev["Completion Time"] / 1000.0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    spark = _traced_session(evdir)
    assert spark.conf.get("spark.eventLog.enabled") == "true", \
        "event log not enabled (another session already running?)"
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s
    from photon_spark.session import default_cpus
    warm_df = spark.range(10000).repartition(default_cpus())
    warm_df.select(_warm("id")).count()

    from photon_spark import queries as q
    fn = q.QUERIES[args.name]
    spark.catalog.clearCache()
    wall0 = wall1 = 0.0
    for i in range(args.runs):
        t0 = time.perf_counter()
        tw0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        dt = time.perf_counter() - t0
        wall0, wall1 = tw0, time.time()
        print(f"# run {i}: {dt:.3f}s  (construct {t1 - t0:.3f}s, "
              f"action {dt - (t1 - t0):.3f}s)")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    logs = sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    latest = logs[-1]
    if os.path.isdir(latest):  # Spark 4 rolling event log dir
        parts = sorted(glob.glob(os.path.join(latest, "events*")))
    else:
        parts = [latest]
    jobs: dict[int, dict] = {}
    for part in parts:
        _parse(part, jobs)

    sel = [j for j in jobs.values()
           if "end" in j and j["start"] >= wall0 - 0.2]
    sel.sort(key=lambda j: j["start"])
    total_job = sum(j["end"] - j["start"] for j in sel)
    print(f"\n# last run wall {wall1 - wall0:.3f}s, {len(sel)} jobs, "
          f"sum(job time) {total_job:.3f}s, "
          f"gap {max(0.0, (wall1 - wall0) - total_job):.3f}s"
          f"  (gap is approximate if jobs overlap)")
    print(f"{'dur_s':>7} {'gap_s':>7} {'stages':>6} {'tasks':>6}  call site")
    prev_end = None
    for j in sel:
        gap = 0.0 if prev_end is None else max(0.0, j["start"] - prev_end)
        prev_end = max(prev_end or j["end"], j["end"])
        print(f"{j['end'] - j['start']:7.3f} {gap:7.3f} "
              f"{j['stages']:6d} {j['tasks']:6d}  {j['desc']}")


if __name__ == "__main__":
    main()
