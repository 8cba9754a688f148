#!/usr/bin/env python3
"""photon-spark benchmark: run one workload and print one JSON result line.

Usage (from any directory):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): ``serve`` and ``batch``.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a separate traced
run (spans around every call into a layer, Spark event log, streaming
progress). Lines before it name the workload's own figures with units.

The exit code is 0 only when every output check passed and no timed
operation failed. Everything the run writes lives in
``.perfbench_work/`` under the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "batch")
#: where a traced run leaves its spans (one JSON object per line)
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


class Bench:
    """What a workload needs: the session, its seed and size, sample and
    span recording, output checks, and a scratch directory."""

    def __init__(self, spark, seed: int, seconds: int, trace: bool,
                 work: str):
        from perfbench.harness import Samples, Tracer

        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.trace, self.work = trace, work
        self.samples = Samples()
        self.tracer = Tracer(trace)
        self.jobs: dict[str, list[int]] = {}
        self.mismatches: list[str] = []
        #: per-layer figures a workload measures itself (trace output)
        self.layer: dict[str, float] = {}
        #: perf_counter bounds of the timed rounds
        self.window = (0.0, 0.0)
        #: the workload's own named figures: name -> (value, unit)
        self.named: dict[str, tuple[float, str]] = {}
        self._gid = itertools.count()

    def reset_samples(self) -> None:
        from perfbench.harness import Samples
        self.samples = Samples()
        self.jobs = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)

    def op(self, name: str, fn, *args, **kwargs):
        """One timed call into a layer: a sample under ``name`` and, when
        tracing, a span and the exact number of Spark jobs it ran."""
        if not self.trace:
            return self.samples.timed(name, fn, *args, **kwargs)
        sc = self.spark.sparkContext
        gid = f"perfbench-{next(self._gid)}"
        sc.setJobGroup(gid, name)
        try:
            with self.tracer.span(name):
                return self.samples.timed(name, fn, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs.setdefault(name, []).append(
                len(sc.statusTracker().getJobIdsForGroup(gid)))


def _environment(work: str, trace: bool) -> None:
    """Point every writer at the scratch directory and let Python
    workers import the package wherever the run was started from."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress=false"]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir={evdir}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    prev = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        ([prev] if prev else []) + conf)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _event_log(work: str) -> list[str]:
    lines: list[str] = []
    evdir = os.path.join(work, "eventlog")
    for name in sorted(os.listdir(evdir)):
        with open(os.path.join(evdir, name)) as f:
            lines.extend(f)
    return lines


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import importlib

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work, trace)
        from photon_spark.session import get_spark

        module = importlib.import_module(f"perfbench.{workload}")
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        bench = Bench(spark, seed, seconds, trace, work)
        epoch_offset = time.time() - time.perf_counter()
        try:
            if trace:
                from perfbench import layers
                listener = layers.install(bench)
            out = module.run(bench)
        finally:
            _stop(spark)
        out["setup_s"] = session_s + out["setup_s"]
        out["ops_per_s"] = ((bench.samples.attempted - bench.samples.failed)
                            / out["wall_s"])
        if trace:
            os.makedirs(TRACE_DIR, exist_ok=True)
            bench.tracer.dump(os.path.join(
                TRACE_DIR, f"{workload}-seed{seed}.jsonl"))
            metrics = layers.per_layer(bench, out, session_s,
                                       _event_log(work), listener,
                                       epoch_offset)
        else:
            metrics = end_to_end(bench, out)
        return {"bench": bench, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def end_to_end(bench, out: dict) -> dict:
    """The gated metrics: set-up time, the median write, fold and read
    phase of a round, and timed operations completed per second."""
    from perfbench.harness import percentile

    s = bench.samples
    m = {"setup_s": out["setup_s"]}
    for phase in ("write", "fold", "read"):
        v = s.get(f"e2e.{phase}")
        m[f"{phase}_ms"] = percentile(v, 50) if v else 0.0
    m["ops_per_s"] = out["ops_per_s"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "photon_spark")):
        print(f"no photon_spark package in {ROOT}", file=sys.stderr)
        return 2

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    from perfbench.layers import unit

    bench, metrics = res["bench"], res["metrics"]
    s = bench.samples
    for err in s.errors:
        print(f"FAILED {err}")
    for what in bench.mismatches:
        print(f"MISMATCH {what}")
    for name, (value, named_unit) in bench.named.items():
        print(f"{args.workload} {name} {value:.6g} {named_unit}")
    print(f"{args.workload} error_rate "
          f"{s.failed / max(s.attempted, 1):.6g} ratio "
          f"({s.failed} of {s.attempted} timed operations failed)")
    correct = not bench.mismatches and s.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": s.attempted, "failed": s.failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
