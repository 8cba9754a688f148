#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and report, per metric, the
median, the quartiles and the quartile spread against the bound.

    python3 perfbench/steady.py --workloads serve,batch --seeds 1-10
    python3 perfbench/steady.py --workloads serve --seeds 1-3 --trace

The spread is (Q3 - Q1) / median with the quartiles of Python's
``statistics.quantiles(values, n=4)``; a metric is steady when its spread
is below a third of its bound in BENCHMARK.json. ``--trace`` also makes a
traced run per seed and prints the tracing overhead: the traced medians
of the end-to-end phases against the untraced ones. Every run's own
figures are printed, and the exit code is non-zero when any run failed
an output check.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int):
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    print(f"  seed {seed}: trace {trace}, exit {proc.returncode}, "
          f"{time.monotonic() - t0:.1f} s wall")
    for ln in lines[:-1]:
        print(f"  seed {seed}: {ln}")
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if proc.returncode != 0 or result is None:
        print(f"  seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return proc.returncode, result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=None,
                    help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", action="store_true",
                    help="also make traced runs and report the overhead")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    failed = False
    for w in workloads:
        print(f"== {w}")
        per_metric: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            rc, res = run_once(w, seed, spec["run_seconds"], 0)
            failed |= rc != 0 or res is None or not res["correct"]
            for k, v in ((res or {}).get("metrics") or {}).items():
                per_metric.setdefault(k, []).append(v["value"])
            if args.trace:
                rc, res = run_once(w, seed, spec["run_seconds"], 1)
                failed |= rc != 0 or res is None or not res["correct"]
                for k, v in ((res or {}).get("metrics") or {}).items():
                    traced.setdefault(k, []).append(v["value"])
        print(f"{'metric':<12} {'median':>12} {'Q1':>12} {'Q3':>12} "
              f"{'spread':>8} {'bound':>6}  steady")
        for k, vals in per_metric.items():
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            b = bounds.get(k)
            ok = "-" if k == "setup_s" or b is None else (
                "yes" if sp < b / 3 else "NO")
            print(f"{k:<12} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
                  f"{sp:>8.2%} {b if b is not None else '-':>6}  {ok}")
        for phase in ("write", "fold", "read"):
            t = traced.get(f"e2e.{phase}.p50_ms")
            u = per_metric.get(f"{phase}_ms")
            if t and u:
                over = statistics.median(t) / statistics.median(u) - 1.0
                print(f"trace overhead {phase}_ms: {over:+.2%} "
                      f"(traced {statistics.median(t):.1f} ms vs untraced "
                      f"{statistics.median(u):.1f} ms)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
