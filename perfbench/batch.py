"""``batch``: a subscriber or operator that replays and re-folds history,
then an analyst running registry operators.

Set-up generates the registry tables and computes their DuckDB oracles,
then runs two warm-up rounds: small catchup rounds (the same plans on
a quarter of the data), each followed by a registry pass, the first of
which is the cold one. One timed round is a catchup round on a fresh
store (see ``catchup.py``) followed by one registry pass (see
``registry.py``):

- write: the round's bulk ingests;
- fold: the three from-zero tier folds and the runner's catch-up;
- read: the cold replay of every stream plus the registry pass.

Volume dominates the catchup part; the registry part is where the
``relations``, ``functions/*`` and ``queries_*`` layers run, which
``serve`` never touches.
"""

from __future__ import annotations

import time

from perfbench.catchup import (EVENTS, STREAMS, WARMUP_EVENTS,
                               catchup_round, check_streams, report)
from perfbench.datagen import reference_totals, registry_tables
from perfbench.harness import OpFailed, fixed_rounds, percentile
from perfbench.layers import store_stats
from perfbench.registry import SCALE, oracle_hashes, registry_pass

WARMUP_ROUNDS = 2         # the first one's registry pass is the cold one
ROUND_S = 8.5             # nominal round time: rounds = seconds / ROUND_S
MIN_ROUNDS = 2


def run(b) -> dict:
    t_setup = time.perf_counter()
    tables = b.path("tables")
    registry_tables(tables, b.seed, SCALE)
    oracle = oracle_hashes(tables)
    warm_ref = reference_totals(b.spark, b.seed, WARMUP_EVENTS, STREAMS)
    ref = reference_totals(b.spark, b.seed, EVENTS, STREAMS)
    for k in range(WARMUP_ROUNDS):
        catchup_round(b, b.path(f"warmup{k}"), WARMUP_EVENTS, warm_ref)
        ms = registry_pass(b, tables, oracle)
        if k == 0:
            cold_ms = ms
    b.reset_samples()
    setup_s = time.perf_counter() - t_setup

    n = fixed_rounds(b.seconds, ROUND_S, MIN_ROUNDS)
    fn_share, passes = [], []
    t0 = time.perf_counter()
    for k in range(n):
        b.tracer.iteration = k + 1
        try:
            r = catchup_round(b, b.path(f"round{k}"), EVENTS, ref)
        except OpFailed:
            b.check(False, f"catchup round {k} failed")
            continue
        passes.append(registry_pass(b, tables, oracle))
        fn_share.append(r["fn_share"])
        b.samples.add("e2e.write", r["write"])
        b.samples.add("e2e.fold", r["fold"])
        b.samples.add("e2e.read", r["read"] + passes[-1])
    wall = time.perf_counter() - t0
    b.window = (t0, t0 + wall)

    check_streams(b, b.path(f"round{n - 1}"), ref)
    b.layer.update(store_stats(b.path(f"round{n - 1}"), EVENTS))
    if fn_share:
        b.layer["projections.serial.fn_share"] = percentile(fn_share, 50)
        b.layer.update({f"projections.{t}.avg_time_ms": v
                        for t, v in r["avg_time"].items()})
    report(b, n)
    b.layer["registry.cold_s"] = cold_ms / 1000.0
    b.named.update({"registry_cold_s": (cold_ms / 1000.0, "s"),
                    "registry_warm_s": (percentile(passes, 50) / 1000.0
                                        if passes else 0.0, "s")})
    return {"setup_s": setup_s, "wall_s": wall}
