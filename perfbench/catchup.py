"""The catchup part of ``batch``: bulk ingest, cold replay and
from-zero folds.

One round works on a fresh store, so the store's file count at every
operation is the same in every round and every run:

1. ingest the seed's events in ``BATCHES`` equal batches
   (``EventStore.ingest``);
2. cold-replay every stream with ``read_cold(stream)`` and consume rows;
3. fold from zero once per tier (``ProjectionEngine.advance`` on a
   freshly registered projection);
4. catch up all three tiers with
   ``StreamingProjectionRunner.run(available_now=True)``.

Compared with ``serve`` it uses the same ``events``, ``projections`` and
``streaming`` layers in bulk: batch writes next to single-event writes,
full folds next to one-event advances.
"""

from __future__ import annotations

import time

from perfbench.datagen import STREAMS as ALL_STREAMS
from perfbench.datagen import chatter_events
from perfbench.reducers import TIERS, register_tiers, tier_totals

EVENTS = 8_000            # events per timed round
BATCHES = 2               # ingest calls per round
WARMUP_EVENTS = 2_000     # events per warm-up round: same plans, less data
#: fewer streams than serve: one replay call per stream, and per-call
#: overhead would otherwise crowd out the volume this part is about
STREAMS = ALL_STREAMS[:4]


def catchup_round(b, path: str, events: int, ref: dict) -> dict:
    """One round on a fresh store at ``path``. Returns its write (ingest),
    fold (tier folds and runner catch-up) and read (replay) times in ms,
    each tier's descriptor ``avg-time`` and the serial fold's
    user-function share."""
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import ProjectionEngine
    from photon_spark.streaming.stateful import StreamingProjectionRunner

    store = EventStore(b.spark, path)
    step = events // BATCHES
    t0 = time.perf_counter()
    for lo in range(0, events, step):
        b.op("events.ingest", store.ingest,
             chatter_events(b.spark, b.seed, lo, lo + step, STREAMS))
    t1 = time.perf_counter()
    for s in STREAMS:
        rows = b.op("events.read_cold", lambda: store.read_cold(s).collect())
        oids = [r["order_id"] for r in rows]
        want = ref.get(s, (0, 0))[0]
        b.check(len(oids) == want,
                f"read_cold({s}) returned {len(oids)} rows, want {want}")
        b.check(oids == sorted(oids), f"read_cold({s}) not in order_id order")

    t2 = time.perf_counter()
    folded, avg_time, fn_share = {}, {}, 0.0
    for t in TIERS:
        engine = ProjectionEngine(store)
        register_tiers(engine)
        tf = time.perf_counter()
        b.op(f"projections.fold.{t}", engine.advance, t)
        if t == "serial":
            p = engine.projection(t)
            fn_share = (p.avg_time * p.processed
                        / ((time.perf_counter() - tf) * 1000.0))
        folded[t] = tier_totals(engine)[t]
        avg_time[t] = engine.projection(t).avg_time
    live = ProjectionEngine(store)
    register_tiers(live)
    runner = StreamingProjectionRunner(live,
                                       checkpoint_dir=path + "-ckpt")
    b.op("streaming.catchup", runner.run, available_now=True)
    t3 = time.perf_counter()

    want = (events, sum(s for _, s in ref.values()))
    for t in TIERS:
        b.check(folded[t] == want,
                f"fold {t} {folded[t]} != groupBy reference {want}")
    b.check(tier_totals(live) == folded,
            f"runner {tier_totals(live)} != batch folds {folded}")
    return {"write": (t1 - t0) * 1000.0, "read": (t2 - t1) * 1000.0,
            "fold": (t3 - t2) * 1000.0, "avg_time": avg_time,
            "fn_share": fn_share}


def check_streams(b, path: str, ref: dict) -> None:
    """``__streams__`` totals equal the per-stream reference counts."""
    from photon_spark.api import PhotonAPI

    got = {r["stream"]: r["total-events"]
           for r in PhotonAPI(b.spark, path).streams()}
    want = {s: n for s, (n, _) in ref.items()}
    b.check(got == want, f"__streams__ totals {got} != {want}")


def report(b, rounds: int) -> None:
    """The catchup part's own figures over ``rounds`` timed rounds."""
    def rate(op: str) -> float:
        ms = sum(b.samples.get(op))
        return EVENTS * rounds / (ms / 1000.0) if ms else 0.0

    b.named.update({
        "ingest_ev_per_s": (rate("events.ingest"), "1/s"),
        "replay_rows_per_s": (rate("events.read_cold"), "1/s"),
        **{f"fold_{t}_ev_per_s": (rate(f"projections.fold.{t}"), "1/s")
           for t in TIERS},
        "catchup_ev_per_s": (rate("streaming.catchup"), "1/s"),
    })
