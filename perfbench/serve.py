"""``serve``: one photon client in a closed loop over a PhotonAPI.

Set-up preloads a store with the seed's chatter events, opens a
PhotonAPI on it with the three projection tiers registered for pull
reads, and starts a live StreamingProjectionRunner folding the same
three tiers on its own ProjectionEngine. One round (iteration) then:

1. posts one event with ``post_event``;
2. waits, polling every 5 ms, until every live projection has folded it
   (freshness);
3. reads the fixed read set: ``projection_value`` of the three tiers,
   ``get_event`` of the posted event, ``stream_contents`` and
   ``streams()``.

Per-call fixed cost dominates: py4j, planning, job scheduling, file
listing, plan-memo invalidation and micro-batch overhead.
"""

from __future__ import annotations

import random
import time

from perfbench.datagen import STREAMS, chatter_events, chatter_payload
from perfbench.harness import OpFailed, fixed_rounds, percentile
from perfbench.layers import store_stats
from perfbench.reducers import TIERS, register_tiers, tier_totals

PRELOAD = 8_000           # events in the preloaded store (one ingest)
WARMUP_ROUNDS = 4         # untimed rounds before timing starts
ROUND_S = 4.0             # nominal round time: rounds = seconds / ROUND_S
MIN_ROUNDS = 3
FRESH_TIMEOUT_S = 60.0
POLL_S = 0.005


def _preload(b, path: str) -> None:
    from photon_spark.events import EventStore

    with b.tracer.span("events.ingest"):
        EventStore(b.spark, path).ingest(
            chatter_events(b.spark, b.seed, 0, PRELOAD))


def _wait_fresh(live_engine, order_id: int) -> None:
    deadline = time.perf_counter() + FRESH_TIMEOUT_S
    while any(live_engine.projection(t).last_event < order_id
              for t in TIERS):
        if time.perf_counter() > deadline:
            raise TimeoutError(f"event {order_id} not folded live within "
                               f"{FRESH_TIMEOUT_S}s")
        time.sleep(POLL_S)


class _Client:
    """The client's view: what it posted, and what every read must show."""

    def __init__(self, b, api, live_engine, totals: dict):
        self.b, self.api, self.live = b, api, live_engine
        self.rng = random.Random(b.seed)
        self.per_stream = {s: n for s, (n, _) in totals.items()}
        self.count = sum(n for n, _ in totals.values())
        self.total = sum(s for _, s in totals.values())
        self.posts = 0

    def round(self) -> None:
        b, api = self.b, self.api
        stream = self.rng.choice(STREAMS)
        payload, sent = chatter_payload(self.rng, self.posts)
        self.posts += 1
        t0 = time.perf_counter()
        b.op("api.post_event", api.post_event, stream, payload,
             event_type="chatter-event", service_id="request://chatter",
             local_id=f"post-{self.posts}")
        t1 = time.perf_counter()
        # the store keeps its high-water mark arithmetically: no Spark job
        oid = api.store.max_order_id()
        self.count += 1
        self.total += sent
        self.per_stream[stream] = self.per_stream.get(stream, 0) + 1
        b.samples.timed("streaming.fresh", _wait_fresh, self.live, oid)
        t2 = time.perf_counter()
        pulled = {t: b.op(f"api.projection_value.{t}",
                          api.projection_value, t) for t in TIERS}
        ev = b.op("api.get_event", api.get_event, stream, oid)
        contents = b.op("api.stream_contents",
                        lambda: api.stream_contents(stream).collect())
        streams = b.op("api.streams", api.streams)
        t3 = time.perf_counter()
        b.samples.add("e2e.write", (t1 - t0) * 1000.0)
        b.samples.add("e2e.fold", (t2 - t1) * 1000.0)
        b.samples.add("e2e.read", (t3 - t2) * 1000.0)
        self._check(pulled, ev, payload, contents, streams)

    def _check(self, pulled, ev, payload, contents, streams) -> None:
        b, want = self.b, (self.count, self.total)
        b.check(pulled["native"] == self.total,
                f"native {pulled['native']} != {self.total}")
        b.check(tuple(pulled["assoc"]) == want,
                f"assoc {pulled['assoc']} != {want}")
        b.check(tuple(pulled["serial"][:2]) == want,
                f"serial {pulled['serial']} != {want}")
        live = tier_totals(self.live)
        pull = tier_totals(self.api.engine)
        b.check(live == pull, f"live {live} != pull {pull}")
        b.check(ev is not None and ev["payload"] == payload,
                "get_event did not return the posted payload")
        oids = [r["order_id"] for r in contents]
        b.check(0 < len(oids) <= 50 and oids == sorted(oids),
                "stream_contents not 1..50 rows in order_id order")
        got = {r["stream"]: r["total-events"] for r in streams}
        b.check(got == self.per_stream,
                f"streams() totals {got} != {self.per_stream}")


def run(b) -> dict:
    from photon_spark.api import PhotonAPI
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import ProjectionEngine
    from photon_spark.streaming.stateful import StreamingProjectionRunner
    from perfbench.datagen import reference_totals

    t_setup = time.perf_counter()
    path = b.path("store")
    _preload(b, path)
    totals = reference_totals(b.spark, b.seed, PRELOAD)
    with b.tracer.span("api.open"):
        api = PhotonAPI(b.spark, path)
    register_tiers(api.engine)
    live_engine = ProjectionEngine(EventStore(b.spark, path))
    register_tiers(live_engine)
    runner = StreamingProjectionRunner(live_engine,
                                       checkpoint_dir=b.path("ckpt"))
    query = runner.run(available_now=False)
    try:
        _wait_fresh(live_engine, api.store.max_order_id())
        client = _Client(b, api, live_engine, totals)
        for _ in range(WARMUP_ROUNDS):
            client.round()
        b.reset_samples()      # warm-up rounds are not timed operations
        setup_s = time.perf_counter() - t_setup

        n = fixed_rounds(b.seconds, ROUND_S, MIN_ROUNDS)
        t0 = time.perf_counter()
        for i in range(n):
            b.tracer.iteration = i + 1
            try:
                client.round()
            except OpFailed:
                b.check(False, f"round {i} failed")
        wall = time.perf_counter() - t0
        b.window = (t0, t0 + wall)
    finally:
        query.stop()
    b.layer.update(store_stats(path, client.count))
    for t in TIERS:
        b.layer[f"projections.{t}.avg_time_ms"] = \
            api.engine.projection(t).avg_time

    p50 = {k: percentile(v, 50) for k, v in b.samples.values.items() if v}
    b.named.update({
        "post_ms.p50": (p50.get("api.post_event", 0.0), "ms"),
        "fresh_ms.p50": (p50.get("streaming.fresh", 0.0), "ms"),
        "read_set_ms.p50": (p50.get("e2e.read", 0.0), "ms"),
    })
    return {"setup_s": setup_s, "wall_s": wall}
