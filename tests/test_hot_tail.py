"""The hot tail: a pull of a handle's own posts folds them from the rows
the handle kept on the driver, and ``get_event`` answers from them, with
no Spark job. Wherever the tail could differ from the files (another
handle's append, a Spark write, a rewrite, a failed post, more than one
Arrow batch, projections at different store versions) the fold reads
the store, and every path gives what a fold of the store gives."""

import contextlib
import json

import pyarrow as pa
import pytest

from photon_spark.api import PhotonAPI
from photon_spark.events import ALL_STREAMS, EventStore
from photon_spark.projections import (
    AssociativeReducer, NativeReducer, ProjectionEngine, PyReducer)

from tests.test_events import make_events
from tests.test_fused_fold import _jobs
from tests.test_projections import _TYPED, arrow_batch_rows


def _seen(st, ev):
    return st + [(ev["order_id"], ev["stream_name"], ev["payload"],
                  ev["provenance"], ev["event_time"])]


def _register(engine, stream="s"):
    """Over ``stream``: native long, int and double sums, avg, min, max
    and count, an associative fold and a serial fold of every column."""
    for typ in ("long", "int", "double"):
        engine.register(f"sum_{typ}", NativeReducer("sum", _TYPED[typ]),
                        stream_name=stream)
    engine.register("avg", NativeReducer("avg", _TYPED["double"]),
                    stream_name=stream)
    engine.register("min", NativeReducer("min", _TYPED["long"]),
                    stream_name=stream)
    engine.register("max", NativeReducer("max", _TYPED["double"]),
                    stream_name=stream)
    engine.register("count", NativeReducer("count"), stream_name=stream,
                    initial_value=0)
    engine.register("assoc", AssociativeReducer(
        fold=lambda st, ev: st + [ev["local_id"]],
        merge=lambda a, b: a + b, zero=[]), stream_name=stream,
        initial_value=[])
    engine.register("serial", PyReducer(fn=_seen), stream_name=stream,
                    initial_value=[])


def _register_mixed(engine):
    """Every kind over all streams, plus a count of ``s`` and a sum of
    the quoted stream ``a'b``."""
    _register(engine, ALL_STREAMS)
    engine.register("count_s", NativeReducer("count"), stream_name="s")
    engine.register("sum_quoted", NativeReducer("sum", _TYPED["long"]),
                    stream_name="a'b")


def _sig(v):
    """``v`` with the Python type of every value in it."""
    if isinstance(v, dict):
        return {k: _sig(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [type(v).__name__, *map(_sig, v)]
    return type(v).__name__, v


def _outcome(engine):
    return {n: (_sig(p.current_value), p.processed, p.last_event, p.status)
            for n, p in engine.registry.items()}


def _cold(spark, path, register=_register):
    engine = ProjectionEngine(EventStore(spark, path))
    register(engine)
    engine.advance_all()
    return engine


def _row(stream, payload=None, provenance=None, i=0):
    return {"stream_name": stream, "local_id": f"{stream}-{i}",
            "payload": None if payload is None else json.dumps(payload),
            "provenance": provenance}


PROV = {"service_id": "svc", "local_id": "l", "relationship_type": "caused-by"}

#: posts per phase: NULL and non-NULL payloads and provenance, a quoted
#: stream name, and a stream whose directory the phase creates
PHASES = [
    [_row("s", {"l": 1, "d": 0.5}), _row("a'b", None, PROV)],
    [_row("a'b", {"l": -3, "d": 2.25}), _row("new", {"l": 2 ** 30},
                                             {"service_id": "z"})],
    [_row("s", {"d": -1.5}), _row("s", None, None, 1),
     _row("a'b", {"l": 7, "d": 0.125}, {"local_id": "q"})],
]


def test_tail_fold_equals_the_store_fold(spark, tmp_path):
    """A post followed by ``projection_value`` of every tier, the
    default projections included, runs no Spark job, and agrees with a
    store-path engine on another handle and with a cold fold on value,
    Python type, processed and last_event. ``get_event`` of each post
    runs no Spark job either and returns the store's Row."""
    path = str(tmp_path / "ev")
    api = PhotonAPI(spark, path)
    api.post_event("s", json.dumps({"l": 5, "d": 1.0}), local_id="first")
    twin = PhotonAPI(spark, path)
    for engine in (api.engine, twin.engine):
        _register_mixed(engine)
        assert engine.advance_all() == {}
    names = sorted(api.engine.registry)
    assert {"__streams__", "__security-state__"} <= set(names)
    for k, phase in enumerate(PHASES):
        if k == 1:      # one call, one file per stream
            api.store.ingest_rows(phase)
            top = api.store.max_order_id()
            oids = range(top - len(phase) + 1, top + 1)
        else:
            oids = []
            for row in phase:
                api.post_event(**row)
                oids.append(api.store.max_order_id())
        values, jobs = _jobs(spark, lambda: [api.projection_value(n)
                                             for n in names])
        assert jobs == 0
        assert values == [api.engine.value(n) for n in names]
        assert _jobs(spark, twin.engine.advance_all)[1] >= 1
        assert _outcome(api.engine) == _outcome(twin.engine)
        for row, oid in zip(phase, oids):
            ev, jobs = _jobs(spark, api.get_event, row["stream_name"], oid)
            assert jobs == 0 and ev["local_id"] == row["local_id"]
            want = twin.get_event(row["stream_name"], oid)
            assert ev == want
            assert [type(v) for v in ev] == [type(v) for v in want]
    cold = _cold(spark, path, _register_mixed)
    got = _outcome(api.engine)
    assert {n: got[n] for n in cold.registry} == _outcome(cold)
    assert api.engine.value("__streams__") == {"s": 4, "a'b": 3, "new": 1}


def test_overflowing_posts_take_the_store_path(spark, tmp_path):
    """2**62, 2**62, -2**62 posted one by one: a tail delta whose long
    sum could leave the long range is the store's to decide, so the tail
    engine runs a Spark job and ends where a store-path engine ends."""
    path = str(tmp_path / "ev")
    store = EventStore(spark, path)
    store.ingest_rows([_row("x")])
    engines = [ProjectionEngine(store),
               ProjectionEngine(EventStore(spark, path))]
    for engine in engines:
        engine.register("sum", NativeReducer("sum", _TYPED["long"]))
        engine.register("count", NativeReducer("count"), initial_value=0)
        assert engine.advance_all() == {}
    for v in (2 ** 62, 2 ** 62, -(2 ** 62)):
        store.ingest_rows([_row("s", {"l": v})])
    errors, jobs = _jobs(spark, engines[0].advance_all)
    assert jobs >= 1
    twin = engines[1].advance_all()
    assert {n: type(e).__name__ for n, e in errors.items()} \
        == {n: type(e).__name__ for n, e in twin.items()}
    assert _outcome(engines[0]) == _outcome(engines[1])
    assert engines[0].value("count") == 4


def _setup(spark, path):
    """A store with two ``old`` events, an engine that has read it (its
    projections watch ``s`` and have folded nothing yet), then two posts
    to ``s`` on the same handle. → (store, engine, first ``s`` order_id)"""
    store = EventStore(spark, path)
    store.ingest_rows([_row("old", {"l": 9}), _row("old", {"l": 8}, i=1)])
    engine = ProjectionEngine(store)
    _register(engine)
    assert engine.advance_all() == {}
    store.ingest_rows([_row("s", {"l": 1, "d": 0.5}, PROV)])
    first = store.max_order_id()
    store.ingest_rows([_row("s", {"l": 2}, i=1)])
    return store, engine, first


def _second_handle(spark, store, engine, first):
    EventStore(spark, store.path).ingest_rows([_row("s", {"l": 4}, i=2)])


def _spark_ingest(spark, store, engine, first):
    store.ingest(make_events(spark, 2, stream="s"))


def _delete_event(spark, store, engine, first):
    store.delete_event("s", store.max_order_id())


def _expire(spark, store, engine, first):
    assert store.expire(first) == 2


def _compact(spark, store, engine, first):
    store.compact()


def _clean(spark, store, engine, first):
    store.clean()
    store.ingest_rows([_row("s", {"l": 6}, i=3)])


def _rejected_post(spark, store, engine, first):
    with pytest.raises(pa.ArrowException):
        store.ingest_rows([{"stream_name": "s", "payload": 5}])


def _past_one_batch(spark, store, engine, first):
    store.ingest_rows([_row("s", {"l": 3}, i=2)])
    return arrow_batch_rows(spark, 2)


def _late_projection(spark, store, engine, first):
    engine.register("late", NativeReducer("count"), stream_name="s")


def _different_versions(spark, store, engine, first):
    assert engine.advance("count").current_value == 2
    store.ingest_rows([_row("s", {"l": 5}, i=2)])


@pytest.mark.parametrize("change", [
    _second_handle, _spark_ingest, _delete_event, _expire, _compact,
    _clean, _rejected_post, _past_one_batch, _late_projection,
    _different_versions], ids=lambda f: f.__name__.strip("_"))
def test_the_store_path_runs_where_the_tail_could_differ(
        spark, tmp_path, change):
    """After ``change``, the pull reads the files (≥1 job) and ends as a
    cold fold of the store does."""
    path = str(tmp_path / "ev")
    store, engine, first = _setup(spark, path)
    pulling = change(spark, store, engine, first) or contextlib.nullcontext()
    with pulling:
        errors, jobs = _jobs(spark, engine.advance_all)
        assert errors == {} and jobs >= 1

        def register(fresh):
            _register(fresh)
            if "late" in engine.registry:
                fresh.register("late", NativeReducer("count"),
                               stream_name="s")

        assert _outcome(engine) == _outcome(_cold(spark, path, register))


def test_get_event_reads_the_files_when_the_tail_cannot_answer(
        spark, tmp_path):
    """A handle opened with a one-row Arrow batch keeps no tail past one
    row, a rewrite by another handle moves the data dir, and an
    unlimited Arrow batch has no local relation: each lookup reads the
    store, in one Spark job, and returns its Row."""
    path = str(tmp_path / "ev")
    with arrow_batch_rows(spark, 1):
        store = EventStore(spark, path)
    store.ingest_rows([_row("s", {"l": 1})])
    oid = store.max_order_id()
    assert _jobs(spark, store.event, "s", oid)[1] == 0
    store.ingest_rows([_row("s", {"l": 2}, i=1)])
    ev, jobs = _jobs(spark, store.event, "s", store.max_order_id())
    assert jobs == 1 and ev["local_id"] == "s-1"
    store = EventStore(spark, path)
    store.ingest_rows([_row("s", {"l": 3}, i=2)])
    EventStore(spark, path).compact()
    ev, jobs = _jobs(spark, store.event, "s", store.max_order_id())
    assert jobs == 1 and ev["local_id"] == "s-2"
    store.ingest_rows([_row("s", {"l": 4}, i=3)])
    with arrow_batch_rows(spark, 0):
        ev, jobs = _jobs(spark, store.event, "s", store.max_order_id())
    assert jobs == 1 and ev["local_id"] == "s-3"
