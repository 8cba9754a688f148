"""Projection engine tests — mirror projections.clj facts: count-fold
convergence, per-stream scoping, resume, replace, delete-protection, failure
capture; plus the native/associative scale tiers."""

import contextlib
import json

import pytest

from photon_spark.events import EventStore
from photon_spark.projections import (
    AssociativeReducer, NativeReducer, ProjectionEngine, PyReducer)
from photon_spark.projections import engine as engine_mod

from tests.test_events import make_events


@pytest.fixture()
def engine(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "events"))
    return ProjectionEngine(store)


def test_count_fold_convergence(engine, spark):
    # projections.clj:96-110 — (fn [a b] (inc a)) over 1003 events, init 1,
    # converges to 1004.  (Reference folds init 0 + registration event → we
    # replicate the arithmetic: init 1, 1003 events ⇒ 1004.)
    engine.store.ingest(make_events(spark, 1003, stream="largestream"))
    engine.register("inc-proj", "lambda prev, ev: prev + 1",
                    stream_name="largestream", initial_value=1)
    proj = engine.advance("inc-proj")
    assert proj.current_value == 1004
    assert proj.processed == 1003
    assert proj.status == "running"
    assert proj.avg_time >= 0.0
    assert proj.mem_used > 0  # measured at the 1000-event tick
    # the native and associative tiers report the same metrics
    # (streams.clj:99-145); a native count ignores the initial value
    engine.register("native", NativeReducer("count"),
                    stream_name="largestream")
    engine.register("assoc", AssociativeReducer(
        fold=lambda st, ev: st + 1, merge=lambda a, b: a + b, zero=0),
        stream_name="largestream", initial_value=1)
    for name, want in (("native", 1003), ("assoc", 1004)):
        proj = engine.advance(name)
        assert (proj.current_value, proj.processed) == (want, 1003), name
        assert proj.avg_time > 0.0 and proj.mem_used > 0, name


def test_resume_from_last_event(engine, spark):
    # streams.clj:255-259 — re-advance folds only new events.
    engine.store.ingest(make_events(spark, 10, stream="s"))
    engine.register("c", "lambda prev, ev: prev + 1", stream_name="s",
                    initial_value=0)
    assert engine.advance("c").current_value == 10
    engine.store.ingest(make_events(spark, 5, stream="s"))
    proj = engine.advance("c")
    assert proj.current_value == 15
    assert proj.processed == 15


def test_stream_scoping(engine, spark):
    # projections.clj:111-112
    engine.store.ingest(make_events(spark, 7, stream="mine"))
    engine.store.ingest(make_events(spark, 9, stream="other"))
    engine.register("mine-count", "lambda p, e: p + 1",
                    stream_name="mine", initial_value=0)
    assert engine.advance("mine-count").current_value == 7


def test_ordered_fold_is_ordered(engine, spark):
    # Non-commutative fold: collect order_ids; must equal the sorted list.
    engine.store.ingest(make_events(spark, 50, stream="s"))
    engine.register("order", "lambda p, e: p + [e['order_id']]",
                    stream_name="s", initial_value=[])
    seen = engine.advance("order").current_value
    assert seen == sorted(seen) and len(seen) == 50


def test_virtual_stream_emission(engine, spark):
    # streams.clj:182-200 — successive states are emitted as a stream.
    engine.store.ingest(make_events(spark, 5, stream="s"))
    engine.register("v", "lambda p, e: p + 1", stream_name="s", initial_value=0)
    proj = engine.advance("v", emit_states=True)
    assert proj.emitted == [1, 2, 3, 4, 5]


def test_failure_capture(engine, spark):
    # streams.clj:84-97 — error ⇒ failed + last_error, state queryable.
    engine.store.ingest(make_events(spark, 5, stream="s"))
    engine.register("boom", "lambda p, e: p + 1/0", stream_name="s",
                    initial_value=0)
    proj = engine.advance("boom")
    assert proj.status == "failed"
    assert "division" in proj.last_error
    assert engine.advance("boom").status == "failed"  # fold stays stopped


def test_replace_and_delete_protection(engine, spark):
    engine.store.ingest(make_events(spark, 3, stream="s"))
    engine.register("p", "lambda p, e: p + 1", stream_name="s", initial_value=0)
    engine.register("p", "lambda p, e: p + 2", stream_name="s", initial_value=0)
    assert engine.advance("p").current_value == 6  # replaced fn, fresh state
    assert engine.unregister("p") is True
    assert engine.unregister("__streams__") is False  # core.clj:102-107


def test_value_keyed_lookup(engine, spark):
    # api.clj:61-64 — F5 keyed lookup into a map-valued projection.
    engine.store.ingest(make_events(spark, 4, stream="s"))
    engine.register(
        "per-type",
        "lambda p, e: {**p, e['event_type']: p.get(e['event_type'], 0) + 1}",
        stream_name="s", initial_value={})
    engine.advance("per-type")
    assert engine.value("per-type", "chatter-event") == 4
    assert engine.value("per-type", "missing") is None


def test_native_reducer_matches_serial(engine, spark):
    engine.store.ingest(make_events(spark, 100, stream="s"))
    engine.register("n-count", NativeReducer("count"), stream_name="s")
    assert engine.advance("n-count").current_value == 100
    # incremental advance across batches
    engine.store.ingest(make_events(spark, 50, stream="s"))
    proj = engine.advance("n-count")
    assert proj.current_value == 150 and proj.processed == 150


def test_associative_reducer_distributed(engine, spark):
    engine.store.ingest(make_events(spark, 200, stream="s"))
    red = AssociativeReducer(
        fold=lambda st, ev: st + ev["order_id"] % 7,
        merge=lambda a, b: a + b, zero=0)
    engine.register("assoc", red, stream_name="s", initial_value=0)
    got = engine.advance("assoc").current_value
    oids = [r["order_id"] for r in engine.store.read_cold("s").collect()]
    assert got == sum(o % 7 for o in oids)


def test_pyreducer_source_persisted(engine, spark):
    src = "lambda prev, ev: prev + 1"
    engine.register("p", src, stream_name="s")
    red = engine.projection("p").reducer
    assert isinstance(red, PyReducer) and red.source == src


def test_native_avg_skips_nulls_across_batches(spark, tmp_path):
    """Incremental native avg must weight batch averages by the count of
    NON-NULL sampled values, exactly like a single F.avg over everything
    — NULLs folded in a later batch must not dilute the merge."""
    import os
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import NativeReducer, ProjectionEngine

    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    engine = ProjectionEngine(store)
    engine.register("avg_v",
                    NativeReducer("avg", "get_json_object(payload, '$.v')"))

    def post(vals):
        rows = [("s", None, None, str(i), None,
                 (None if v is None else f'{{"v": {v}}}'))
                for i, v in enumerate(vals)]
        store.ingest(spark.createDataFrame(
            rows, "stream_name string, event_type string, service_id string,"
                  " local_id string, schema_tag string, payload string"))

    post([10.0])
    engine.advance("avg_v")
    assert engine.value("avg_v") == 10.0
    post([None, 20.0, 40.0])
    engine.advance("avg_v")
    # true avg over non-null = (10+20+40)/3; row-weighted would give 25
    assert abs(engine.value("avg_v") - 70.0 / 3) < 1e-9
    post([None, None])  # all-NULL batch: value unchanged, no corruption
    engine.advance("avg_v")
    assert abs(engine.value("avg_v") - 70.0 / 3) < 1e-9
    # and it matches the one-shot aggregate over the whole store
    from pyspark.sql import functions as F
    one_shot = store.read_all().agg(
        F.avg(F.expr("get_json_object(payload, '$.v')"))).first()[0]
    assert abs(engine.value("avg_v") - one_shot) < 1e-9


def test_emit_states_supported_on_every_tier(spark, tmp_path):
    """emit_states must not be silently ignored: serial emits per-event,
    native/associative emit their per-batch state."""
    import os
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import (AssociativeReducer,
                                                 NativeReducer,
                                                 ProjectionEngine, PyReducer)

    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    engine = ProjectionEngine(store)
    rows = [("s", None, None, str(i), None, "{}") for i in range(3)]
    store.ingest(spark.createDataFrame(
        rows, "stream_name string, event_type string, service_id string,"
              " local_id string, schema_tag string, payload string"))
    engine.register("n", NativeReducer("count"))
    engine.register("a", AssociativeReducer(
        fold=lambda st, ev: st + 1, merge=lambda x, y: x + y, zero=0))
    engine.register("p", PyReducer(fn=lambda st, ev: (st or 0) + 1,
                                   source="p"))
    assert engine.advance("n", emit_states=True).emitted == [3]
    assert engine.advance("a", emit_states=True).emitted == [3]
    assert engine.advance("p", emit_states=True).emitted == [1, 2, 3]


def test_fold_dataframe_associative_without_order_id(spark):
    """fold_dataframe advertises arbitrary DataFrames; the associative
    tier must take the same no-order_id fallback as the serial tier."""
    from photon_spark.projections.engine import (AssociativeReducer,
                                                 ProjectionEngine)

    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    proj = ProjectionEngine.fold_dataframe(
        AssociativeReducer(fold=lambda st, ev: st + ev["v"],
                           merge=lambda x, y: x + y, zero=0), df)
    assert proj.current_value == sum(range(10))
    assert proj.processed == 10


_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextlib.contextmanager
def arrow_batch_rows(spark, n):
    """Set the Arrow batch size (the associative tier's driver-fold cap)
    for the block, then restore it."""
    old = spark.conf.get(_BATCH_CONF)
    spark.conf.set(_BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(_BATCH_CONF, old)


@pytest.fixture()
def distributed_calls(monkeypatch):
    """Count the associative tier's distributed folds."""
    calls = []
    real = engine_mod._fold_partials_distributed

    def spy(reducer, df):
        calls.append(1)
        return real(reducer, df)

    monkeypatch.setattr(engine_mod, "_fold_partials_distributed", spy)
    return calls


def _envelope_store(spark, path):
    """A store with one event carrying every envelope column, one with a
    NULL payload, and plain chatter events around them."""
    store = EventStore(spark, path)
    store.ingest(make_events(spark, 4, stream="s"))
    store.ingest_rows([
        {"stream_name": "s", "event_type": "e", "service_id": "svc",
         "local_id": "full", "schema_tag": "v1", "payload": '{"k": 1}',
         "provenance": {"service_id": "a", "local_id": "b",
                        "relationship_type": "caused-by"}},
        {"stream_name": "s", "local_id": "null-payload"}])
    store.ingest(make_events(spark, 3, stream="s"))
    return store


def _typed(events):
    return [{k: (v, type(v)) for k, v in ev.items()} for ev in events]


def test_assoc_driver_and_distributed_paths_agree(spark, tmp_path,
                                                  distributed_calls):
    """The one-Arrow-batch driver fold and the range-partitioned
    distributed fold hand the fold the same event dicts (values and
    Python types) in the same order and produce the same value,
    processed, last_event and emitted — across two incremental advances,
    so the second merges into a non-zero current value."""
    store = _envelope_store(spark, str(tmp_path / "ev"))
    red = AssociativeReducer(fold=lambda st, ev: st + [ev],
                             merge=lambda a, b: a + b, zero=[])
    caps = {"driver": 10000, "distributed": 2}
    engines, emitted = {}, {p: [] for p in caps}
    for path in caps:
        engines[path] = ProjectionEngine(store)
        engines[path].register("a", red, stream_name="s", initial_value=[])
    for step in range(2):
        if step:
            store.ingest(make_events(spark, 3, stream="s"))
        for path, cap in caps.items():
            with arrow_batch_rows(spark, cap):
                proj = engines[path].advance("a", emit_states=True)
            emitted[path].append(proj.emitted)
    assert len(distributed_calls) == 2

    def outcome(path):
        q = engines[path].projection("a")
        assert q.avg_time > 0.0
        return emitted[path], q.current_value, q.processed, q.last_event

    drv, dist = outcome("driver"), outcome("distributed")
    assert drv == dist
    events = drv[1]
    assert _typed(events) == _typed(dist[1])
    assert len(events) == 12 and drv[2] == 12
    assert [len(e[0]) for e in drv[0]] == [9, 12]
    oids = [ev["order_id"] for ev in events]
    assert oids == sorted(oids) and drv[3] == oids[-1]
    full = next(ev for ev in events if ev["local_id"] == "full")
    assert full["provenance"] == {"service_id": "a", "local_id": "b",
                                  "relationship_type": "caused-by"}
    assert (full["schema_tag"], full["payload"]) == ("v1", '{"k": 1}')
    null = next(ev for ev in events if ev["local_id"] == "null-payload")
    assert null["payload"] is None and null["provenance"] is None


def test_serial_fold_sees_the_executor_event_dicts(spark, tmp_path,
                                                   distributed_calls):
    """The serial tier's driver fold hands its fn the same plain-Python
    event dicts (values and types) as the executors hand a distributed
    associative fold."""
    store = _envelope_store(spark, str(tmp_path / "ev"))
    engine = ProjectionEngine(store)
    engine.register("serial", PyReducer(fn=lambda st, ev: st + [ev]),
                    stream_name="s", initial_value=[])
    engine.register("assoc", AssociativeReducer(
        fold=lambda st, ev: st + [ev], merge=lambda a, b: a + b, zero=[]),
        stream_name="s", initial_value=[])
    serial = engine.advance("serial").current_value
    with arrow_batch_rows(spark, 2):
        assoc = engine.advance("assoc").current_value
    assert len(distributed_calls) == 1
    assert len(serial) == 9 and _typed(serial) == _typed(assoc)
    assert not [v for ev in serial for v in ev.values()
                if type(v).__module__ == "numpy"]
    assert {type(ev["order_id"]) for ev in serial} == {int}


def test_serial_fold_orders_many_small_files(engine, spark):
    """Many single-event files over two streams, folded in Arrow chunks
    smaller than the delta: the fold still sees one total order_id
    order."""
    for i in range(12):
        engine.store.ingest_rows([{"stream_name": f"s{i % 2}",
                                   "local_id": str(i)}])
    engine.register("order", "lambda p, e: p + [e['order_id']]",
                    initial_value=[])
    with arrow_batch_rows(spark, 5):
        proj = engine.advance("order", emit_states=True)
    want = [r["order_id"] for r in engine.store.read_cold().collect()]
    assert proj.current_value == want and len(want) == 12
    assert proj.processed == 12 and proj.last_event == want[-1]
    assert [len(s) for s in proj.emitted] == list(range(1, 13))


def test_assoc_fold_failure_leaves_state_unchanged(spark, tmp_path,
                                                   distributed_calls):
    """A throwing associative fold fails the advance on both paths
    without touching value, processed or last_event."""
    def fold(st, ev):
        if ev["local_id"] == "boom":
            raise ValueError("boom")
        return st + 1

    for cap in (10000, 2):
        store = EventStore(spark, str(tmp_path / f"ev{cap}"))
        store.ingest(make_events(spark, 5, stream="s"))
        engine = ProjectionEngine(store)
        engine.register("a", AssociativeReducer(
            fold=fold, merge=lambda a, b: a + b, zero=0),
            stream_name="s", initial_value=0)
        with arrow_batch_rows(spark, cap):
            proj = engine.advance("a")
            before = (proj.current_value, proj.processed, proj.last_event)
            assert before[:2] == (5, 5)
            store.ingest(make_events(spark, 2, stream="s"))
            store.ingest_rows([{"stream_name": "s", "local_id": "boom"}])
            with pytest.raises(Exception, match="boom"):
                engine.advance("a")
        assert (proj.current_value, proj.processed,
                proj.last_event) == before
    assert len(distributed_calls) == 2
