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


def test_fold_dataframe_refuses_a_frame_without_order_id(spark):
    """Every delta carries order_id, the order the fold follows: an
    ad-hoc frame without one is refused before any fold runs."""
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    for reducer in (AssociativeReducer(fold=lambda st, ev: st + ev["v"],
                                       merge=lambda x, y: x + y, zero=0),
                    PyReducer(fn=lambda st, ev: st + ev["v"]),
                    NativeReducer("sum", "v")):
        with pytest.raises(ValueError, match="order_id"):
            ProjectionEngine.fold_dataframe(reducer, df, initial_value=0)


def test_fold_reads_a_null_struct_with_non_nullable_fields(spark):
    """``toArrow`` refuses a NULL struct whose fields are declared
    non-nullable; the fold collects such a frame on every Python tier
    and folds what ``toPandas`` reads."""
    df = spark.sql("SELECT * FROM VALUES (1L, named_struct('a', 's')), "
                   "(2L, NULL) AS t(order_id, prov)")
    want = [r["prov"] for r in df.toPandas().to_dict("records")]
    assert want == [{"a": "s"}, None]
    serial = PyReducer(fn=lambda st, ev: st + [ev["prov"]])
    assoc = AssociativeReducer(fold=lambda st, ev: st + [ev["prov"]],
                               merge=lambda a, b: a + b, zero=[])
    for reducer in (serial, assoc):
        proj = ProjectionEngine.fold_dataframe(reducer, df, initial_value=[])
        assert proj.current_value == want and proj.processed == 2


def test_event_frame_converts_as_the_pandas_collect_does(spark):
    """Every fold's collect is ``toArrow`` converted by
    ``_event_frame``: over every column type an event or an ad-hoc frame
    carries, each with a NULL, and over an empty frame, it gives what
    ``DataFrame.toPandas`` gives in values, dtypes and Python types."""
    import pandas as pd

    q = spark.sql("""
        SELECT * FROM VALUES
          (1L, 1, 1.5D, CAST(1.25 AS DECIMAL(10, 2)), 'a', true,
           DATE'2024-01-02', TIMESTAMP'2024-01-02 03:04:05.123456',
           named_struct('service_id', 's', 'local_id', 'l',
                        'relationship_type', 'r'),
           array(1L, 2L), map('k', 1L)),
          (CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DECIMAL(10, 2)), CAST(NULL AS STRING),
           CAST(NULL AS BOOLEAN), CAST(NULL AS DATE),
           CAST(NULL AS TIMESTAMP),
           CAST(NULL AS STRUCT<service_id: STRING, local_id: STRING,
                               relationship_type: STRING>),
           CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS MAP<STRING, BIGINT>))
        AS t(l, i, d, dec, s, b, dt, ts, prov, arr, m)""")
    convert = engine_mod._pandas_converter(spark)
    for frame in (q, q.limit(0)):
        got = engine_mod._event_frame(frame.toArrow(), frame.schema.fields,
                                      convert)
        want = frame.toPandas()
        pd.testing.assert_frame_equal(got, want)
        assert [[type(v) for v in r.values()]
                for r in got.to_dict("records")] == \
            [[type(v) for v in r.values()]
             for r in want.to_dict("records")]


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
    processed and last_event, and the same value after each of two
    incremental advances, so the second merges into a non-zero current
    value."""
    store = _envelope_store(spark, str(tmp_path / "ev"))
    red = AssociativeReducer(fold=lambda st, ev: st + [ev],
                             merge=lambda a, b: a + b, zero=[])
    caps = {"driver": 10000, "distributed": 2}
    engines, values = {}, {p: [] for p in caps}
    for path in caps:
        engines[path] = ProjectionEngine(store)
        engines[path].register("a", red, stream_name="s", initial_value=[])
    for step in range(2):
        if step:
            store.ingest(make_events(spark, 3, stream="s"))
        for path, cap in caps.items():
            with arrow_batch_rows(spark, cap):
                proj = engines[path].advance("a")
            values[path].append(proj.current_value)
    assert len(distributed_calls) == 2

    def outcome(path):
        q = engines[path].projection("a")
        assert q.avg_time > 0.0
        return values[path], q.current_value, q.processed, q.last_event

    drv, dist = outcome("driver"), outcome("distributed")
    assert drv == dist
    events = drv[1]
    assert _typed(events) == _typed(dist[1])
    assert len(events) == 12 and drv[2] == 12
    assert [len(v) for v in drv[0]] == [9, 12]
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
        proj = engine.advance("order")
    want = [r["order_id"] for r in engine.store.read_cold().collect()]
    assert proj.current_value == want and len(want) == 12
    assert proj.processed == 12 and proj.last_event == want[-1]


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


def test_count_distinct_is_refused_at_register(engine):
    """count_distinct has no cross-delta merge (a second delta would
    report only its own distinct count), so it is not a native kind."""
    with pytest.raises(ValueError, match="count_distinct"):
        engine.register("d", NativeReducer("count_distinct", "local_id"))
    assert engine.projection("d") is None


def _typed_value(v):
    """A value with its Python type; NaN compares equal to NaN."""
    return (type(v), "nan" if v != v else v)


_J = "get_json_object(payload, '$.{}')"
_TYPED = {"long": f"cast({_J.format('l')} as long)",
          "int": f"cast({_J.format('l')} as int)",
          "double": f"cast({_J.format('d')} as double)",
          "decimal": f"cast({_J.format('m')} as decimal(20, 3))",
          "big": f"cast({_J.format('b')} as long)",
          "text": _J.format("s"),
          "nan": f"cast({_J.format('f')} as double)"}


def _differential_reducers():
    """{name: (reducer, stream)}: every kind over long, double and decimal
    values, min/max over strings and NaN-bearing doubles, a long column
    with NULLs past 2**53, per-stream, empty and all-NULL deltas, and
    kinds over strings and timestamps (sum/avg coerce strings)."""
    from photon_spark.events import ALL_STREAMS
    out = {}
    for kind in ("sum", "avg", "min", "max"):
        for typ in ("long", "double", "decimal", "big"):
            out[f"{kind}_{typ}"] = (NativeReducer(kind, _TYPED[typ]),
                                    ALL_STREAMS)
        out[f"{kind}_long_null"] = (NativeReducer(kind, _TYPED["long"]), "n")
        out[f"{kind}_empty"] = (NativeReducer(kind, _TYPED["long"]), "e")
        # strings: ordered by min/max, coerced to double by sum/avg
        out[f"{kind}_text"] = (NativeReducer(kind, _TYPED["text"] if kind
                                             in ("min", "max") else
                                             _J.format("l")), ALL_STREAMS)
    for kind in ("min", "max"):
        out[f"{kind}_nan"] = (NativeReducer(kind, _TYPED["nan"]), "b")
        out[f"{kind}_time"] = (NativeReducer(kind, "event_time"), "a")
    out["sum_int"] = (NativeReducer("sum", _TYPED["int"]), ALL_STREAMS)
    out["sum_double_b"] = (NativeReducer("sum", _TYPED["double"]), "b")
    out["avg_long_a"] = (NativeReducer("avg", _TYPED["long"]), "a")
    for stream in (ALL_STREAMS, "a", "e"):
        out[f"count_{stream}"] = (NativeReducer("count"), stream)
    return out


_DELTAS = [
    [("a", {"l": 3, "d": 0.5, "m": "1.250", "s": "pear",
            "b": 2 ** 53 + 1}),
     ("a", {"d": -2.25, "m": "-0.005", "s": "Äpfel"}),
     ("b", {"l": -7, "d": 1.75, "s": "zebra", "b": 2 ** 60 + 3, "f": 1.5}),
     ("n", {}),
     ("b", {"l": 40, "m": "99999.999", "f": "NaN"})],
    [("a", {"l": 2 ** 30, "d": 0.125, "s": "apple", "b": -(2 ** 55) - 1}),
     ("n", {}),
     ("c", {"l": 5, "d": 3.0, "m": "0.001", "s": "éclair", "b": 7}),
     ("b", {"f": -0.5, "s": "pear", "l": -1})],
]


def test_one_batch_native_reduction_equals_the_aggregate(
        spark, tmp_path, monkeypatch):
    """A delta of at most one Arrow batch reduces integral and floating
    native values on the driver from one collect; a larger one, or a
    fold with a native reducer over other values, runs the Catalyst
    aggregate. Both give the same value, Python type, processed,
    last_event and native_weight for every kind and value type, across
    two deltas (so the second merges into a running value)."""
    store = EventStore(spark, str(tmp_path / "ev"))
    reducers = _differential_reducers()
    other = {n for n in reducers
             if n.rsplit("_", 1)[1] in ("decimal", "text", "time")}
    groups = {"driver": {n: reducers[n] for n in reducers if n not in other},
              "catalyst": {n: reducers[n] for n in other}}
    engines = {}
    for group, regs in groups.items():
        for path in ("one_batch", "aggregate"):
            engines[group, path] = ProjectionEngine(store)
            for name, (reducer, stream) in regs.items():
                engines[group, path].register(name, reducer,
                                              stream_name=stream)
    aggregates = []
    real = ProjectionEngine._fold_native

    def spy(self, *args):
        aggregates.append(self)
        return real(self, *args)

    monkeypatch.setattr(ProjectionEngine, "_fold_native", spy)

    def outcome(engine):
        return {n: (_typed_value(p.current_value), p.processed,
                    p.last_event, p.native_weight)
                for n, p in engine.registry.items()}

    for delta in _DELTAS:
        store.ingest_rows([{"stream_name": s, "payload": json.dumps(v)}
                           for s, v in delta])
        for group in groups:
            assert engines[group, "one_batch"].advance_all() == {}
            with arrow_batch_rows(spark, 1):
                assert engines[group, "aggregate"].advance_all() == {}
            assert (outcome(engines[group, "one_batch"])
                    == outcome(engines[group, "aggregate"]))
    assert id(engines["driver", "one_batch"]) not in set(map(id, aggregates))
    got = {**outcome(engines["driver", "one_batch"]),
           **outcome(engines["catalyst", "one_batch"])}
    assert got["sum_big"][0] == (int, 2 ** 53 + 1 + 2 ** 60 + 3
                                 - 2 ** 55 - 1 + 7)
    assert got["max_big"][0] == (int, 2 ** 60 + 3)
    assert got["sum_decimal"][0][0].__name__ == "Decimal"
    assert got["max_nan"][0] == (float, "nan")
    assert got["min_nan"][0] == (float, -0.5)
    assert got["sum_long_null"][:2] == ((type(None), None), 2)
    assert got["count_e"][1] == 0 and got["avg_long_a"][3] == 2
    assert got["max_time"][0][0].__name__ == "datetime"


def test_overflowing_long_sum_raises_on_both_paths(spark, tmp_path):
    from pyspark.errors import ArithmeticException

    # the second overflows only on the way: its final sum fits a long.
    # One file, so one partition: Catalyst's running sum meets the rows
    # in order and raises (merging per-file partials could skip it).
    for k, values in enumerate(((2 ** 62, 2 ** 62, 5),
                                (2 ** 62, 2 ** 62, -(2 ** 62)))):
        store = EventStore(spark, str(tmp_path / f"ev{k}"))
        store.ingest(spark.createDataFrame(
            [{"stream_name": "s", "payload": json.dumps({"l": v})}
             for v in values]).coalesce(1))
        for cap in (10000, 1):
            engine = ProjectionEngine(store)
            engine.register("sum", NativeReducer("sum", _TYPED["long"]))
            engine.register("count", NativeReducer("count"))
            with arrow_batch_rows(spark, cap):
                with pytest.raises(ArithmeticException, match="OVERFLOW"):
                    engine.advance("sum")
                assert engine.projection("sum").processed == 0
                assert engine.advance("count").current_value == 3


@contextlib.contextmanager
def ansi(spark, on):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(on).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_running_long_sum_overflow_matches_a_from_zero_fold(spark, tmp_path):
    """Two one-event deltas of 2**62: the merged running sum leaves the
    long range. With ANSI on it is the projection's error, state kept,
    as a fresh engine's from-zero fold raises ARITHMETIC_OVERFLOW; with
    ANSI off it wraps to the fresh engine's value. Both the one-batch
    path and the aggregate path (an unlimited Arrow batch skips the
    one-batch path)."""
    from pyspark.errors import ArithmeticException

    for on in (True, False):
        for cap in (10000, 0):
            store = EventStore(spark, str(tmp_path / f"ev{on}{cap}"))
            engine = ProjectionEngine(store)
            engine.register("sum", NativeReducer("sum", _TYPED["long"]))
            engine.register("count", NativeReducer("count"))
            with ansi(spark, on), arrow_batch_rows(spark, cap):
                for _ in range(2):
                    store.ingest_rows([{"stream_name": "s",
                                        "payload": json.dumps({"l": 2**62})}])
                    errors = engine.advance_all()
                fresh = ProjectionEngine(store)
                fresh.register("sum", NativeReducer("sum", _TYPED["long"]))
                if on:
                    assert set(errors) == {"sum"}
                    assert "ARITHMETIC_OVERFLOW" in str(errors["sum"])
                    proj = engine.projection("sum")
                    assert (proj.current_value, proj.processed) == (2**62, 1)
                    with pytest.raises(ArithmeticException,
                                       match="ARITHMETIC_OVERFLOW"):
                        fresh.advance("sum")
                else:
                    assert errors == {}
                    assert engine.value("sum") == -(2**63)
                    assert fresh.advance("sum").current_value == -(2**63)
                assert engine.value("count") == 2


def test_stream_name_literals_are_quoted(spark, tmp_path):
    """Stream names with a quote, a backslash and a backtick select their
    own rows on every fold path."""
    from photon_spark.projections.engine import _sql_string

    names = ["it's", "back\\slash", "tick`s", "a\\'b", "%_x"]
    for name in names:
        assert spark.sql(f"SELECT {_sql_string(name)}").first()[0] == name
    store = EventStore(spark, str(tmp_path / "ev"))
    store.ingest_rows([{"stream_name": n, "payload": json.dumps({"l": i})}
                       for i, n in enumerate(names, 1) for _ in range(i)])
    for cap in (10000, 1):
        engine = ProjectionEngine(store)
        for name in names:
            engine.register(f"n{name}", NativeReducer("count"),
                            stream_name=name)
            engine.register(f"s{name}", PyReducer(fn=lambda st, ev: st + 1),
                            stream_name=name, initial_value=0)
            engine.register(f"a{name}", AssociativeReducer(
                fold=lambda st, ev: st + 1, merge=lambda x, y: x + y,
                zero=0), stream_name=name, initial_value=0)
        with arrow_batch_rows(spark, cap):
            assert engine.advance_all() == {}
        for i, name in enumerate(names, 1):
            assert [engine.value(f"{t}{name}") for t in "nsa"] == [i] * 3
