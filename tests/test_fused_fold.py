"""The fused fold: one delta read advances every projection.

A fused fold must equal separate per-projection folds on every tier, on
both callers (the pull path's ``advance_all`` and the streaming runner's
``_apply_batch``), and must keep the failure isolation, the idle-stream
lower bound, the one-collect rule and the store-version skip."""

import json
import os

import pytest

from photon_spark.api import PhotonAPI
from photon_spark.events import EventStore
from photon_spark.projections import (
    AssociativeReducer, NativeReducer, ProjectionEngine, PyReducer)
from photon_spark.projections import engine as engine_mod
from photon_spark.relations import _jobs_submitted
from photon_spark.streaming import StreamingProjectionRunner

from tests.test_projections import arrow_batch_rows

V = "get_json_object(payload, '$.v')"


def _fail_at_3(st, ev):
    v = json.loads(ev["payload"] or "{}").get("v")
    if v == 3:
        raise ValueError("boom at 3")
    return st + [ev["order_id"]]


def _register(engine):
    """Every tier on mixed streams: ``idle`` gets events only in the
    first ingest, ``boom`` fails part-way through stream ``a``."""
    engine.register("sum_all", NativeReducer("sum", V), initial_value=0)
    engine.register("avg_a", NativeReducer("avg", V), stream_name="a")
    engine.register("count_b", NativeReducer("count"), stream_name="b")
    engine.register("assoc_b", AssociativeReducer(
        fold=lambda st, ev: (st[0] + 1, st[1] + len(ev["local_id"])),
        merge=lambda x, y: (x[0] + y[0], x[1] + y[1]), zero=(0, 0)),
        stream_name="b", initial_value=(0, 0))
    engine.register("serial_all", PyReducer(
        fn=lambda st, ev: st + [ev["order_id"]], columns=("order_id",)),
        initial_value=[])
    engine.register("boom", PyReducer(fn=_fail_at_3), stream_name="a",
                    initial_value=[])
    engine.register("idle", PyReducer(fn=lambda st, ev: st + 1),
                    stream_name="idle", initial_value=0)


def _post(store, stream, values):
    store.ingest_rows([{"stream_name": stream, "local_id": f"{stream}-{i}",
                        "payload": None if v is None else json.dumps({"v": v})}
                       for i, v in enumerate(values)])


PHASES = [
    [("a", [1, None, 2]), ("b", [10, 20]), ("idle", [None])],
    [("a", [None, 3, 4]), ("b", [30]), ("c", [5])],
]


def _outcome(engine):
    return {n: (p.current_value, p.processed, p.last_event, p.status)
            for n, p in engine.registry.items()}


def _separate(store):
    engine = ProjectionEngine(store)
    _register(engine)
    for name in list(engine.registry):
        engine.advance(name)
    return engine


def _check_tiers(got):
    assert got["boom"][3] == "failed" and got["boom"][1] == 4
    assert got["idle"][:2] == (1, 1)
    assert got["sum_all"][0] == 75 and got["count_b"][0] == 3
    assert got["avg_a"][0] == pytest.approx(2.5)  # NULLs carry no weight


def test_fused_pull_equals_separate_folds(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    fused = ProjectionEngine(store)
    _register(fused)
    for phase in PHASES:
        for stream, values in phase:
            _post(store, stream, values)
        assert fused.advance_all() == {}
        assert _outcome(fused) == _outcome(_separate(store))
    _check_tiers(_outcome(fused))
    # the idle projection does not hold the next read's lower bound down
    assert engine_mod._resume(fused.projection("idle")) \
        == store.max_order_id()


def test_fused_micro_batch_equals_separate_folds(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    live = ProjectionEngine(store)
    _register(live)
    runner = StreamingProjectionRunner(
        live, checkpoint_dir=str(tmp_path / "ck"))
    for phase in PHASES:
        for stream, values in phase:
            _post(store, stream, values)
        runner.run(available_now=True, timeout_sec=120)
        assert _outcome(live) == _outcome(_separate(store))
    _check_tiers(_outcome(live))
    assert runner.batches == 2


def _jobs(spark, fn, *args):
    before = _jobs_submitted(spark.sparkContext)
    out = fn(*args)
    return out, _jobs_submitted(spark.sparkContext) - before


def test_unchanged_store_version_reads_nothing(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    _post(store, "a", [1, 2])
    engine = ProjectionEngine(store)
    _register(engine)
    _, first = _jobs(spark, engine.advance_all)
    assert first >= 1
    assert _jobs(spark, engine.advance_all) == ({}, 0)
    assert _jobs(spark, engine.advance, "sum_all")[1] == 0
    # a projection registered later is read for on its own
    engine.register("late", NativeReducer("count"), initial_value=0)
    assert _jobs(spark, engine.advance_all)[1] >= 1
    assert engine.value("late") == 2


def test_second_store_handle_appends_are_folded(spark, tmp_path):
    """Another handle's appends change the store version although this
    handle's arithmetic high-water mark does not move."""
    path = os.path.join(str(tmp_path), "events")
    api = PhotonAPI(spark, path)
    api.post_projection("cnt", "lambda st, ev: st + 1", stream_name="s",
                        initial_value=0)
    api.post_event("s", payload="{}")
    assert api.projection_value("cnt") == 1
    mark = api.store.max_order_id()
    other = EventStore(spark, path)
    other.ingest_rows([{"stream_name": "s", "payload": "{}"}] * 2)
    assert api.store.max_order_id() == mark
    assert api.projection_value("cnt") == 3
    assert {d["stream"]: d["total-events"] for d in api.streams()}["s"] == 3


def test_failing_reducer_fails_only_its_own_projection(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    _post(store, "a", [1, 2])
    engine = ProjectionEngine(store)

    def fold(st, ev):
        if ev["local_id"] == "bad":
            raise ValueError("assoc boom")
        return st + 1

    engine.register("assoc", AssociativeReducer(
        fold=fold, merge=lambda x, y: x + y, zero=0), initial_value=0)
    engine.register("native_bad", NativeReducer("sum", "no_such_column"))
    engine.register("native", NativeReducer("count"), initial_value=0)
    engine.register("serial", "lambda st, ev: st + 1", initial_value=0)
    errors = engine.advance_all()
    assert set(errors) == {"native_bad"}
    assert engine.projection("native_bad").processed == 0
    assert (engine.value("assoc"), engine.value("native"),
            engine.value("serial")) == (2, 2, 2)

    store.ingest_rows([{"stream_name": "a", "local_id": "bad"},
                       {"stream_name": "a", "local_id": "ok"}])
    before = engine.projection("assoc")
    kept = (before.current_value, before.processed, before.last_event)
    errors = engine.advance_all()
    assert set(errors) == {"native_bad", "assoc"}
    assert "assoc boom" in str(errors["assoc"])
    assert (before.current_value, before.processed,
            before.last_event) == kept
    assert (engine.value("native"), engine.value("serial")) == (4, 4)
    # a failed projection is retried on the next pull, not skipped
    assert set(engine.advance_all()) == {"native_bad", "assoc"}
    with pytest.raises(Exception, match="assoc boom"):
        engine.advance("assoc")


@pytest.fixture()
def collects(spark, monkeypatch):
    """Record (row limit or None, rows) of every Arrow collect."""
    seen = []
    frame = type(spark.range(1))
    real_limit = frame.limit

    def limit(self, n):
        out = real_limit(self, n)
        out._limited = n
        return out

    def recorded(real, rows):
        def collect(self):
            out = real(self)
            seen.append((getattr(self, "_limited", None), rows(out)))
            return out
        return collect

    monkeypatch.setattr(frame, "limit", limit)
    monkeypatch.setattr(frame, "toPandas", recorded(frame.toPandas, len))
    monkeypatch.setattr(frame, "toArrow",
                        recorded(frame.toArrow, lambda t: t.num_rows))
    return seen


def test_collects_stay_bounded_and_add_no_discarded_collect(
        spark, tmp_path, collects):
    """One collect serves both Python tiers. A serial-only collect takes
    no limit it would discard. Past one Arrow batch the associative
    projections fold distributed and the serial ones collect only their
    own rows, so the driver never holds a large associative delta. With
    a native reducer in the fold, one collect of at most one batch
    serves every tier; past one batch it is discarded and the native
    aggregate's row counts pick the serial rows without any limit. The
    engine reads through a second handle, so no fold takes the posting
    handle's hot tail."""
    store = EventStore(spark, str(tmp_path / "ev"))
    _post(store, "a", list(range(6)))
    _post(store, "sec", [0])
    engine = ProjectionEngine(EventStore(spark, store.path))

    def counter():
        return AssociativeReducer(fold=lambda st, ev: st + 1,
                                  merge=lambda x, y: x + y, zero=0)

    engine.register("assoc", counter(), initial_value=0)
    engine.register("serial", "lambda st, ev: st + 1",
                    stream_name="sec", initial_value=0)
    assert engine.advance_all() == {}
    assert collects == [(10001, 7)]              # one collect, both tiers
    with arrow_batch_rows(spark, 4):
        engine.register("serial_all", "lambda st, ev: st + 1",
                        initial_value=0)
        collects.clear()
        engine.advance("serial_all")
        assert collects == [(None, 7)]           # whole, no limit
        engine.register("assoc2", counter(), initial_value=0)
        engine.register("serial", "lambda st, ev: st + 1",
                        stream_name="sec", initial_value=0)
        collects.clear()
        assert engine.advance_all() == {}
        assert collects == [(5, 5), (None, 1)]   # then serial rows only
        engine.unregister("serial_all")
        engine.register("n", NativeReducer("count"), initial_value=0)
        engine.advance("n")
        _post(store, "a", list(range(5)))
        _post(store, "sec", [1])
        collects.clear()
        assert engine.advance_all() == {}
        assert collects == [(5, 5), (None, 1)]   # past a batch: counts
        _post(store, "a", [9])
        collects.clear()
        engine.unregister("assoc")
        engine.unregister("assoc2")
        assert engine.advance_all() == {}
        assert collects == [(5, 1)]              # one collect, native too
    assert [engine.value(n) for n in ("serial", "n")] == [2, 14]
    assert engine.projection("serial").last_event < store.max_order_id()


def test_one_event_fold_is_one_job(spark, tmp_path):
    """A one-event delta folds every tier from one collect: a live
    micro-batch and a pull from the files each submit exactly one Spark
    job, and a pull of the handle's own post, folded from its hot tail,
    none."""
    store = EventStore(spark, str(tmp_path / "ev"))
    _post(store, "a", [1, 2, 3])
    pull, live = ProjectionEngine(store), ProjectionEngine(store)
    for engine in (pull, live):
        engine.register("sum", NativeReducer("sum", f"cast({V} as long)"),
                        initial_value=0)
        engine.register("count_a", NativeReducer("count"), stream_name="a")
        engine.register("assoc", AssociativeReducer(
            fold=lambda st, ev: st + 1, merge=lambda x, y: x + y, zero=0),
            initial_value=0)
        engine.register("serial", PyReducer(
            fn=lambda st, ev: st + [ev["order_id"]], columns=("order_id",)),
            initial_value=[])
    runner = StreamingProjectionRunner(
        live, checkpoint_dir=str(tmp_path / "ck"))
    batch_jobs = []
    apply_batch = runner._apply_batch

    def counted(batch_df, batch_id):
        batch_jobs.append(_jobs(spark, apply_batch, batch_df, batch_id)[1])

    runner._apply_batch = counted
    assert pull.advance_all() == {}
    runner.run(available_now=True, timeout_sec=120)
    _post(store, "b", [4])
    assert _jobs(spark, pull.advance_all) == ({}, 0)
    batch_jobs.clear()
    runner.run(available_now=True, timeout_sec=120)
    assert batch_jobs == [1]
    assert _outcome(pull) == _outcome(live)
    assert [pull.value(n) for n in ("sum", "count_a", "assoc")] == [10, 3, 4]
    # another handle's post is read from the files
    _post(EventStore(spark, store.path), "b", [5])
    assert _jobs(spark, pull.advance_all) == ({}, 1)
    runner.run(available_now=True, timeout_sec=120)
    assert _outcome(pull) == _outcome(live)


def test_get_event_is_one_job(spark, tmp_path):
    """A lookup of the handle's own post answers from its hot tail with
    no Spark job; one of another handle's post reads the files in one."""
    path = os.path.join(str(tmp_path), "events")
    api = PhotonAPI(spark, path)
    api.post_event("s", payload='{"k": 1}', local_id="x")
    oid = api.store.max_order_id()
    ev, jobs = _jobs(spark, api.get_event, "s", oid)
    assert ev["local_id"] == "x" and jobs == 0
    assert api.get_event("s", oid + 1) is None
    other = EventStore(spark, path)
    other.ingest_rows([{"stream_name": "s", "local_id": "y"}])
    ev, jobs = _jobs(spark, api.get_event, "s", other.max_order_id())
    assert ev["local_id"] == "y" and jobs == 1
    assert ev == other.event("s", other.max_order_id())


def test_live_runner_and_pulls_on_one_engine_fold_once(spark, tmp_path):
    """A live runner folding micro-batches on the streaming callback
    thread and pulls folding on the caller's thread share one engine:
    the fold lock makes each event count once, whichever side folds it."""
    api = PhotonAPI(spark, os.path.join(str(tmp_path), "events"))
    api.post_event("s", "{}")
    api.engine.register("c", NativeReducer("count"), initial_value=0)
    runner = StreamingProjectionRunner(
        api.engine, checkpoint_dir=os.path.join(str(tmp_path), "ckpt"))
    query = runner.run(available_now=False)
    try:
        for _ in range(10):
            api.post_event("s", "{}")
            api.projection_value("c")
        n = api.store.read_all().count()
        proj = api.engine.projection("c")
        assert n == 11
        assert api.projection_value("c") == proj.processed == n
    finally:
        query.stop()
