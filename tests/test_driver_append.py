"""The driver-side parquet append of ``EventStore.ingest_rows``.

A parquet store appends driver-known rows (``post_event``, ``__config__``
DDL events) as one pyarrow file per stream, renamed into place from a
hidden name, with no Spark job. These tests pin that its files read back
exactly as the Spark writer's do, through every read path, the live
runner and the rewrite paths; and that stream names Spark cannot store
are refused on both ingest paths."""

import json
import os
import types

import pyarrow.parquet as pq
import pytest

from photon_spark import events as events_mod
from photon_spark.api import PhotonAPI
from photon_spark.events import EventStore, escape_path_name
from photon_spark.projections import NativeReducer, ProjectionEngine, PyReducer
from photon_spark.relations import _jobs_submitted
from photon_spark.streaming import StreamingProjectionRunner

#: stream names whose partition directories need Spark's escaping
ODD_STREAMS = ["a b", "x/y", "k=v", "p%20q", "ünï", "q?#*", "a:b"]

PROV = {"service_id": "svc", "local_id": None, "relationship_type": "r"}


def _rows():
    rows = []
    for i, s in enumerate(ODD_STREAMS):
        rows += [
            {"stream_name": s, "event_type": "e", "service_id": f"svc{i}",
             "local_id": f"l{i}", "schema_tag": "v1",
             "payload": json.dumps({"v": i}), "provenance": PROV},
            {"stream_name": s, "payload": None},
            {"stream_name": s, "payload": "",
             "provenance": ("a", None, None)},
        ]
    return rows


def _jobs(spark, fn, *args):
    before = _jobs_submitted(spark.sparkContext)
    out = fn(*args)
    return out, _jobs_submitted(spark.sparkContext) - before


def _typed(rows):
    """Rows as dicts of (Python type, value), nested structs included."""
    def cell(v):
        if isinstance(v, dict):
            return {k: cell(x) for k, x in v.items()}
        return type(v).__name__, v
    return [{k: cell(v) for k, v in r.asDict(recursive=True).items()}
            for r in rows]


def _partition_dirs(store):
    return sorted(n for n in os.listdir(store._data_dir())
                  if n.startswith("stream_name="))


@pytest.fixture()
def twins(spark, tmp_path, monkeypatch):
    """The same rows, stamped at the same clock, into a parquet store
    through the driver append and through the Spark writer."""
    clock = types.SimpleNamespace(time=lambda: 1_700_000_000.123456)
    monkeypatch.setattr(events_mod, "time", clock)
    driver = EventStore(spark, str(tmp_path / "driver"))
    spark_written = EventStore(spark, str(tmp_path / "spark"))
    monkeypatch.setattr(spark_written, "_append_parquet",
                        spark_written._append_spark)
    for st in (driver, spark_written):
        assert st.ingest_rows(_rows()) == len(_rows())
        assert st.ingest_rows([{"stream_name": "b", "payload": "{}"}]) == 1
    return driver, spark_written


def test_driver_append_reads_back_as_the_spark_writer(spark, twins):
    driver, spark_written = twins
    assert _partition_dirs(driver) == _partition_dirs(spark_written)
    assert "stream_name=x%2Fy" in _partition_dirs(driver)
    assert "stream_name=p%2520q" in _partition_dirs(driver)

    def reads(st):
        out = {"all": _typed(st.read_all().orderBy("order_id").collect()),
               "streams": st.streams(),
               "max": EventStore(spark, st.path).max_order_id()}
        for s in ODD_STREAMS:
            cold = st.read_cold(s).collect()
            out[s] = _typed(cold)
            out[s, "from", "limit"] = _typed(
                st.read_cold(s, from_=cold[1]["order_id"], limit=1).collect())
            out[s, "event"] = _typed([st.event(s, cold[0]["order_id"])])
        out["micros"] = [r[0] for r in st.read_all().selectExpr(
            "unix_micros(event_time)").collect()]
        return out

    got = reads(driver)
    assert got == reads(spark_written)
    assert got["streams"] == sorted(ODD_STREAMS + ["b"])
    assert set(got["micros"]) == {1_700_000_000_123_000}
    first = got["a b"]
    assert first[0]["provenance"] == {"service_id": ("str", "svc"),
                                      "local_id": ("NoneType", None),
                                      "relationship_type": ("str", "r")}
    assert first[0]["event_time"][0] == "datetime"
    assert first[0]["order_id"][0] == "int"
    assert (first[1]["payload"], first[2]["payload"]) == (
        ("NoneType", None), ("str", ""))
    assert first[1]["provenance"] == ("NoneType", None)


def test_driver_append_file_layout(spark, twins):
    """The file of one stream: the Spark writer's columns in schema
    order, snappy, with statistics, sorted by order_id, and a
    ``part-<uuid>.snappy.parquet`` name."""
    driver, _ = twins
    part = os.path.join(driver._data_dir(), "stream_name=b")
    (name,) = os.listdir(part)
    assert name.startswith("part-") and name.endswith(".snappy.parquet")
    meta = pq.ParquetFile(os.path.join(part, name)).metadata
    schema = meta.schema.to_arrow_schema()
    assert schema.names == [f.name for f in events_mod.EVENT_SCHEMA.fields
                            if f.name != "stream_name"]
    assert str(schema.field("event_time").type) == "timestamp[us, tz=UTC]"
    assert str(schema.field("order_id").type) == "int64"
    col = meta.row_group(0).column(schema.names.index("order_id"))
    assert col.compression == "SNAPPY" and col.statistics.has_min_max
    oids = pq.read_table(os.path.join(
        driver._data_dir(), f"stream_name={escape_path_name('a b')}"))[
        "order_id"].to_pylist()
    assert oids == sorted(oids) and len(oids) == 3


def test_escape_path_name_matches_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils
    for value in ["".join(map(chr, range(1, 256))), "ünï€😀", *ODD_STREAMS]:
        assert escape_path_name(value) == utils.escapePathName(value)


def test_post_event_runs_no_spark_job(spark, tmp_path):
    api = PhotonAPI(spark, str(tmp_path / "ev"))
    oid = 0
    for i in range(3):
        _, jobs = _jobs(spark, api.post_event, "s", json.dumps({"i": i}))
        assert jobs == 0
        oid = api.store.max_order_id()
    # a value of the wrong type raises before any file exists, and the
    # high-water mark stays arithmetic: the next post runs no job either
    with pytest.raises(TypeError):
        api.post_event("s", 5)
    _, jobs = _jobs(spark, api.post_event, "s", json.dumps({"i": 3}))
    assert jobs == 0 and api.store.max_order_id() > oid
    oid = api.store.max_order_id()
    assert api.get_event("s", oid)["payload"] == json.dumps({"i": 3})
    assert api.streams() == [{"stream": "s", "total-events": 4}]
    assert not any(n.startswith(".") for n in os.listdir(
        os.path.join(api.store._data_dir(), "stream_name=s")))


def test_leftover_hidden_file_is_invisible(spark, tmp_path):
    """A temp file left by a crashed append (here: not even parquet) is
    read by neither a batch read nor a live runner, also where it is the
    only file of its stream's directory."""
    store = EventStore(spark, str(tmp_path / "ev"))
    store.ingest_rows([{"stream_name": "s"}] * 2)
    for stream in ("s", "ghost"):
        part = os.path.join(store._data_dir(), f"stream_name={stream}")
        os.makedirs(part, exist_ok=True)
        with open(os.path.join(part, ".part-x.snappy.parquet.tmp"),
                  "w") as f:
            f.write("not parquet")
    assert store.read_all().count() == 2
    assert store.streams() == ["s"]

    engine = ProjectionEngine(store)
    engine.register("c", NativeReducer("count"), initial_value=0)
    runner = StreamingProjectionRunner(
        engine, checkpoint_dir=str(tmp_path / "ckpt"))
    query = runner.run(available_now=False)
    try:
        assert runner.await_processed("c", 2, timeout_sec=60)
        store.ingest_rows([{"stream_name": "s"}])
        assert runner.await_processed("c", 3, timeout_sec=60)
        assert query.exception() is None
    finally:
        query.stop()
    assert engine.value("c") == 3


def test_live_runner_folds_driver_appends_exactly_once(spark, tmp_path):
    """Posts made while a runner is live are each folded once, in
    order_id order; a restart from the same checkpoint, which may
    replay the last uncommitted batch, folds nothing twice."""
    store = EventStore(spark, str(tmp_path / "ev"))
    store.ingest_rows([{"stream_name": "a"}, {"stream_name": "b"}])

    engine = ProjectionEngine(store)
    engine.register("c", NativeReducer("count"), initial_value=0)
    engine.register("oids", PyReducer(
        fn=lambda st, ev: st + [ev["order_id"]], columns=("order_id",)),
        initial_value=[])
    ckpt = str(tmp_path / "ckpt")
    runner = StreamingProjectionRunner(engine, checkpoint_dir=ckpt)
    query = runner.run(available_now=False)
    try:
        assert runner.await_processed("c", 2, timeout_sec=60)
        for i in range(4):
            store.ingest_rows([{"stream_name": "ab"[i % 2],
                                "payload": str(i)}])
        assert runner.await_processed("c", 6, timeout_sec=60)
    finally:
        query.stop()
    want = [r["order_id"] for r in store.read_cold().collect()]
    assert engine.value("c") == 6 and engine.value("oids") == want
    StreamingProjectionRunner(engine, checkpoint_dir=ckpt).run(
        available_now=True, timeout_sec=120)
    assert engine.value("c") == 6 and engine.value("oids") == want


def test_rewrites_keep_rows_of_both_writers(spark, tmp_path):
    """compact and delete_event over Spark-written and driver-written
    files keep every other row."""
    from tests.test_events import make_events

    store = EventStore(spark, str(tmp_path / "ev"))
    store.ingest(make_events(spark, 3, stream="s"))
    store.ingest_rows([{"stream_name": "s", "payload": "p"},
                       {"stream_name": "t", "payload": None,
                        "provenance": PROV}])
    store.ingest(make_events(spark, 2, stream="t"))
    store.ingest_rows([{"stream_name": "s", "payload": ""}])
    before = _typed(store.read_all().orderBy("order_id").collect())
    assert len(before) == 8
    store.compact()
    assert _typed(store.read_all().orderBy("order_id").collect()) == before
    gone = before[3]["order_id"][1]
    store.delete_event("s", gone)
    assert _typed(store.read_all().orderBy("order_id").collect()) == [
        r for r in before if r["order_id"][1] != gone]
    store.ingest_rows([{"stream_name": "t"}])
    assert store.read_all().count() == 8


@pytest.mark.parametrize("bad", ["", "__HIVE_DEFAULT_PARTITION__"])
def test_unstorable_stream_names_are_refused(spark, tmp_path, bad):
    """Spark writes an empty stream name, and the default-partition
    sentinel, to the default partition and reads it back as NULL: both
    ingest paths refuse it (and bulk ingest a NULL) before writing."""
    from tests.test_events import make_events

    for fmt in ("parquet", "json"):
        store = EventStore(spark, str(tmp_path / fmt), fmt=fmt)
        with pytest.raises(ValueError, match="stream_name"):
            store.ingest_rows([{"stream_name": "ok"},
                               {"stream_name": bad}])
        assert not store._exists()
    store = EventStore(spark, str(tmp_path / "bulk"))
    for df in (make_events(spark, 3, stream=bad),
               make_events(spark, 2).union(make_events(spark, 1, None))):
        with pytest.raises(ValueError, match="stream_name"):
            store.ingest(df)
        assert not store._exists()
    assert store.ingest(make_events(spark, 2)) == 2
    assert store.streams() == ["chatter"]
