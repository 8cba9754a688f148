"""Event store tests — mirror the reference's component/integration facts
(SURVEY.md §5): ingest round-trip, order_id monotonicity, cold-replay counts,
replay determinism, export line-count parity, point lookup, deletes."""

import gzip
import glob
import json
import time

import pytest
from pyspark.sql import functions as F

from photon_spark.events import EventStore
from photon_spark.streaming.tuning import drain

CHATTER = {
    "id": "dbd6eecf-8f5c-42aa-8aa8-1b2172d53c71",
    "text": "substitutable",
    "textanalysis": {
        "aggregateSentiment": 40,
        "keyphrases": [{"phrase": "substitutable", "count": 1}],
    },
}


def make_events(spark, n, stream="chatter"):
    rows = [(stream, "chatter-event", "request://chatter", f"local-{i}",
             None, json.dumps(CHATTER)) for i in range(n)]
    return spark.createDataFrame(
        rows, "stream_name string, event_type string, service_id string, "
              "local_id string, schema_tag string, payload string")


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "events"))


def test_ingest_roundtrip_and_order_id(store, spark):
    # integration_test.clj:31-41 — payload intact, event_time ≈ now,
    # order_id ≈ now*1000*1000 (epoch-ms * 1000).
    before_ms = int(time.time() * 1000)
    assert store.ingest(make_events(spark, 4)) == 4
    rows = store.read_cold("chatter").collect()
    assert len(rows) == 4
    payload = json.loads(rows[0]["payload"])
    assert payload == CHATTER
    oids = [r["order_id"] for r in rows]
    assert oids == sorted(oids) and len(set(oids)) == 4
    assert oids[0] >= before_ms * 1000

    # monotonic across batches
    store.ingest(make_events(spark, 2))
    oids2 = [r["order_id"] for r in store.read_cold("chatter").collect()]
    assert oids2 == sorted(oids2) and len(set(oids2)) == 6


def test_cold_replay_counts_and_determinism(store, spark):
    # integration_test.clj:42-64 — counts advance; stream_test.clj:77-101 —
    # two identical replays agree.
    store.ingest(make_events(spark, 4))
    assert store.read_cold().count() == 4
    store.ingest(make_events(spark, 9))
    assert store.read_cold().count() == 13
    assert store.read_cold().count() == store.read_cold().count()


def test_from_and_limit(store, spark):
    store.ingest(make_events(spark, 10))
    rows = store.read_cold("chatter").collect()
    mid = rows[5]["order_id"]
    tail = store.read_cold("chatter", from_=mid).collect()
    assert [r["order_id"] for r in tail] == [r["order_id"] for r in rows[5:]]
    assert store.read_cold("chatter", limit=3).count() == 3


def test_stream_isolation_and_all(store, spark):
    # projections.clj:111-112 — stream-scoped reads see no foreign events.
    store.ingest(make_events(spark, 3, stream="a"))
    store.ingest(make_events(spark, 5, stream="b"))
    assert store.read_cold("a").count() == 3
    assert store.read_cold("b").count() == 5
    assert store.read_cold().count() == 8
    assert store.streams() == ["a", "b"]


def test_pushdown_reaches_scan(store, spark):
    # Scale check: stream + order_id predicates must prune at the source.
    store.ingest(make_events(spark, 20, stream="a"))
    store.ingest(make_events(spark, 20, stream="b"))
    plan = (store.read_cold("a", from_=1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan or "stream_name" in plan
    assert "PushedFilters" in plan and "order_id" in plan


def test_point_lookup(store, spark):
    store.ingest(make_events(spark, 5))
    rows = store.read_cold("chatter").collect()
    target = rows[2]
    got = store.event("chatter", target["order_id"])
    assert got is not None and got["local_id"] == target["local_id"]
    assert store.event("chatter", 1) is None


def test_export_line_count(store, spark, tmp_path):
    # export_test.clj:40-58 — 10 stored events ⇒ 10 gzipped JSON lines.
    store.ingest(make_events(spark, 10))
    out = str(tmp_path / "export")
    assert store.export_stream("chatter", out) == 10
    lines = []
    for part in glob.glob(out + "/part-*.json.gz"):
        with gzip.open(part, "rt") as fh:
            lines += [ln for ln in fh if ln.strip()]
    assert len(lines) == 10
    assert json.loads(json.loads(lines[0])["payload"]) == CHATTER


def test_export_shards_above_threshold_and_roundtrips(store, spark,
                                                      tmp_path):
    # Above shard_threshold the export range-shards by order_id (several
    # gzip parts, each internally ordered); below it, photon's one-file
    # semantics hold. Both shapes must import back losslessly.
    store.ingest(make_events(spark, 60, stream="big"))
    store.ingest(make_events(spark, 5, stream="small"))

    small = str(tmp_path / "small")
    assert store.export_stream("small", small, shard_threshold=20) == 5
    assert len(glob.glob(small + "/part-*.json.gz")) == 1

    big = str(tmp_path / "big")
    assert store.export_stream("big", big, shard_threshold=20) == 60
    parts = sorted(glob.glob(big + "/part-*.json.gz"))
    assert len(parts) == 3
    all_lines = []
    for part in parts:
        with gzip.open(part, "rt") as fh:
            ids = [json.loads(ln)["order_id"] for ln in fh if ln.strip()]
        assert ids == sorted(ids)  # within-shard order_id order
        all_lines += ids
    assert len(all_lines) == 60 and len(set(all_lines)) == 60

    for path, want in ((small, 5), (big, 60)):
        name = store.import_stream(path)
        assert store.read_cold(name).count() == want


def test_import_with_name_dedupe(store, spark, tmp_path):
    store.ingest(make_events(spark, 3, stream="imported"))
    src = tmp_path / "imported.json"
    src.write_text("\n".join(json.dumps({"payload": json.dumps(CHATTER),
                                         "event_type": "chatter-event"})
                             for _ in range(4)))
    name = store.import_stream(str(src))
    assert name == "imported-0"
    assert store.read_cold("imported-0").count() == 4


def test_deletes(store, spark):
    store.ingest(make_events(spark, 4, stream="a"))
    store.ingest(make_events(spark, 2, stream="b"))
    victim = store.read_cold("a").collect()[0]
    store.delete_event("a", victim["order_id"])
    assert store.read_cold("a").count() == 3
    assert store.event("a", victim["order_id"]) is None
    store.delete_stream("a")
    assert store.streams() == ["b"]
    store.clean()
    assert not store._exists()


def test_expire_retention(spark, tmp_path):
    import os
    from photon_spark.events import EventStore
    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    df = spark.createDataFrame([("s1", str(i)) for i in range(30)],
                               "stream_name string, local_id string")
    store.ingest(df)
    ids = sorted(r["order_id"] for r in store.read_all().collect())
    cutoff = ids[10]  # raw order_id cutoff drops exactly the first 10
    assert store.expire(cutoff) == 10
    left = sorted(r["order_id"] for r in store.read_all().collect())
    assert left == ids[10:]
    assert store.expire(cutoff) == 0  # idempotent


def test_compact_one_file_per_stream(spark, tmp_path):
    import os
    from pyspark.sql import functions as SF
    from photon_spark.events import EventStore
    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    for b in range(4):  # 4 micro-batch appends over 2 streams
        store.ingest(spark.createDataFrame(
            [(f"s{i % 2}", str(b * 100 + i)) for i in range(10)],
            "stream_name string, local_id string"))
    before = sorted((r["stream_name"], r["local_id"], r["order_id"])
                    for r in store.read_all().collect())
    n_files_before = sum(1 for _, _, fs in os.walk(store.path)
                         for f in fs if f.endswith(".parquet"))
    assert n_files_before > 2  # one append each = small-file population
    assert store.compact() == 2  # one file per stream partition
    after = sorted((r["stream_name"], r["local_id"], r["order_id"])
                   for r in store.read_all().collect())
    assert after == before  # byte-for-byte event survival
    # compacted files are order_id-sorted within each stream
    for s in ("s0", "s1"):
        got = [r["order_id"] for r in
               store.spark.read.parquet(store.path)
               .where(SF.col("stream_name") == s).collect()]
        assert got == sorted(got)


def test_empty_store_reads(spark, tmp_path):
    import os
    from photon_spark.events import EventStore
    store = EventStore(spark, os.path.join(str(tmp_path), "none"))
    assert store.max_order_id() == 0
    assert store.read_cold().count() == 0
    assert store.streams() == []
    assert store.expire(10**15) == 0  # no data → nothing to expire


# ---------------------------------------------------------- backend formats

def test_pluggable_backend_formats(spark, tmp_path):
    """S2 storage protocol: the same store surface over parquet / ORC /
    JSON-lines backends — identical contents, lookups, deletes, compaction,
    and streaming replay (reference: pluggable photon.db backends,
    README.adoc:104-111)."""
    import pyspark.sql.functions as F
    from photon_spark.streaming.replay import read_hot_cold

    stores = {}
    for fmt in EventStore.FORMATS:
        st = EventStore(spark, str(tmp_path / f"ev_{fmt}"), fmt=fmt)
        assert st.ingest(make_events(spark, 12, stream="s1")) == 12
        assert st.ingest(make_events(spark, 5, stream="s2")) == 5
        stores[fmt] = st

    base = None
    for fmt, st in stores.items():
        got = [(r["stream_name"], r["local_id"], r["payload"])
               for r in st.read_cold().collect()]
        assert len(got) == 17, fmt
        if base is None:
            base = got
        else:  # identical contents in identical order across backends
            assert got == base, fmt

        # event_time round-trips at full precision (json needs the explicit
        # µs timestampFormat): two reads agree exactly
        t1 = [r["event_time"] for r in st.read_all().orderBy("order_id").collect()]
        t2 = [r["event_time"] for r in st.read_all().orderBy("order_id").collect()]
        assert t1 == t2 and all(t is not None for t in t1), fmt

        first = st.read_cold("s1", limit=1).first()
        assert st.event("s1", first["order_id"])["local_id"] == first["local_id"]
        st.delete_event("s1", first["order_id"])
        assert st.read_cold("s1").count() == 11, fmt
        assert st.compact() == 2, fmt  # one file per stream partition

        # streaming replay over the same backend
        w = (read_hot_cold(st).groupBy().count()
             .writeStream.format("memory").queryName(f"bk_{fmt}")
             .outputMode("complete"))
        drain(w, spark, timeout_sec=120)
        assert spark.sql(f"SELECT * FROM bk_{fmt}").first()["count"] == 16, fmt


def test_multi_writer_ingest_no_collision(spark, tmp_path):
    # Two uncoordinated writer handles on one store: writer-id sub-ranges
    # of the per-ms counter keep order_ids globally unique and each
    # writer's own sequence monotonic, even though neither handle ever
    # sees the other's high-water mark (each caches only its own).
    path = str(tmp_path / "events")
    w0 = EventStore(spark, path, writer_id=0, n_writers=2)
    w1 = EventStore(spark, path, writer_id=1, n_writers=2)
    seen, per_writer = [], {0: [], 1: []}
    for rnd in range(3):  # interleave: w0, w1, w0, w1, ...
        for w, st in ((0, w0), (1, w1)):
            n = st.ingest(make_events(spark, 7, stream=f"s{w}"))
            assert n == 7
            ids = [r["order_id"] for r in
                   st.read_cold(f"s{w}").collect()]
            per_writer[w] = sorted(ids)
    all_ids = [r["order_id"] for r in w0.read_all().collect()]
    assert len(all_ids) == 42
    assert len(set(all_ids)) == 42  # no collisions across writers
    # each id's counter position sits inside its writer's sub-range
    for w in (0, 1):
        assert all(w * 500 <= oid % 1000 < (w + 1) * 500
                   for oid in per_writer[w]), per_writer[w]
    # per-writer batches stayed monotonic: replay order == ingest order
    for w, st in ((0, w0), (1, w1)):
        replay = [r["local_id"] for r in
                  st.read_cold(f"s{w}").orderBy("order_id").collect()]
        assert replay == [f"local-{i}" for i in range(7)] * 3


def test_multi_writer_dense_batch_spills_within_subrange(spark, tmp_path):
    # A batch denser than the writer's per-ms slot width spills into the
    # SAME writer's slots of later ms values — never into a neighbor's
    # sub-range.
    st = EventStore(spark, str(tmp_path / "ev"), writer_id=3, n_writers=4)
    st.ingest(make_events(spark, 600))  # width is 250 slots/ms
    ids = sorted(r["order_id"] for r in st.read_all().collect())
    assert len(set(ids)) == 600
    assert all(750 <= oid % 1000 < 1000 for oid in ids)
    assert ids[-1] == st.max_order_id()


def test_writer_id_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="out of range"):
        EventStore(spark, str(tmp_path / "x"), writer_id=2, n_writers=2)
    with pytest.raises(ValueError, match="n_writers"):
        EventStore(spark, str(tmp_path / "y"), n_writers=0)


def test_csv_backend_provenance_and_null_payload_roundtrip(spark, tmp_path):
    """The flat CSV backend must keep two distinctions the other
    backends get natively: the provenance STRUCT round-trips through
    its on-disk JSON encoding, and a NULL payload stays distinguishable
    from an empty-string payload (the \\N sentinel)."""
    from pyspark.sql import Row
    from photon_spark.events import PROVENANCE_TYPE
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    prov = Row(service_id="svc", local_id="42", relationship_type="parent")
    schema = T.StructType([
        T.StructField("stream_name", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("provenance", PROVENANCE_TYPE),
    ])
    batch = spark.createDataFrame(
        [("s", "", prov), ("s", None, None), ("s", "x,y\nz\"q\"", prov)],
        schema)
    st = EventStore(spark, str(tmp_path / "ev_csv"), fmt="csv")
    assert st.ingest(batch) == 3
    rows = st.read_cold("s").orderBy("order_id").collect()
    assert [r["payload"] for r in rows] == ["", None, 'x,y\nz"q"']
    assert rows[0]["provenance"]["relationship_type"] == "parent"
    assert rows[1]["provenance"] is None
    assert rows[2]["provenance"]["service_id"] == "svc"
    # delete-rewrite keeps the encoding stable (second encode/decode)
    st.delete_event("s", rows[0]["order_id"])
    left = st.read_cold("s").orderBy("order_id").collect()
    assert [r["payload"] for r in left] == [None, 'x,y\nz"q"']
    assert left[1]["provenance"]["local_id"] == "42"


def test_event_store_rename_free_rewrite_cycle(spark, tmp_path):
    """Object-store portability of the maintenance paths: a full
    delete-event → delete-stream → expire → compact → clean cycle never
    calls os.rename; the only os.replace targets are the one-line
    ``_generation`` pointer (the atomic-PUT analogue) and the
    multi-writer marker. And the durable multi-writer marker SURVIVES
    every rewrite — the old rename protocol silently erased it,
    re-opening the ordered-resume guard it exists to hold closed."""
    import os

    import photon_spark.events as ev_mod

    path = str(tmp_path / "store")
    store = ev_mod.EventStore(spark, path, n_writers=2, writer_id=0)
    df = spark.createDataFrame(
        [("a", "t", str(i)) for i in range(6)]
        + [("b", "t", str(i)) for i in range(4)],
        "stream_name string, event_type string, local_id string")
    assert store.ingest(df) == 10
    marker = os.path.join(path, store._MULTI_WRITER_MARKER)
    assert os.path.exists(marker)

    replaced = []
    real_replace = os.replace

    def no_rename(*a, **k):
        raise AssertionError(f"os.rename called on {a}")

    def tracked_replace(src, dst):
        replaced.append(os.path.basename(dst))
        return real_replace(src, dst)

    orig = (ev_mod.os.rename, ev_mod.os.replace)
    ev_mod.os.rename, ev_mod.os.replace = no_rename, tracked_replace
    try:
        first_a = store.read_cold("a").first()["order_id"]
        store.delete_event("a", first_a)
        assert store.read_cold("a").count() == 5
        assert os.path.exists(marker), "marker erased by delete_event"
        store.delete_stream("b")
        assert store.streams() == ["a"]
        cut = store.read_cold("a").collect()[2]["order_id"]
        assert store.expire(cut) == 2
        assert store.read_cold("a").count() == 3
        assert store.compact() == 1
        assert store.read_cold("a").count() == 3
        assert os.path.exists(marker), "marker erased by maintenance"
        store.clean()
        assert store.read_all().count() == 0
        assert os.path.exists(marker), "marker erased by clean"
        # a fresh ingest after clean starts writing into the live gen
        assert store.ingest(df.limit(3).repartition(1)) == 3
        assert store.read_all().count() == 3
    finally:
        ev_mod.os.rename, ev_mod.os.replace = orig
    assert set(replaced) <= {"_generation",
                             os.path.basename(marker)}, replaced
    # the fresh single-writer probe handle still sees the durable fact
    probe = ev_mod.EventStore(spark, path)
    assert probe.ever_multi_writer()


def test_generation_pointer_is_nonce_unique_dir(spark, tmp_path):
    """Concurrent-maintenance safety: every rewrite targets a
    NONCE-UNIQUE generation dir whose full name is what the pointer
    commits — two maintainers racing to ordinal k+1 own disjoint dirs,
    so a loser's files can never interleave into the committed
    generation. Also pins: an orphaned same-ordinal dir is never read,
    and the next commit sweeps it."""
    import os

    import photon_spark.events as ev_mod

    path = str(tmp_path / "store")
    store = ev_mod.EventStore(spark, path)
    df = spark.createDataFrame(
        [("a", "t", str(i)) for i in range(4)],
        "stream_name string, event_type string, local_id string")
    store.ingest(df)
    first = store.read_cold("a").first()["order_id"]
    store.delete_event("a", first)
    with open(os.path.join(path, "_generation")) as f:
        name1 = f.read().strip()
    # the pointer holds a FULL dir name: ordinal + nonce
    assert name1.startswith("gen=1-") and os.path.isdir(
        os.path.join(path, name1))
    # a racing loser's dir at the SAME ordinal is inert: never read
    orphan = os.path.join(path, "gen=1-deadbeefcafe")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.txt"), "w") as f:
        f.write("not parquet")
    assert store.read_all().count() == 3
    # a second rewrite advances the ordinal with a fresh nonce
    nxt = store.read_cold("a").first()["order_id"]
    store.delete_event("a", nxt)
    with open(os.path.join(path, "_generation")) as f:
        name2 = f.read().strip()
    assert name2.startswith("gen=2-") and name2 != name1
    assert store.read_all().count() == 2
    assert sorted(n for n in os.listdir(path)
                  if n.startswith("gen=")) == [name2]


def test_ingest_rows_driver_stamped_append(spark, tmp_path):
    """Driver-known rows (post_event, __config__ DDL) are stamped on the
    driver and appended, by a pyarrow file write on a parquet store and
    by one Spark job on the others: the same envelope on every backend,
    slots continuing the arithmetic high-water mark, the same validation
    and the durable multi-writer marker."""
    import pyspark.sql.functions as F

    full = {"stream_name": "s", "event_type": "e", "service_id": "svc",
            "local_id": "x", "schema_tag": "v1", "payload": '{"k": 1}',
            "provenance": {"service_id": "a", "local_id": "b",
                           "relationship_type": "c"}}
    for fmt in EventStore.FORMATS:
        st = EventStore(spark, str(tmp_path / f"ev_{fmt}"), fmt=fmt)
        st.ingest(make_events(spark, 3, stream="s"))
        assert st.ingest_rows([full, {"stream_name": "t"}]) == 2
        assert st.ingested == 5
        rows = (st.read_all().orderBy("order_id")
                .withColumn("ms", F.unix_millis("event_time")).collect())
        oids = [r["order_id"] for r in rows]
        assert len(set(oids)) == 5 and oids == sorted(oids), fmt
        assert st.max_order_id() == oids[-1]
        assert EventStore(spark, st.path, fmt=fmt).max_order_id() == oids[-1]
        got, empty = rows[3].asDict(recursive=True), rows[4]
        assert {k: got[k] for k in full} == full, fmt
        assert got["ms"] == got["order_id"] // 1000
        assert (empty["stream_name"], empty["payload"],
                empty["provenance"]) == ("t", None, None), fmt

    st = EventStore(spark, str(tmp_path / "ev"))
    with pytest.raises(ValueError, match="event_typ"):
        st.ingest_rows([{"stream_name": "s", "event_typ": "oops"}])
    with pytest.raises(ValueError, match="stream_name"):
        st.ingest_rows([{"payload": "{}"}])
    assert st.ingest_rows([]) == 0 and not st._exists()

    w1 = EventStore(spark, str(tmp_path / "mw"), writer_id=1, n_writers=2)
    w1.ingest_rows([{"stream_name": "s"}])
    assert EventStore(spark, w1.path).ever_multi_writer()
    assert 500 <= w1.max_order_id() % 1000 < 1000


def test_generation_commit_refuses_stale_pointer(tmp_path):
    """A rewrite that lost the race to another commit raises and drops
    its own directory instead of publishing over the winner (whose
    sweep may already have deleted part of it)."""
    import os

    from photon_spark import generations

    path = str(tmp_path / "t")
    a, b = generations.next_name(1), generations.next_name(1)
    for n in (a, b):
        os.makedirs(os.path.join(path, n))
    generations.commit(path, a, "")
    assert generations.live(path) == (1, a)
    with pytest.raises(RuntimeError, match="another rewrite"):
        generations.commit(path, b, "")
    assert generations.live(path) == (1, a)
    assert sorted(os.listdir(path)) == ["_generation", a]
