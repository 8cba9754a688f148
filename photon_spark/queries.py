"""Driver-contract queries: photon-surface operators (SURVEY.md §2)
expressed over the testdata tables, each with a DuckDB oracle.

The testdata ``events`` table is the photon-event analogue (FIXTURES.md §B):
``event_type`` plays stream_name, ``event_id`` plays order_id, ``ts`` plays
event_time, ``props`` plays payload. Every Spark query aliases computed
columns to the exact oracle column names (driver hashes sort columns by
name).

Floating-point policy: aggregate doubles are rounded (sum→2dp, avg→6dp) in
BOTH engines so partial-aggregation order cannot flip the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.projections.engine import (AssociativeReducer,
                                             ProjectionEngine, PyReducer)
from photon_spark.streaming.tuning import drain


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The testdata parquet uses TIMESTAMP(NANOS). Spark ≤4.0 reads it as an
    # epoch-ns long via the nanosAsLong legacy conf; Spark 4.1 dropped that
    # path and surfaces TIMESTAMP_NTZ at µs precision — the same truncation
    # DuckDB applies (its epoch_ns() of a µs read is the ns long ⌊ns/1000⌋·
    # 1000; verified equal to unix_micros·1000 on the driver tables). We keep
    # the ns-long contract end-to-end (photon's own event_time is an epoch
    # long too, streams.clj:296): whatever type the reader produced, every
    # timestamp column is normalized to an epoch-ns long here, so downstream
    # integer time arithmetic is engine- and version-stable.
    # Construction is memoized per (session, file stamp) — see
    # relations.plan_memo; the conf pinning happens inside read_base on
    # the first (miss) read, i.e. before any read it could influence.
    from photon_spark.relations import _stamp, plan_memo, read_base
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    return plan_memo(
        spark, ("t_norm", path, _stamp(path)),
        lambda: _normalize_ts(read_base(spark, sf_dir, name)))


def _t_pruned(spark: SparkSession, sf_dir: str, name: str,
              bounds: dict) -> DataFrame:
    """``_t`` plus scan-prunable time-range bounds. ``bounds`` maps a
    timestamp column to a half-open ``(lo_ns, hi_ns)`` window (either
    end None). The predicate is applied to the RAW reader column BEFORE
    the epoch-ns normalization, so it reaches the parquet scan as a
    PushedFilter — row-group/file pruning at 100 TB. Filtering after
    ``_t`` sits above the unix_micros projection, which no reader can
    push; the output relation is identical either way (bounds must be
    µs-aligned — every repo constant is second-aligned — so the
    raw-typed compare is exactly the ns-long compare)."""
    from photon_spark.relations import _stamp, plan_memo, read_base
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    bkey = tuple(sorted((c, lo, hi) for c, (lo, hi) in bounds.items()))
    return plan_memo(
        spark, ("t_pruned", path, _stamp(path), bkey),
        lambda: _t_pruned_build(spark, sf_dir, name, bounds))


def _t_pruned_build(spark: SparkSession, sf_dir: str, name: str,
                    bounds: dict) -> DataFrame:
    from photon_spark.relations import read_base
    df = read_base(spark, sf_dir, name)
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}

    def _lit(ns: int, typ: str):
        if typ == "long":  # Spark ≤4.0 legacy nanosAsLong read
            return F.lit(ns)
        if ns % 1000:
            raise ValueError(f"bound {ns} is not µs-aligned")
        from datetime import datetime, timezone
        dt = datetime.fromtimestamp(ns // 1_000_000_000,
                                    tz=timezone.utc).replace(tzinfo=None)
        micros = (ns // 1000) % 1_000_000
        s = dt.strftime("%Y-%m-%d %H:%M:%S") + f".{micros:06d}"
        # literal typed exactly like the column: no cast lands on the
        # column side, so the compare stays pushdown-eligible
        kw = "TIMESTAMP_NTZ" if typ == "timestamp_ntz" else "TIMESTAMP"
        return F.expr(f"{kw} '{s}'")

    for col, (lo, hi) in bounds.items():
        typ = types[col]
        if lo is not None:
            df = df.where(F.col(col) >= _lit(lo, typ))
        if hi is not None:
            df = df.where(F.col(col) < _lit(hi, typ))
    return _normalize_ts(df)


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize every timestamp column to an epoch-ns long (see _t's
    rationale) — shared by batch readers and streaming foreachBatch
    maintenance jobs that receive the raw parquet schema."""
    for fld in df.schema.fields:
        if fld.dataType.typeName() in ("timestamp", "timestamp_ntz"):
            df = df.withColumn(
                fld.name,
                (F.unix_micros(F.col(fld.name).cast("timestamp"))
                 * F.lit(1000)).cast("long"))
    return df


# --------------------------------------------------------------------------
# R1/F2/F3 — cold replay with from/limit (streams.clj:340-366)
# --------------------------------------------------------------------------

def q_cold_replay(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .where(F.col("event_id") >= 100)
            .orderBy("event_id")
            .limit(200)
            .select("event_id", "event_type", "user_id",
                    F.round("value", 2).alias("value")))


SQL_COLD_REPLAY = """
SELECT event_id, event_type, user_id, round(value, 2) AS value
FROM events WHERE event_id >= 100 ORDER BY event_id LIMIT 200
"""


def q_stream_contents(spark, sf_dir):
    # E5 stream-contents endpoint: fixed limit 50 of one stream
    # (api.clj:90-101, handler.clj:264-269).
    return (_t(spark, sf_dir, "events")
            .where(F.col("event_type") == "purchase")
            .orderBy("event_id")
            .limit(50)
            .select("event_id", "user_id", F.round("value", 2).alias("value")))


SQL_STREAM_CONTENTS = """
SELECT event_id, user_id, round(value, 2) AS value
FROM events WHERE event_type = 'purchase' ORDER BY event_id LIMIT 50
"""


#: epoch-ns of 2024-01-02T00:00:00 (naive/UTC)
_FROM_NS = 1_704_153_600_000_000_000


def q_time_range_count(spark, sf_dir):
    # F2 range predicate on time (streams.clj:60-64) — partial replay
    # count. The bound binds to the raw reader column via _t_pruned so
    # it reaches the parquet scan as a PushedFilter.
    return (_t_pruned(spark, sf_dir, "events", {"ts": (_FROM_NS, None)})
            .agg(F.count(F.lit(1)).alias("n_events")))


SQL_TIME_RANGE_COUNT = f"""
SELECT count(*) AS n_events FROM events WHERE epoch_ns(ts) >= {_FROM_NS}
"""


# --------------------------------------------------------------------------
# R4 — point lookup (streams.clj:322)
# --------------------------------------------------------------------------

def q_point_lookup(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .where(F.col("event_id") == 42)
            .select("event_id", "event_type", "user_id",
                    F.round("value", 2).alias("value"), "props"))


SQL_POINT_LOOKUP = """
SELECT event_id, event_type, user_id, round(value, 2) AS value, props
FROM events WHERE event_id = 42
"""


# --------------------------------------------------------------------------
# A6/A8/E1 — __streams__ built-in projection: per-stream totals, distinct
# streams, per-(stream, version) buckets (default_projs.clj:8-26)
# --------------------------------------------------------------------------

def q_streams_totals(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .groupBy(F.col("event_type").alias("stream_name"))
            .agg(F.count(F.lit(1)).alias("total_events")))


SQL_STREAMS_TOTALS = """
SELECT event_type AS stream_name, count(*) AS total_events
FROM events GROUP BY event_type
"""


def q_distinct_streams(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .select(F.col("event_type").alias("stream_name")).distinct())


SQL_DISTINCT_STREAMS = "SELECT DISTINCT event_type AS stream_name FROM events"


def q_stream_version_totals(spark, sf_dir):
    # photon buckets per (stream, schema version); version analogue = k mod 5
    # from the JSON payload — exercises JSON extraction at the scan.
    k = F.get_json_object("props", "$.k").cast("int")
    return (_t(spark, sf_dir, "events")
            .groupBy(F.col("event_type").alias("stream_name"),
                     (k % 5).alias("schema_version"))
            .agg(F.count(F.lit(1)).alias("total_events")))


SQL_STREAM_VERSION_TOTALS = """
SELECT event_type AS stream_name,
       json_extract_string(props, '$.k')::INT % 5 AS schema_version,
       count(*) AS total_events
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A6 (inference half) — sampled JSON schema inference per (stream, version)
# (default_projs.clj:8-26; pinned semantics schema_test.clj:38-71):
# first-10-per-bucket + deterministic md5 ~2% sample, per-field type/mode/
# count. The version analogue is derived from the payload (k mod 3, with
# the 0 bucket left untagged to exercise __unversioned__).
# --------------------------------------------------------------------------

def q_schema_inference(spark, sf_dir):
    from photon_spark.schema_infer import infer_schema_fields
    k = F.get_json_object("props", "$.k").cast("int")
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("event_type").alias("stream_name"),
                  F.when(k % 3 == 0, F.lit(None))
                   .otherwise(F.concat(F.lit("v"), (k % 3).cast("string")))
                   .alias("schema_tag"),
                  F.col("event_id").alias("order_id"),
                  F.col("props").alias("payload")))
    return infer_schema_fields(ev)


SQL_SCHEMA_INFERENCE = """
WITH tagged AS (
  SELECT event_type AS stream_name,
         CASE WHEN (json_extract_string(props, '$.k')::INT % 3) = 0
              THEN '__unversioned__'
              ELSE 'v' || (json_extract_string(props, '$.k')::INT % 3)
         END AS schema_tag,
         event_id AS order_id, props AS payload
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY stream_name, schema_tag
                               ORDER BY order_id) AS rn
  FROM tagged
), sampled AS (
  SELECT * FROM ranked
  WHERE rn <= 10 OR substring(md5(CAST(order_id AS VARCHAR)), 1, 2) < '05'
), buckets AS (
  SELECT stream_name, schema_tag, count(*) AS n_samples
  FROM sampled GROUP BY 1, 2
), fields AS (
  SELECT stream_name, schema_tag, payload,
         unnest(json_keys(payload)) AS field_path
  FROM sampled
), typed AS (
  SELECT stream_name, schema_tag, field_path,
         CASE json_type(payload, '$.' || field_path)
              WHEN 'UBIGINT' THEN 'long' WHEN 'BIGINT' THEN 'long'
              WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
              WHEN 'BOOLEAN' THEN 'boolean' WHEN 'OBJECT' THEN 'object'
              WHEN 'ARRAY' THEN 'array' ELSE 'null' END AS t
  FROM fields
)
SELECT t.stream_name, t.schema_tag, t.field_path,
       coalesce(min(t.t) FILTER (WHERE t.t <> 'null'), 'null') AS field_type,
       count(*) AS n_present,
       CASE WHEN count(*) >= b.n_samples THEN 'required' ELSE 'optional'
       END AS mode,
       b.n_samples
FROM typed t
JOIN buckets b USING (stream_name, schema_tag)
GROUP BY t.stream_name, t.schema_tag, t.field_path, b.n_samples
"""


# --------------------------------------------------------------------------
# A6 (typed-view half, SURVEY §1.4) — the inferred schema applied back to
# the payload: a per-stream TYPED DataFrame via from_json
# --------------------------------------------------------------------------

def q_typed_view_stats(spark, sf_dir):
    """Typed per-stream view: infer the 'purchase' stream's payload
    schema (sampled — first-10 + ~2%, exactly the schema_inference
    row), apply it back over the FULL stream as a real struct column
    (schema_infer.typed_view), and aggregate the TYPED values — count,
    parse failures, and min/max/sum of the typed ``k`` field. The
    oracle re-derives the same numbers with explicit JSON casts, so a
    hash match proves the inferred struct parses every payload to the
    same typed values a hand-written extraction would (the §1.4
    "typed views materialized per stream once schema is inferred"
    promise; chatter fixture common.clj:15-35, schema pins
    schema_test.clj:41-71).

    Plan: the inference pass is sample-bounded; the typed read is one
    map-side from_json projection + one 1-row aggregate — no shuffle
    beyond the aggregate's."""
    from photon_spark.schema_infer import typed_view
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("event_type").alias("stream_name"),
                  F.lit(None).cast("string").alias("schema_tag"),
                  F.col("event_id").alias("order_id"),
                  F.col("props").alias("payload")))
    tv = typed_view(ev, "purchase")
    k = F.col("payload_typed.k")
    return tv.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("payload_typed").isNull().cast("long"))
         .alias("n_parse_fail"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.sum(k).alias("k_sum"))


SQL_TYPED_VIEW_STATS = """
SELECT count(*) AS n_events,
       CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT)
         AS n_parse_fail,
       min(json_extract_string(props, '$.k')::BIGINT) AS k_min,
       max(json_extract_string(props, '$.k')::BIGINT) AS k_max,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
         AS k_sum
FROM events WHERE event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# A1 — projections: native-reducer tier (count/sum/avg compile to Catalyst
# aggregates) and the serial ordered-fold kernel itself
# --------------------------------------------------------------------------

def q_projection_count_all(spark, sf_dir):
    # register("count_all", count) over __all__ — the flagship demo
    # (README.adoc:31-47, projections.clj:96-110).
    return _t(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("current_value"))


SQL_PROJECTION_COUNT_ALL = "SELECT count(*) AS current_value FROM events"


def q_projection_sum_by_stream(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .groupBy(F.col("event_type").alias("stream_name"))
            .agg(F.round(F.sum("value"), 2).alias("sum_value"),
                 F.round(F.avg("value"), 6).alias("avg_value"),
                 F.max("event_id").alias("last_event")))


SQL_PROJECTION_SUM_BY_STREAM = """
SELECT event_type AS stream_name,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 6) AS avg_value,
       max(event_id) AS last_event
FROM events GROUP BY 1
"""


def q_projection_assoc_fold(spark, sf_dir):
    """Associative reducer tier (the distributed user-fold path): per-stream
    (count, cent-sum) dict folded in parallel partition partials, merged in
    partition order on the driver. Value parity: each event's cents are
    rounded independently (Decimal(repr(v*100)) HALF_UP == DuckDB
    round(v*100) — the shortest-repr rule), so the integer sums are
    associative and the hash cannot depend on partition order."""
    from decimal import ROUND_HALF_UP, Decimal

    events = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("order_id"),
        F.col("event_type").alias("stream_name"), "value")

    def fold(st, ev):
        cents = int(Decimal(repr(ev["value"] * 100))
                    .quantize(Decimal("1"), ROUND_HALF_UP))
        n, c = st.get(ev["stream_name"], (0, 0))
        st = dict(st)
        st[ev["stream_name"]] = (n + 1, c + cents)
        return st

    def merge(a, b):
        out = dict(a)
        for k, (n, c) in b.items():
            n0, c0 = out.get(k, (0, 0))
            out[k] = (n0 + n, c0 + c)
        return out

    proj = ProjectionEngine.fold_dataframe(
        AssociativeReducer(fold=fold, merge=merge, zero={}),
        events, initial_value={}, name="assoc_fold")
    rows = [(k, v[0], v[1]) for k, v in sorted(proj.current_value.items())]
    out = spark.createDataFrame(
        rows, "stream_name string, n_events long, sum_cents long")
    return out.select(
        "stream_name", "n_events",
        F.round(F.col("sum_cents") / F.lit(100.0), 2).alias("sum_value"))


SQL_PROJECTION_ASSOC_FOLD = """
SELECT event_type AS stream_name, count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
FROM events GROUP BY event_type
"""


def q_projection_fold_stats(spark, sf_dir):
    """The real serial ordered-fold kernel (PyReducer tier) over the events
    table, state = (processed, last_event, sum); SQL-checkable because the
    pieces are order-insensitive, while the fold itself runs strictly in
    order_id order over the Arrow-collected, driver-sorted delta."""
    events = (_t(spark, sf_dir, "events")
              .select(F.col("event_id").alias("order_id"), "value"))
    proj = ProjectionEngine.fold_dataframe(
        PyReducer(
            fn=lambda st, ev: (st[0] + 1, ev["order_id"], st[2] + ev["value"]),
            source="tuple-fold"),
        events,  # order established by the fold's own driver-side sort
        initial_value=(0, 0, 0.0), name="fold_stats")
    n, last, total = proj.current_value
    return spark.createDataFrame(
        [(n, last, round(total, 2))],
        "processed long, last_event long, sum_value double")


SQL_PROJECTION_FOLD_STATS = """
SELECT count(*) AS processed, max(event_id) AS last_event,
       round(sum(value), 2) AS sum_value
FROM events
"""


# --------------------------------------------------------------------------
# A1 streaming — the hot path: StreamingProjectionRunner folds the events
# (ingested into a real EventStore) through a Structured Streaming
# subscription; the order-sensitive checksum pins the exact fold order
# (streams.clj:241-274 continuous projections; :368-397 hot-cold)
# --------------------------------------------------------------------------

_EVENT_STORES: dict[str, str] = {}


def _staged_event_store(spark, sf_dir):
    """Process-scoped staged EventStore over ``{sf_dir}/events`` —
    ingested ONCE per corpus (arrival order = parquet file order =
    event_id order; the checksum oracles fail loudly if that order is
    ever violated). The streaming-fold gate queries measure the FOLD,
    not the store build: bench min-of-N reports fold-only cost because
    every run after the first reuses the staged store. Checkpoints are
    NOT shared — each query invocation gets a fresh one, so a drain
    always replays the full store."""
    import tempfile
    from photon_spark.events import EventStore

    key = os.path.abspath(sf_dir)
    path = _EVENT_STORES.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="photon_spark_store_"),
                            "events")
        store = EventStore(spark, path)
        src = (_t(spark, sf_dir, "events")
               .select(F.col("event_type").alias("stream_name"),
                       F.col("event_id").cast("string").alias("local_id")))
        store.ingest(src)
        _EVENT_STORES[key] = path
        return store
    return EventStore(spark, path)


def q_projection_streaming_fold(spark, sf_dir):
    """Fold the staged EventStore's events (order_id stamped in event_id
    order; see _staged_event_store) via the streaming runner. State =
    (processed, first, last, sum(rank*event_id)) — the rank-weighted
    checksum changes under ANY deviation from total event_id order, so a
    hash match proves the streaming fold ran in order with no gap/dup."""
    import shutil
    import tempfile
    from photon_spark.streaming.stateful import StreamingProjectionRunner

    base = tempfile.mkdtemp(prefix="photon_spark_streamq_")
    try:
        store = _staged_event_store(spark, sf_dir)

        def fold(st, ev):
            eid = int(ev["local_id"])
            n = st[0] + 1
            return (n, st[1] if st[0] else eid, eid, st[3] + n * eid)

        engine = ProjectionEngine(store)
        engine.register("stream_fold",
                        PyReducer(fn=fold, source="stream_fold",
                                  columns=("local_id",)),
                        initial_value=(0, 0, 0, 0))
        runner = StreamingProjectionRunner(
            engine, checkpoint_dir=os.path.join(base, "ckpt"))
        runner.run(available_now=True)
        n, first, last, checksum = engine.value("stream_fold")
        return spark.createDataFrame(
            [(int(n), int(first), int(last), int(checksum))],
            "processed long, first_event long, last_event long, "
            "order_checksum long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_PROJECTION_STREAMING_FOLD = """
SELECT count(*) AS processed,
       min(event_id) AS first_event,
       max(event_id) AS last_event,
       CAST(sum(rn * event_id) AS BIGINT) AS order_checksum
FROM (SELECT event_id,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM events)
"""


def q_projection_keyed_streaming_fold(spark, sf_dir):
    """The DISTRIBUTED hot path: per-stream ordered folds via
    applyInPandasWithState (streaming/keyed.py) over a real EventStore
    subscription — state lives in the executors' state store, keys fold
    in parallel, no event reaches the driver. The per-key rank-weighted
    checksum hash-matches the batch oracle only if every key saw its
    events exactly once, in order — the distributed analogue of
    `projection_streaming_fold`'s serial order proof (photon's
    `__streams__` per-stream built-in, default_projs.clj:8-26, at Spark
    scale)."""
    import shutil
    import tempfile
    from photon_spark.streaming.keyed import keyed_ordered_checksums
    from photon_spark.streaming.replay import read_hot_cold

    base = tempfile.mkdtemp(prefix="photon_spark_keyedq_")
    try:
        store = _staged_event_store(spark, sf_dir)

        got: dict[str, tuple[int, int]] = {}

        def sink(bdf, _bid):
            for r in bdf.collect():
                got[r["stream_name"]] = (r["processed"], r["checksum"])

        # state partitions sized from the store's volume: the per-key
        # checksum is partition-count independent by construction
        drain(keyed_ordered_checksums(read_hot_cold(store))
              .writeStream.foreachBatch(sink)
              .option("checkpointLocation", os.path.join(base, "ckpt"))
              .outputMode("update"),
              spark, store.path, timeout_sec=300)
        rows = [(k, int(v[0]), int(v[1])) for k, v in sorted(got.items())]
        return spark.createDataFrame(
            rows, "stream_name string, processed long, checksum long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_PROJECTION_KEYED_STREAMING_FOLD = """
SELECT event_type AS stream_name, count(*) AS processed,
       CAST(sum(rn * event_id) AS BIGINT) AS checksum
FROM (SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY event_id) AS rn
      FROM events)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# F5 — keyed lookup into projection state (api.clj:61-64): per-user state
# map, query one key
# --------------------------------------------------------------------------

def q_projection_value_lookup(spark, sf_dir):
    # state = {user_id: count}; look up one key. Expressed natively as a
    # grouped count + key filter (the state-table read path).
    return (_t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("user_id") == 7)
            .select("user_id", "n"))


SQL_PROJECTION_VALUE_LOOKUP = """
SELECT user_id, count(*) AS n FROM events WHERE user_id = 7 GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cold_replay": q_cold_replay,
    "stream_contents": q_stream_contents,
    "time_range_count": q_time_range_count,
    "point_lookup": q_point_lookup,
    "streams_totals": q_streams_totals,
    "distinct_streams": q_distinct_streams,
    "stream_version_totals": q_stream_version_totals,
    "schema_inference": q_schema_inference,
    "typed_view_stats": q_typed_view_stats,
    "projection_count_all": q_projection_count_all,
    "projection_sum_by_stream": q_projection_sum_by_stream,
    "projection_assoc_fold": q_projection_assoc_fold,
    "projection_fold_stats": q_projection_fold_stats,
    "projection_streaming_fold": q_projection_streaming_fold,
    "projection_keyed_streaming_fold": q_projection_keyed_streaming_fold,
    "projection_value_lookup": q_projection_value_lookup,
}

ORACLES: dict[str, str] = {
    "cold_replay": SQL_COLD_REPLAY,
    "stream_contents": SQL_STREAM_CONTENTS,
    "time_range_count": SQL_TIME_RANGE_COUNT,
    "point_lookup": SQL_POINT_LOOKUP,
    "streams_totals": SQL_STREAMS_TOTALS,
    "distinct_streams": SQL_DISTINCT_STREAMS,
    "stream_version_totals": SQL_STREAM_VERSION_TOTALS,
    "schema_inference": SQL_SCHEMA_INFERENCE,
    "typed_view_stats": SQL_TYPED_VIEW_STATS,
    "projection_count_all": SQL_PROJECTION_COUNT_ALL,
    "projection_sum_by_stream": SQL_PROJECTION_SUM_BY_STREAM,
    "projection_assoc_fold": SQL_PROJECTION_ASSOC_FOLD,
    "projection_fold_stats": SQL_PROJECTION_FOLD_STATS,
    "projection_streaming_fold": SQL_PROJECTION_STREAMING_FOLD,
    "projection_keyed_streaming_fold": SQL_PROJECTION_KEYED_STREAMING_FOLD,
    "projection_value_lookup": SQL_PROJECTION_VALUE_LOOKUP,
}

from photon_spark import (queries_curation, queries_enrich,  # noqa: E402
                          queries_governance, queries_layout,
                          queries_northstar, queries_pipeline,
                          queries_ranking, queries_relational,
                          queries_select, queries_sketch, queries_store,
                          queries_substring, queries_training)

for _m in (queries_northstar, queries_pipeline, queries_curation,
           queries_enrich, queries_select, queries_relational,
           queries_sketch, queries_ranking, queries_layout,
           queries_governance, queries_substring, queries_training,
           queries_store):
    QUERIES.update(_m.QUERIES)
    ORACLES.update(_m.ORACLES)

# Plan-construction memo: registry entries whose construction is
# provably side-effect-free reuse their built plan across calls within
# one session (relations.memo_query — zero construction jobs, no
# RDD-backed nodes, inputs strictly under sf_dir). Execution is
# untouched: every action still computes from the parquet inputs.
from photon_spark.relations import memo_query  # noqa: E402

QUERIES = {n: memo_query(n, q) for n, q in QUERIES.items()}
