"""Canonical events table: schema, ingest (S1), replay reads (R1/R4),
deletes (D1-D3), distinct streams (A8), export/import (S3/S4).

Reference parity (see SURVEY.md §2.1-2.2, citations into /root/reference):

- S1 ingest stamps server ``event_time`` (ms) and a globally monotonic
  ``order_id = epoch_ms*1000 + n`` with n in [0, 999]
  (src/photon/streams.clj:288-308).
- R1 cold replay = ordered scan with ``from``/``limit``
  (src/photon/streams.clj:340-366).
- R4 point lookup by (stream_name, order_id) (src/photon/streams.clj:322).
- D1-D3 deletes (src/photon/streams.clj:323-324, src/photon/api.clj:131-147).
- S3/S4 export to gzipped JSON-lines / import from JSON
  (src/photon/api.clj:103-186).

Scale design: the table is parquet **partitioned by** ``stream_name`` so
per-stream reads prune partitions, and each partition is written sorted by
``order_id`` so parquet row-group min/max stats make time-range scans
(``order_id >= from``) skip files. Both predicates therefore reach the scan
as PushedFilters — verified in tests via ``explain``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALL_STREAMS = "__all__"
CONFIG_STREAM = "__config__"
SECURITY_STREAM = "__security__"
UNVERSIONED = "__unversioned__"

#: Envelope schema (SURVEY.md §1.4; doc/schemas.md:32-43 in the reference).
PROVENANCE_TYPE = T.StructType([
    T.StructField("service_id", T.StringType()),
    T.StructField("local_id", T.StringType()),
    T.StructField("relationship_type", T.StringType()),
])

EVENT_SCHEMA = T.StructType([
    T.StructField("stream_name", T.StringType(), False),
    T.StructField("event_type", T.StringType()),
    T.StructField("service_id", T.StringType()),
    T.StructField("local_id", T.StringType()),
    T.StructField("schema_tag", T.StringType()),
    T.StructField("provenance", PROVENANCE_TYPE),
    T.StructField("payload", T.StringType()),           # free-form JSON
    T.StructField("event_time", T.TimestampType()),     # server-stamped
    T.StructField("order_id", T.LongType()),            # ts_ms*1000 + n
])

_CLIENT_FIELDS = ["stream_name", "event_type", "service_id", "local_id",
                  "schema_tag", "provenance", "payload"]


def coerce_order_bound(from_: int) -> int:
    """Epoch-ms → order_id-space coercion (×1000), shared by EVERY replay
    bound: batch read_cold, streaming read_hot_cold, and retention expire.
    The two spaces are 1000× apart, so the threshold (10^10..10^14: epoch-ms
    between 2001 and ~5138) is unambiguous for any realistic timestamp; raw
    order_ids pass through untouched. One definition so the batch and
    streaming twins can never diverge on what a time bound means."""
    from_ = int(from_)
    if 10_000_000_000 <= from_ < 100_000_000_000_000:
        from_ *= 1000
    return from_


def _writer_start_slot(base_order_id: int, now_ms: int,
                       writer_id: int, n_writers: int) -> tuple[int, int, int]:
    """First free writer-slot for a batch: returns ``(start_slot, lo,
    width)`` where writer ``writer_id`` owns counter positions
    ``[lo, lo+width)`` of each ms and slot ``k`` encodes as
    ``order_id = (k // width)*1000 + lo + (k % width)``.

    The sub-ranges partition the per-ms 0..999 counter space, so ids from
    different writers are disjoint BY CONSTRUCTION — uniqueness never
    depends on a writer observing the others' high-water marks, which is
    what makes concurrent ingest safe under the reference's encoding
    ceiling (streams.clj:298-301). ``start_slot`` is the smallest own
    slot that is both > ``base_order_id`` and not before the wall
    clock's first slot of ``now_ms``."""
    if not (1 <= n_writers <= 1000):
        raise ValueError("n_writers must be in [1, 1000]")
    if not (0 <= writer_id < n_writers):
        raise ValueError(f"writer_id {writer_id} out of range "
                         f"[0, {n_writers})")
    width = 1000 // n_writers
    lo = writer_id * width
    t = base_order_id + 1          # minimum permitted order_id
    ms_b, off = divmod(t, 1000)
    if off <= lo:
        after_base = ms_b * width
    elif off > lo + width - 1:
        after_base = (ms_b + 1) * width
    else:
        after_base = ms_b * width + (off - lo)
    return max(after_base, now_ms * width), lo, width


def _slot_order_id(slot: int, lo: int, width: int) -> int:
    """order_id of writer slot ``slot`` (see :func:`_writer_start_slot`)."""
    return (slot // width) * 1000 + lo + slot % width


def stamp_events(df: DataFrame, base_order_id: int = 0,
                 partition_offsets: dict[int, int] | None = None,
                 now_ms: int | None = None, writer_id: int = 0,
                 n_writers: int = 1) -> DataFrame:
    """Assign ``event_time`` + monotonic unique ``order_id`` to a batch.

    order_id = unix_millis(event_time) * 1000 + (per-ms counter mod 1000),
    mirroring the reference encoding (streams.clj:298-301) which caps ingest
    at 1000 events/ms of server clock. For batches denser than that we spill
    the counter forward into later-ms slots (monotonicity and uniqueness are
    preserved; the ms prefix then slightly leads the wall clock, which the
    reference accepts too — its counter wraps within one ms).

    ``base_order_id``: max order_id already in the table, so appended batches
    stay globally monotonic across micro-batches (driver-side bookkeeping in
    the streaming ingest path, SURVEY.md §4 custom-work #2).

    ``writer_id``/``n_writers``: concurrent-ingest support. Each writer
    owns a ``1000 // n_writers``-wide sub-range of the per-ms counter
    (see :func:`_writer_start_slot`), so two writers appending to the
    same store can never collide even when their views of the table max
    are stale; each writer's own ids stay monotonic. The default (one
    writer owning the whole 0..999 range) reproduces the single-writer
    formula bit-for-bit.

    Sequence assignment: with ``partition_offsets`` (cumulative row offsets
    per input partition id, as :meth:`EventStore.ingest` computes from one
    counting pass over the cached batch) the global sequence is
    per-partition row_number + offset — fully parallel, the scale path. A
    global dense sequence fundamentally needs that one counting pass;
    without offsets we fall back to a single-partition window (fine for
    small ad-hoc batches only).
    """
    # One driver-evaluated server timestamp per batch (photon stamps the
    # server clock too, streams.clj:296). A LITERAL rather than
    # current_timestamp() makes the stamp DETERMINISTIC for a given
    # (batch, base, now_ms): re-evaluating the plan can never produce
    # different order_ids, which is what lets ingest() maintain the max-
    # order_id high-water mark arithmetically instead of rescanning.
    if now_ms is None:
        now_ms = int(time.time() * 1000)
    df = df.withColumn("event_time", F.timestamp_millis(F.lit(now_ms)))
    if partition_offsets is not None:
        # monotonically_increasing_id = (partitionId << 33) | row-in-
        # partition with consecutive row numbers, so the global sequence is
        # pure projection arithmetic: partition offset + low 33 bits. No
        # window, no sort, no shuffle — the stamp stays map-side.
        off = F.create_map(*[F.lit(x) for pid in sorted(partition_offsets)
                             for x in (pid, partition_offsets[pid])])
        mono = F.monotonically_increasing_id()
        seq = off[F.spark_partition_id()] \
            + mono.bitwiseAND(F.lit((1 << 33) - 1))
    else:
        w = Window.orderBy(F.monotonically_increasing_id())
        seq = F.row_number().over(w).cast("long") - F.lit(1)
    start, lo, width = _writer_start_slot(base_order_id, now_ms,
                                          writer_id, n_writers)
    # integer `div`, not `/`: slots reach ~1.8e15 (ms × width), where
    # double-division floor can misround near exact multiples
    df = (df.withColumn("_slot", F.lit(start).cast("long") + seq)
            .withColumn(
                "order_id",
                F.expr(f"(_slot div {width}) * 1000L + {lo} "
                       f"+ _slot % {width}").cast("long"))
            .drop("_slot"))
    return df.select(*[F.col(c) for c in _CLIENT_FIELDS], "event_time", "order_id")


class EventStore:
    """Append-only event store over a partitioned columnar/row directory.

    The backend format is pluggable — the reference's ``photon.db`` protocol
    point (SURVEY.md §2 S2; H2/Cassandra/Mongo/file backends,
    README.adoc:104-111) maps to Spark's data source API: ``parquet``
    (default), ``orc``, or ``json`` (JSON-lines — the same shape as
    photon's ``.pev`` file backend). Every store operation (ingest, cold
    read, rewrite-delete, compaction, streaming replay) routes through the
    chosen format; the layout (partition by stream_name, sort by order_id)
    is what a Delta/Iceberg table would ZORDER to at 100 TB. Columnar
    formats keep min/max row-group skipping; the JSON backend trades scan
    speed for interop and is the restore target for exported streams.
    """

    FORMATS = ("parquet", "orc", "json", "csv")
    #: durable store-level record that multi-writer ingest has touched
    #: this path (underscore prefix keeps it invisible to Spark's file
    #: listing); once present, order_id-ordered file arrival can no
    #: longer be assumed by anyone, whatever handle they opened
    _MULTI_WRITER_MARKER = "_multi_writer"
    _EXT = {"parquet": ".parquet", "orc": ".orc", "json": ".json",
            "csv": ".csv"}
    #: explicit µs-precision timestamp pattern so the JSON backend
    #: round-trips event_time without truncation
    _TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    #: CSV null sentinel: CSV's native null encoding is the empty
    #: string, which would silently conflate NULL payloads with
    #: legitimately-empty ones — write/read a distinguishable marker
    _CSV_NULL = "\\N"

    def __init__(self, spark: SparkSession, path: str,
                 fmt: str = "parquet", writer_id: int = 0,
                 n_writers: int = 1):
        if fmt not in self.FORMATS:
            raise ValueError(f"unsupported backend format {fmt!r}; "
                             f"one of {self.FORMATS}")
        self.spark = spark
        self.path = path
        self.fmt = fmt
        #: concurrent-ingest identity: this handle stamps order_ids only
        #: inside its own 1000//n_writers-wide sub-range of the per-ms
        #: counter (see stamp_events), so N handles with distinct
        #: writer_ids can append to one store without coordination and
        #: never collide — the reference's single-process design ceiling
        #: (streams.clj:298-301) lifted to multi-writer. CAVEAT: ids are
        #: collision-free but files land in WALL-CLOCK interleave, not
        #: order_id order, so StreamingProjectionRunner (whose resume
        #: filter assumes order_id-ordered arrival) refuses stores that
        #: EVER ingested multi-writer — a durable ``_multi_writer``
        #: marker records the fact on the store itself, so opening a
        #: fresh default single-writer handle cannot bypass the guard.
        if not (1 <= n_writers <= 1000):
            raise ValueError("n_writers must be in [1, 1000]")
        if not (0 <= writer_id < n_writers):
            raise ValueError(f"writer_id {writer_id} out of range "
                             f"[0, {n_writers})")
        self.writer_id = writer_id
        self.n_writers = n_writers
        #: A9 global incoming counter (since construction, mirroring
        #: photon's since-boot atom, streams.clj:290-303).
        self.ingested = 0
        #: max-order_id high-water mark: scanned lazily once, then
        #: maintained arithmetically per ingest (stamping is deterministic,
        #: see stamp_events) and invalidated by the delete/maintenance
        #: paths. With n_writers > 1 this tracks THIS writer's high-water
        #: (concurrent appends by other writers are invisible to it) —
        #: safe, because sub-range disjointness makes uniqueness
        #: independent of cache freshness; only own-monotonicity needs
        #: the own mark.
        self._max_oid: int | None = None

    def ever_multi_writer(self) -> bool:
        """True if ANY handle ever ingested into this store with
        n_writers > 1 — the durable fact a consumer that depends on
        order_id-ordered file arrival must check (this handle's own
        n_writers says nothing about history)."""
        return (self.n_writers > 1
                or os.path.exists(os.path.join(
                    self.path, self._MULTI_WRITER_MARKER)))

    def _mark_multi_writer(self) -> None:
        """Stamp the durable marker on FIRST multi-writer ingest (not at
        construction — a read-only probe handle must not poison the
        store or create its directory as a side effect)."""
        os.makedirs(self.path, exist_ok=True)
        marker = os.path.join(self.path, self._MULTI_WRITER_MARKER)
        if not os.path.exists(marker):
            tmp = marker + f".tmp{self.writer_id}"
            with open(tmp, "w") as f:
                f.write(str(self.n_writers))
            os.replace(tmp, marker)

    def _write_opts(self, writer):
        if self.fmt in ("json", "csv"):
            writer = writer.option("timestampFormat", self._TS_FMT)
        if self.fmt == "csv":
            writer = writer.option("nullValue", self._CSV_NULL)
        return writer.format(self.fmt)

    def _read_opts(self, reader):
        if self.fmt in ("json", "csv"):
            reader = reader.option("timestampFormat", self._TS_FMT)
        if self.fmt == "csv":
            # multiLine: a quoted payload may legally contain newlines;
            # the cost is per-file (not per-line) split granularity —
            # the same scan-cost trade the JSON-lines backend documents
            reader = (reader.option("nullValue", self._CSV_NULL)
                            .option("multiLine", "true"))
        return reader.format(self.fmt)

    # CSV is a FLAT text format: the provenance struct rides as its
    # JSON encoding on disk and is parsed back on read; every other
    # backend stores it natively. Columns are also pinned to the
    # canonical schema order on write because CSV maps columns to the
    # read schema by POSITION, not by name.
    def _disk_schema(self) -> T.StructType:
        if self.fmt != "csv":
            return EVENT_SCHEMA
        return T.StructType([
            T.StructField(f.name,
                          T.StringType() if f.name == "provenance"
                          else f.dataType, f.nullable)
            for f in EVENT_SCHEMA.fields])

    def _encode(self, df: DataFrame) -> DataFrame:
        if self.fmt == "csv":
            df = df.withColumn("provenance", F.to_json("provenance"))
        return df.select([f.name for f in EVENT_SCHEMA.fields
                          if f.name in df.columns])

    def _decode(self, df: DataFrame) -> DataFrame:
        if self.fmt == "csv":
            df = df.withColumn(
                "provenance", F.from_json("provenance", PROVENANCE_TYPE))
        return df

    # ------------------------------------------------------ generations
    # The rewrite paths (delete/expire/compact/clean) commit via a
    # GENERATION POINTER, not directory renames: new data is written to
    # a fresh nonce-unique ``gen=<k+1>-<nonce>`` directory and
    # ``_generation`` (one small file — the atomic-PUT primitive every
    # object store has) is swapped to point at it BY NAME; the old
    # generation is then best-effort deleted. A crash at any point
    # leaves either the old pointer (old data fully intact) or the new
    # pointer (new data fully written first) — never a half-table, and
    # never a POSIX ``os.rename`` of a data directory, which S3/GCS
    # cannot do (the same protocol CdcMergeTable adopted). The nonce
    # makes coordination-free CONCURRENT maintenance safe too: two
    # rewrites racing to ordinal k+1 write disjoint dirs and the
    # pointer swap commits exactly one whole one — files can never
    # interleave (the pre-nonce protocol had both writing mode=
    # overwrite into the same ``gen=k+1``). Generation 0 is the store
    # root itself and a bare-ordinal pointer still resolves to
    # ``gen=<k>``, so stores written before this protocol read
    # unchanged.
    _GEN_FILE = "_generation"

    def _gen_pointer(self) -> tuple[int, str]:
        """(ordinal, directory name) of the live generation; name ``""``
        means the store root (generation 0). The pointer file holds
        either a legacy bare ordinal ``k`` (directory ``gen=k``) or the
        FULL directory name ``gen=<k>-<nonce>``: rewrites give every
        target generation a nonce-unique directory, so two concurrent
        maintainers computing the same next ordinal write to DISJOINT
        dirs and the pointer swap picks exactly one whole directory —
        the loser's files can never interleave into the committed
        generation (they become an inert orphan dir the next rewrite's
        winner, or an operator sweep, may delete; it is never read,
        because reads only ever follow the pointer)."""
        gf = os.path.join(self.path, self._GEN_FILE)
        if not os.path.exists(gf):
            return 0, ""
        with open(gf) as f:
            s = f.read().strip()
        if not s:
            return 0, ""
        try:
            g = int(s)
            return g, ("" if g == 0 else f"gen={g}")
        except ValueError:
            ordinal = int(s.split("=", 1)[1].split("-", 1)[0])
            return ordinal, s

    def _generation(self) -> int:
        return self._gen_pointer()[0]

    def _data_dir(self) -> str:
        name = self._gen_pointer()[1]
        return self.path if not name else os.path.join(self.path, name)

    def _new_gen_name(self, ordinal: int) -> str:
        import uuid
        return f"gen={int(ordinal)}-{uuid.uuid4().hex[:12]}"

    def _set_generation(self, name: str) -> None:
        """Commit a generation by name (``""`` = the root). One atomic
        small-file replace — the object-store PUT primitive."""
        os.makedirs(self.path, exist_ok=True)
        gf = os.path.join(self.path, self._GEN_FILE)
        tmp = gf + f".tmp{self.writer_id}"
        with open(tmp, "w") as f:
            f.write(name or "0")
        os.replace(tmp, gf)

    def _gc_generation(self, name: str) -> None:
        """Best-effort delete of a superseded generation (by directory
        name; ``""`` sweeps the root files). Root-level markers
        (``_multi_writer``, ``_generation``) and live ``gen=`` dirs
        survive a generation-0 sweep — which also fixes the old rename
        protocol silently erasing the multi-writer marker on every
        rewrite."""
        import shutil
        if not name:
            if not os.path.isdir(self.path):
                return
            for n in os.listdir(self.path):
                if n.startswith(("gen=", "_", ".")):
                    continue
                full = os.path.join(self.path, n)
                (shutil.rmtree if os.path.isdir(full)
                 else os.remove)(full)
        else:
            shutil.rmtree(os.path.join(self.path, name),
                          ignore_errors=True)

    # ---------------------------------------------------------------- write
    def _exists(self) -> bool:
        d = self._data_dir()
        return os.path.isdir(d) and any(
            not n.startswith(("gen=", "_", ".")) for n in os.listdir(d))

    def max_order_id(self) -> int:
        if self._max_oid is not None:
            return self._max_oid
        if not self._exists():
            return 0
        row = self.read_all().agg(F.max("order_id").alias("m")).first()
        self._max_oid = row["m"] or 0
        return self._max_oid

    def ingest(self, df: DataFrame) -> int:
        """S1: validate envelope, stamp event_time/order_id, append.

        Returns the number of events written. Missing envelope columns are
        filled with NULL; ``stream_name`` is required (streams.clj:295,
        EventTemplate validation api.clj:36).
        """
        cols = set(df.columns)
        if "stream_name" not in cols:
            raise ValueError("event batch must carry stream_name")
        for c in _CLIENT_FIELDS:
            if c not in cols:
                typ = PROVENANCE_TYPE if c == "provenance" else T.StringType()
                df = df.withColumn(c, F.lit(None).cast(typ))
        # One counting pass over the cached batch yields both N (photon
        # returns it) and per-partition offsets for the parallel global
        # sequence — no single-partition window, no double execution.
        src = df.select(_CLIENT_FIELDS).persist()
        try:
            counts = (src.groupBy(F.spark_partition_id().alias("pid"))
                         .agg(F.count(F.lit(1)).alias("cnt")).collect())
            offsets, acc = {}, 0
            for r in sorted(counts, key=lambda r: r["pid"]):
                offsets[r["pid"]] = acc
                acc += r["cnt"]
            n = acc
            if n == 0:
                # Nothing to stamp or write — and stamp_events cannot
                # build its partition-offset map from zero partitions
                # (empty create_map() has no key type). Reachable via a
                # dedupe pass that drops an entire replayed batch.
                return 0
            if self.n_writers > 1:
                self._mark_multi_writer()
            base = self.max_order_id()
            now_ms = int(time.time() * 1000)
            stamped = stamp_events(src, base, partition_offsets=offsets,
                                   now_ms=now_ms,
                                   writer_id=self.writer_id,
                                   n_writers=self.n_writers)
            # sort includes the partition column: the dynamic-partition
            # writer re-sorts any task holding >1 stream by partition col
            # (unstably), which would silently break the per-file order_id
            # sort; pre-sorting by (stream, order) satisfies the writer's
            # required ordering so no destructive re-sort happens.
            (self._write_opts(
                self._encode(stamped)
                .repartition("stream_name")
                .sortWithinPartitions("stream_name", "order_id")
                .write.mode("append")
                .partitionBy("stream_name"))
             .save(self._data_dir()))
        finally:
            src.unpersist()
        if n:
            # stamp_events assigns slots start..start+n-1 of this writer's
            # sub-range, so the batch max is closed-form — the high-water
            # mark advances without a rescan.
            start, lo, width = _writer_start_slot(
                base, now_ms, self.writer_id, self.n_writers)
            self._max_oid = _slot_order_id(start + n - 1, lo, width)
        self.ingested += n
        return n

    def ingest_rows(self, rows: list[dict]) -> int:
        """S1 for client events already on the driver (one ``post_event``,
        one ``__config__`` DDL event): validate the envelope, stamp
        ``event_time``/``order_id`` on the driver and append in ONE job —
        no counting pass, no shuffle. Bulk DataFrames go through
        :meth:`ingest`; both stamp the same slots for the same base."""
        unknown = set().union(*rows) - set(_CLIENT_FIELDS)
        if unknown:
            raise ValueError(f"unknown event envelope field(s): "
                             f"{sorted(unknown)}; "
                             f"envelope is {_CLIENT_FIELDS}")
        if any(r.get("stream_name") is None for r in rows):
            raise ValueError("event must carry stream_name")
        n = len(rows)
        if n == 0:
            return 0
        if self.n_writers > 1:
            self._mark_multi_writer()
        base = self.max_order_id()
        now_ms = int(time.time() * 1000)
        start, lo, width = _writer_start_slot(base, now_ms, self.writer_id,
                                              self.n_writers)
        prov_fields = [f.name for f in PROVENANCE_TYPE.fields]
        stamped = []
        for slot, row in enumerate(rows, start):
            rec = {c: row.get(c) for c in _CLIENT_FIELDS}
            prov = rec["provenance"]
            if isinstance(prov, dict):
                rec["provenance"] = {f: prov.get(f) for f in prov_fields}
            elif prov is not None:
                rec["provenance"] = dict(zip(prov_fields, prov))
            rec["order_id"] = _slot_order_id(slot, lo, width)
            stamped.append(rec)
        schema = T.StructType(
            [f for f in EVENT_SCHEMA.fields if f.name in _CLIENT_FIELDS]
            + [T.StructField("order_id", T.LongType())])
        # a pandas frame becomes a LocalRelation through Arrow; a list of
        # rows would become a parallelized RDD that needs a Python worker
        import pandas as pd
        df = (self.spark.createDataFrame(
                  pd.DataFrame(stamped, columns=schema.fieldNames()), schema)
              .withColumn("event_time", F.timestamp_millis(F.lit(now_ms))))
        (self._write_opts(
            self._encode(df)
            .sortWithinPartitions("stream_name", "order_id")
            .write.mode("append")
            .partitionBy("stream_name"))
         .save(self._data_dir()))
        self._max_oid = _slot_order_id(start + n - 1, lo, width)
        self.ingested += n
        return n

    # ----------------------------------------------------------------- read
    def read_all(self) -> DataFrame:
        if not self._exists():  # empty store reads as an empty relation
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        # Plan construction is stamp-keyed (relations.plan_memo): any
        # mutation under the data dir (ingest, delete, compaction,
        # generation swap) changes the stamp and rebuilds the plan with
        # a fresh file listing; unchanged stores reuse the constructed
        # plan and still scan the files on every action.
        from photon_spark.relations import _stamp, plan_memo
        data_dir = self._data_dir()

        def build():
            df = self._read_opts(
                self.spark.read.schema(self._disk_schema())).load(data_dir)
            # partitionBy writes stream_name as a directory column;
            # enforce canonical column order.
            return self._decode(df).select(
                [f.name for f in EVENT_SCHEMA.fields])

        return plan_memo(
            self.spark,
            ("event_store_read", data_dir, self.fmt, _stamp(data_dir)),
            build)

    def read_cold(self, stream_name: str = ALL_STREAMS, from_: int = 0,
                  limit: int | None = None, ordered: bool = True) -> DataFrame:
        """R1 cold replay: ordered scan of one stream (or __all__) from a
        lower order_id bound, optional limit (streams.clj:340-366).

        ``from_`` accepts epoch-ms (coerced to the order_id space by ×1000,
        mirroring the reference's extract-date, streams.clj:60-64) or a raw
        order_id. The two spaces are 1000× apart, so the coercion threshold
        (10^14, i.e. ~year 5138 in ms, ~1973 in order_id space) is
        unambiguous for any realistic timestamp.
        """
        df = self.read_all()
        if stream_name != ALL_STREAMS:
            df = df.where(F.col("stream_name") == stream_name)
        if from_:
            df = df.where(F.col("order_id") >= coerce_order_bound(from_))
        # ordered=False lets order-insensitive consumers (the fold engine
        # re-orders via its own range partitioning) skip the global sort.
        if ordered or limit is not None:
            df = df.orderBy("order_id")
        if limit is not None:
            df = df.limit(int(limit))
        return df

    def event(self, stream_name: str, order_id: int):
        """R4 point lookup → Row or None (streams.clj:322, api.clj:17-18)."""
        return (self.read_all()
                .where((F.col("stream_name") == stream_name)
                       & (F.col("order_id") == int(order_id)))
                .first())

    def streams(self) -> list[str]:
        """A8 distinct stream names (streams.clj:163-165)."""
        return sorted(r[0] for r in
                      self.read_all().select("stream_name").distinct().collect())

    # --------------------------------------------------------------- delete
    def _rewrite(self, keep_predicate) -> None:
        """Rewrite the table keeping rows matching the predicate.

        Parquet has no DELETE; with Delta/Iceberg this is a metadata-level
        ``DELETE WHERE`` (partition drop for whole streams — SURVEY.md §2.5
        deliberately does NOT reproduce the reference's delete-in-a-loop,
        api.clj:131-147). Commit = write the survivors to the NEXT
        generation directory, swap the one-file generation pointer
        (atomic PUT), then best-effort delete the old generation — no
        data-directory rename anywhere, so the protocol runs unchanged
        on an object store (see the generations section above).
        """
        old_ord, old_name = self._gen_pointer()
        # nonce-unique target: concurrent rewrites racing to ordinal+1
        # each own a private dir, so the pointer swap commits exactly
        # one WHOLE generation (the loser's dir is orphaned, never read)
        new_name = self._new_gen_name(old_ord + 1)
        (self._write_opts(
            self._encode(self.read_all().where(keep_predicate))
            .repartition("stream_name")
            .sortWithinPartitions("stream_name", "order_id")
            .write.mode("overwrite").partitionBy("stream_name"))
         .save(os.path.join(self.path, new_name)))
        self._set_generation(new_name)
        self._gc_generation(old_name)
        self._max_oid = None

    def delete_event(self, stream_name: str, order_id: int) -> None:
        """D1 (streams.clj:323)."""
        self._rewrite(~((F.col("stream_name") == stream_name)
                        & (F.col("order_id") == int(order_id))))

    def delete_stream(self, stream_name: str) -> None:
        """D2: one predicate delete, not the reference's scan-and-loop."""
        self._rewrite(F.col("stream_name") != stream_name)

    def clean(self) -> None:
        """D3 delete-all (streams.clj:324): swap the pointer to a fresh
        empty generation, then sweep the old one — same rename-free
        commit as :meth:`_rewrite`. Root markers (e.g. the durable
        multi-writer fact) survive, as "ever" semantics require."""
        if not os.path.isdir(self.path):
            return
        old_ord, old_name = self._gen_pointer()
        self._set_generation(self._new_gen_name(old_ord + 1))
        self._gc_generation(old_name)
        self._max_oid = None

    # ---------------------------------------------------------- maintenance
    def expire(self, before: int) -> int:
        """Retention: drop every event below a cutoff (epoch-ms or raw
        order_id, same coercion rule as :meth:`read_cold`). Returns the
        number of events removed.

        Streaming appends make this the standard log-retention pattern; on
        parquet it is a partition-parallel rewrite, on Delta/Iceberg the
        identical predicate is a metadata DELETE.
        """
        before = coerce_order_bound(before)
        removed = self.read_all().where(F.col("order_id") < before).count()
        if removed:
            self._rewrite(F.col("order_id") >= before)
        return removed

    def compact(self) -> int:
        """Compact each stream partition into one order_id-sorted file and
        return the data-file count afterwards.

        Streaming ingest appends one file per micro-batch per stream; the
        small-file population degrades scan/listing cost over time. The
        rewrite shuffles each stream wholly into one task (so one sorted
        file per stream — the layout :meth:`ingest` targets), which is the
        OPTIMIZE/compaction maintenance op of a Delta/Iceberg table.

        NOT safe under an active file-source subscription (R2/R3): the
        Structured Streaming file source tracks seen FILES, so a rewrite
        re-delivers every event as new files. Run between streaming
        sessions (fresh checkpoint), or use a transactional table format
        where OPTIMIZE preserves streaming offsets.
        """
        self._rewrite(F.lit(True))
        ext = self._EXT[self.fmt]
        return sum(1 for _, _, files in os.walk(self._data_dir())
                   for f in files if f.endswith(ext))

    # -------------------------------------------------------- export/import
    def export_stream(self, stream_name: str, out_path: str,
                      shard_threshold: int = 100_000) -> int:
        """S3: cold-replay a stream into gzipped JSON-lines (api.clj:103-129).

        Returns number of exported events; total line count equals the
        cold count (export_test.clj:43-58 golden behavior).

        Streams up to ``shard_threshold`` events keep photon's
        single-file semantics (one gzip part, one writer task). Larger
        streams SHARD: range-partitioned by order_id into
        ``ceil(n / shard_threshold)`` parts, each internally order_id-
        sorted — a single coalesce(1) writer task is the scale killer at
        100 TB, and a directory of ordered gzip parts is what
        :meth:`import_stream` (and any line reader) consumes either way.
        """
        df = self.read_cold(stream_name)
        n = df.count()
        if n > shard_threshold:
            n_shards = -(-n // shard_threshold)
            df = (df.repartitionByRange(n_shards, "order_id")
                    .sortWithinPartitions("order_id"))
        else:
            df = df.coalesce(1)
        (df.write.mode("overwrite").option("compression", "gzip")
         .json(out_path))
        return n

    def import_stream(self, in_path: str, stream_name: str | None = None) -> str:
        """S4: ingest a JSON/JSON-lines (optionally gzipped) file as a new
        stream; dedupe name collisions as name, name-0, name-1, ...
        (api.clj:149-186 find-name)."""
        df = self.spark.read.json(in_path)
        name = stream_name or os.path.splitext(os.path.basename(in_path))[0]
        existing = set(self.streams()) if self._exists() else set()
        if name in existing:
            i = 0
            while f"{name}-{i}" in existing:
                i += 1
            name = f"{name}-{i}"
        df = df.withColumn("stream_name", F.lit(name))
        drop = [c for c in ("event_time", "order_id") if c in df.columns]
        self.ingest(df.drop(*drop))
        return name
