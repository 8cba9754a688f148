"""S1 streaming — continuous ingest into the EventStore.

Reference lifecycle (SURVEY.md §3.1; src/photon/streams.clj:288-308):
clients push events over a transport; the engine stamps ``event_time`` +
monotonic ``order_id`` and appends. Spark-native form: a Structured
Streaming source (here a JSON file-drop directory — swap for Kafka in
production, same shape) drives ``foreachBatch``; each micro-batch goes
through :meth:`EventStore.ingest`, which does the stamping with
driver-side max-order_id bookkeeping, so order_ids stay globally monotonic
across micro-batches (SURVEY.md §4 custom-work #2).

Each trigger takes every new file — no photon sliding-buffer drops.

Delivery semantics — stated precisely, because foreachBatch is
at-least-once: the checkpoint commits source offsets only after the
batch's append completes, so nothing is ever LOST, but a crash between
the append and the commit replays the batch and appends it again with
fresh order_ids. ``dedupe=True`` upgrades that to effectively-once for
events carrying a ``(stream_name, local_id)`` client key (the replayed
copies anti-join away); keyless events have nothing to dedupe on and can
duplicate under that crash window. For keyless exactly-once use the
per-batch OVERWRITE-partition pattern (streaming/corpus.py) where the
replay clobbers its own partial output instead of appending beside it.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import types as T

from photon_spark.events import EventStore
from photon_spark.streaming.tuning import drain

#: Client-side envelope for the drop-dir source (server fields are stamped
#: at ingest, never accepted from clients — streams.clj:296-301).
CLIENT_SCHEMA = T.StructType([
    T.StructField("stream_name", T.StringType(), False),
    T.StructField("event_type", T.StringType()),
    T.StructField("service_id", T.StringType()),
    T.StructField("local_id", T.StringType()),
    T.StructField("schema_tag", T.StringType()),
    T.StructField("payload", T.StringType()),
])


class StreamingIngest:
    """Continuous ingest: JSON-lines drop directory → events table."""

    def __init__(self, store: EventStore, source_dir: str,
                 checkpoint_dir: str | None = None,
                 dedupe: bool = False):
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(
            prefix="photon_spark_ingest_ckpt_")
        #: idempotent ingest by client key: drop events whose
        #: (stream_name, local_id) is already stored. The reference's
        #: analogue is the import-path name dedupe (api.clj:149-186
        #: find-name); here it upgrades at-least-once delivery (a client
        #: retry, a re-dropped file) to effectively-once. Events WITHOUT a
        #: local_id are always ingested (no key to dedupe on).
        self.dedupe = dedupe
        self.batches = 0

    def _apply_batch(self, batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if self.dedupe:
            from pyspark.sql import functions as F
            # in-batch: one winner per client key; cross-batch: anti-join
            # against only the streams present in this batch — with the
            # store partitioned by stream_name this is a partition-pruned
            # key scan, not a full-table read, so the cost tracks the
            # batch's stream set at any store size.
            # keyless rows bypass both passes (dropDuplicates would treat
            # their NULL keys as equal and collapse them)
            keyed = (batch_df.where(F.col("local_id").isNotNull())
                     .dropDuplicates(["stream_name", "local_id"]))
            streams = [r[0] for r in
                       keyed.select("stream_name").distinct().collect()]
            existing = (self.store.read_all()
                        .where(F.col("stream_name").isin(streams))
                        .select("stream_name", "local_id"))
            batch_df = (keyed.join(existing, ["stream_name", "local_id"],
                                   "left_anti")
                        .unionByName(
                            batch_df.where(F.col("local_id").isNull())))
        self.store.ingest(batch_df)
        self.batches += 1

    def _writer(self):
        stream = (self.store.spark.readStream.schema(CLIENT_SCHEMA)
                  .json(self.source_dir))
        return (stream.writeStream
                .foreachBatch(self._apply_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .queryName("photon_spark_ingest"))

    def run(self, available_now: bool = True, timeout_sec: float = 300.0):
        """``available_now=True``: drain everything currently dropped, then
        stop (returns total events ingested since construction);
        ``False``: return the live StreamingQuery."""
        if not available_now:
            return self._writer().start()
        drain(self._writer(), self.store.spark, timeout_sec=timeout_sec)
        return self.store.ingested
