"""Streaming projection runner — the hot path (R2/R3 + A1 streaming).

Reference semantics (citations into /root/reference):

- Continuous projections fold every new event, in order_id order, into the
  registered reducers (src/photon/streams.clj:241-274 register,
  :125-145 fold step).
- Hot-cold handoff: replay history, then switch to the live feed with no
  gap and no duplicate (src/photon/streams.clj:368-397 — photon needs a
  fragile catch-up loop re-polling the DB; a Structured Streaming file
  source over the append-only events table gets the same guarantee from the
  source itself: already-present files first, new files as they land,
  exactly-once offsets in the checkpoint).
- Resume: a projection continues from its ``last_event`` order_id
  (streams.clj:255-259); re-running the same runner/checkpoint folds only
  events that arrived since.

Ordering guarantee (the one real constraint): micro-batches must not
interleave order_ids. That holds by construction for a single-writer store —
``EventStore.ingest`` stamps each append strictly above the previous max
order_id and the file source processes files in arrival order, taking all
new files per trigger.

Scale notes: each micro-batch is one delta of
``ProjectionEngine._fold_df``, the same fold the pull path runs, by the
path rule of the ``photon_spark.projections.engine`` module docstring.
"""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import functions as F

from photon_spark.projections.engine import ProjectionEngine
from photon_spark.streaming.replay import read_hot_cold
from photon_spark.streaming.tuning import drain, start


class StreamingProjectionRunner:
    """Drives every registered projection of a :class:`ProjectionEngine`
    from a Structured Streaming subscription on the events table.

    ``run(available_now=True)`` processes everything currently persisted and
    stops (the test/batch-catch-up mode); ``available_now=False`` returns
    the live ``StreamingQuery`` (the continuous hot path) — stop it with
    ``.stop()``.
    """

    def __init__(self, engine: ProjectionEngine, checkpoint_dir: str | None = None,
                 state_path: str | None = None):
        self.engine = engine
        self._require_single_writer()
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(
            prefix="photon_spark_ckpt_")
        self.batches = 0
        #: append-only parquet state table — the durable, *subscribable*
        #: form of the virtual stream (photon exposes each projection's
        #: successive states as a stream endpoint, streams.clj:182-200,
        #: muon.clj:91-103). None disables persistence.
        self.state_path = state_path

    def _require_single_writer(self) -> None:
        """Refuse a store that has ever seen multi-writer ingest.

        Resume correctness depends on single-writer order_id monotony:
        each projection folds only ``order_id > last_event``, which is
        exact only when files arrive in order_id order. A multi-writer
        store interleaves writers' files in wall-clock order, so a later
        file can carry LOWER order_ids, which would be silently skipped.
        ``EventStore.ever_multi_writer`` covers this handle's
        ``n_writers`` and the store's durable marker, so a fresh
        single-writer handle on such a store is refused too. Checked at
        construction and again every micro-batch, since a second
        producer can turn the store multi-writer while the runner is
        live."""
        if self.engine.store.ever_multi_writer():
            raise ValueError(
                "StreamingProjectionRunner requires a store that has "
                "only ever seen single-writer ingest: the resume filter "
                "order_id > last_event assumes files arrive in order_id "
                "order, which multi-writer ingest does not guarantee — "
                "this store carries the _multi_writer marker or this "
                "handle has n_writers > 1")

    STATE_SCHEMA = ("batch_id long, projection_name string, "
                    "stream_name string, processed long, last_event long, "
                    "status string, value_json string")

    def _persist_snapshots(self, snaps: list[tuple],
                           batch_id: int) -> None:
        """Land one micro-batch's snapshots as a ``batch=<id>`` partition
        dir written with OVERWRITE — the PairTable replay contract
        (pair_cache._write_batch): foreachBatch is at-least-once, so a
        crashed-and-retried batch clobbers its OWN partial partition
        instead of double-appending state rows; restore() then sees
        exactly-once state."""
        if not snaps:
            return
        import os

        (self.engine.store.spark.createDataFrame(snaps, self.STATE_SCHEMA)
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(os.path.join(self.state_path, f"batch={int(batch_id)}")))

    # ------------------------------------------------------------ restore
    def restore(self) -> int:
        """Rehydrate registered projections from the latest persisted
        state snapshots — the missing half of durable resume: the
        CHECKPOINT makes the source skip already-committed files, so a
        fresh process with the same checkpoint_dir would otherwise start
        from empty state and silently lose all previously folded history.
        Call after registering projections, before run().

        Only projections that are still at processed == 0 are touched
        (never clobbers in-memory progress). Values round-trip through
        JSON (tuples come back as lists; non-JSON states were persisted
        as repr strings and are restored as those strings). Returns the
        number of projections restored."""
        import json
        import os

        if self.state_path is None or not os.path.isdir(self.state_path):
            return 0
        rows = (self.state_table()
                .orderBy(F.col("batch_id").desc(),
                         F.col("last_event").desc())
                .collect())
        latest: dict[str, object] = {}
        for r in rows:  # first row per name = newest snapshot
            latest.setdefault(r["projection_name"], r)
        restored = 0
        for name, proj in self.engine.registry.items():
            snap = latest.get(name)
            if snap is None or proj.processed:
                continue
            proj.current_value = json.loads(snap["value_json"])
            proj.processed = snap["processed"]
            proj.last_event = snap["last_event"]
            proj.status = snap["status"]
            restored += 1
        return restored

    # -------------------------------------------------- virtual stream read
    #: projection of the data columns, dropping the ``batch`` overwrite-
    #: partition directory column the idempotent writer adds
    _STATE_COLS = [c.split()[0] for c in STATE_SCHEMA.split(", ")]

    def state_table(self):
        """Batch view of every persisted state snapshot (E2/E3 over Spark)."""
        return (self.engine.store.spark.read.parquet(self.state_path)
                .select(self._STATE_COLS))

    def subscribe_projection(self, name: str):
        """R2 over a virtual stream: a streaming DataFrame of a projection's
        successive state snapshots."""
        from pyspark.sql import functions as SF
        return (self.engine.store.spark.readStream
                .schema(self.STATE_SCHEMA)
                .parquet(self.state_path)
                .select(self._STATE_COLS)
                .where(SF.col("projection_name") == name))

    # ------------------------------------------------------------ per batch
    def _apply_batch(self, batch_df, batch_id: int) -> None:
        """Fold one micro-batch into every running projection.

        The batch is the delta of the engine's one fold entry point
        (``ProjectionEngine._fold_df``): each projection folds only the
        rows of its stream above its resume point (no-dup on restart
        replay), by the path rule of the engine's module docstring.
        """
        import json

        self._require_single_writer()

        running = list(self.engine.registry.items())
        before = {name: proj.processed for name, proj in running}
        errors = self.engine._fold_df([proj for _, proj in running],
                                      batch_df)
        snaps = []
        for name, proj in running:
            if self.state_path is None or proj.processed == before[name]:
                continue
            try:
                value_json = json.dumps(proj.current_value)
            except (TypeError, ValueError):
                value_json = json.dumps(repr(proj.current_value))
            snaps.append((int(batch_id), name, proj.stream_name,
                          proj.processed, proj.last_event,
                          proj.status, value_json))
        # the projections that did fold keep their snapshots; a raising
        # reducer then fails the batch (replayed without double folds:
        # each projection skips rows at or below its resume point)
        self._persist_snapshots(snaps, batch_id)
        if errors:
            raise next(iter(errors.values()))
        self.batches += 1

    # ----------------------------------------------------------------- run
    def _stream_writer(self):
        stream = read_hot_cold(self.engine.store)
        return (stream.writeStream
                .foreachBatch(self._apply_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .queryName("photon_spark_projections"))

    def run(self, available_now: bool = True, timeout_sec: float = 300.0):
        """Start the subscription.

        ``available_now=True``: hot-cold catch-up — fold all currently
        persisted (uncommitted-to-checkpoint) events, then stop; returns the
        total processed count across projections. ``available_now=False``:
        returns the live StreamingQuery immediately.
        """
        # Shuffle partitions sized from the store's volume: a distributed
        # associative fold range-partitions inside foreachBatch, and every
        # fold is ordered by order_id, so the count does not change values.
        store = self.engine.store
        if not available_now:
            return start(self._stream_writer(), store.spark, store.path)
        drain(self._stream_writer(), store.spark, store.path,
              timeout_sec=timeout_sec)
        return sum(p.processed for p in self.engine.registry.values())

    def await_processed(self, name: str, target: int,
                        timeout_sec: float = 60.0) -> bool:
        """Poll until a projection has folded ``target`` events (live-mode
        test helper; photon's tests sleep-poll :processed the same way,
        test/photon/current/projections.clj:100-105)."""
        deadline = time.time() + timeout_sec
        while time.time() < deadline:
            proj = self.engine.projection(name)
            if proj is not None and proj.processed >= target:
                return True
            time.sleep(0.1)
        return False
