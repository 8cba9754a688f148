"""Stream start and drain, with scale-adaptive shuffle/state partitions.

Stateful streaming operators (stream-stream joins, keyed folds,
``dropDuplicatesWithinWatermark``) allocate one state store per shuffle
partition per stateful operator, and EVERY micro-batch pays an
open/commit cycle on each of them; micro-batch plans also get no AQE,
so batch-side shuffles inside ``foreachBatch`` keep the raw
``spark.sql.shuffle.partitions`` instead of being coalesced at runtime.
A core-count constant is therefore wrong in both directions: at bench
scale (MBs of input) a 32-partition stream-stream join commits
32 partitions x 4 join state stores on every micro-batch of a few
thousand rows — the state-store file churn IS the runtime — while on a
100 TB cluster the same constant under-partitions the state and every
store becomes a multi-GB straggler.

Derive the count from the bytes the stream will actually ingest —
the same rule AQE applies to batch shuffles (advisory bytes per
partition), computed up front because a streaming query pins its state
partition count at the first checkpoint commit and cannot re-partition
afterwards. The count is sized once from the source paths right before
``.start()``; the clamp keeps a floor of 1 (empty/tiny sources) and a
ceiling that bounds driver bookkeeping. ``STREAM_TARGET_BYTES`` is the
per-partition goal for *state+shuffle* rows, deliberately smaller than
the 128 MB scan split because state rows amplify input bytes (join
candidates, per-key state copies).

Every drain and every sized stream start in the package goes through
this module:

* :func:`start` pins ``spark.sql.shuffle.partitions`` from the source
  paths for the ``.start()`` call only and restores the session value
  right after. Structured Streaming clones the session state at
  ``.start()`` (every micro-batch plans against the clone), so the
  restore never reaches the running query. No paths, no pin.
* :func:`drain` is the ``availableNow`` run: process what the source
  holds now, then end. It waits at most ``timeout_sec`` and raises
  ``TimeoutError`` naming the query when the run has not ended — a
  drain cut short would hand back partial state. The query is stopped
  in ``finally``; a failed micro-batch surfaces from
  ``awaitTermination`` as ``StreamingQueryException`` and propagates.
"""

from __future__ import annotations

import math
import os

#: per-partition input-byte goal for stateful streams (see module doc)
STREAM_TARGET_BYTES = 32 * 1024 * 1024
#: ceiling on derived partition counts (driver/checkpoint bookkeeping)
MAX_STREAM_PARTITIONS = 4096


def dir_bytes(*paths: str) -> int:
    """Total size of all regular files under each path (file or dir)."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            continue
        for dirpath, _dirs, names in os.walk(p):
            for n in names:
                try:
                    total += os.path.getsize(os.path.join(dirpath, n))
                except OSError:
                    pass
    return total


def state_partitions(input_bytes: int,
                     target_bytes: int = STREAM_TARGET_BYTES,
                     lo: int = 1, hi: int = MAX_STREAM_PARTITIONS) -> int:
    """Partition count for a stateful stream ingesting ``input_bytes``."""
    return max(lo, min(hi, math.ceil(max(input_bytes, 1) / target_bytes)))


def start(writer, spark, *paths: str):
    """``writer.start()`` with the shuffle partitions sized from the
    bytes under ``paths`` (module doc); without paths, a plain start."""
    if not paths:
        return writer.start()
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions(dir_bytes(*paths))))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, prev)


def drain(writer, spark, *paths: str, timeout_sec: float):
    """Run ``writer`` once with ``trigger(availableNow=True)`` (started as
    :func:`start` does), wait at most ``timeout_sec``, then stop it."""
    query = start(writer.trigger(availableNow=True), spark, *paths)
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(f"availableNow query "
                               f"{query.name or query.id} did not finish "
                               f"within {timeout_sec}s")
    finally:
        query.stop()
