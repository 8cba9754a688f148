"""Distributed keyed stateful streaming fold.

The serial :class:`~photon_spark.streaming.stateful.StreamingProjectionRunner`
mirrors photon's per-projection total-order fold (streams.clj:241-274,
410-420). This module is the Spark-FIRST escalation for reducers that are
per-key independent (the per-stream built-ins like `__streams__` counts,
default_projs.clj:8-26): state lives in the executors' state store, keyed
by stream — updates run in parallel across keys, state survives restarts
through the checkpoint, and no event ever reaches the driver.

Two implementations of the same fold semantics:

- **transformWithStateInPandas** (PySpark ≥ 4.0, SURVEY §1.4's target
  operator): typed per-key ValueState, timers/TTL available, RocksDB
  state store. Its Python state client speaks protobuf to the JVM state
  server, so it needs ``google.protobuf`` in the Python environment —
  probed at import; chosen by default when available.
- **applyInPandasWithState** fallback: identical fold and state content,
  used where protobuf is absent.

Both paths produce value-identical output (the keyed gate query hashes
prove it wherever both can run), so which one executes is an environment
detail, not a semantics choice.

Scale: this is the shape that holds at 100 TB/day — per-key state is
O(keys) not O(events), each micro-batch touches only the keys it contains,
and the shuffle is the single groupBy(key) exchange.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = ("stream_name string, n_events long, sum_local long, "
                 "max_order_id long")
STATE_SCHEMA = "n long, s long, mx long"

CSUM_OUTPUT = "stream_name string, processed long, checksum long"
CSUM_STATE = "n long, c long"

_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")


def tws_available() -> bool:
    """True only when transformWithStateInPandas can actually run:
    the grouped-data API must exist (PySpark ≥ 4.0 — protobuf alone is
    not evidence, it ships with many unrelated packages) AND
    google.protobuf must import (the TWS state client's wire protocol)."""
    from pyspark.sql.group import GroupedData
    if not hasattr(GroupedData, "transformWithStateInPandas"):
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except Exception:
        return False


def _use_rocksdb(df: DataFrame) -> None:
    # transformWithState requires the RocksDB state store. NOTE: the
    # provider class is a SESSION-scoped conf snapshotted when a stream
    # STARTS — setting it here affects any stream started later on this
    # session, and a checkpoint written under a different provider must
    # not be resumed after the switch. We therefore only touch the conf
    # when it differs, and callers mixing providers in one session
    # should start their other streams first or use separate sessions.
    conf = df.sparkSession.conf
    key = "spark.sql.streaming.stateStore.providerClass"
    if conf.get(key, None) != _ROCKSDB_PROVIDER:
        conf.set(key, _ROCKSDB_PROVIDER)


# ------------------------------------------------------ fold kernels
# Shared by both APIs so the two paths cannot drift: each takes the
# prior (tuple) state plus the micro-batch group's frames and returns
# the new state.

def _totals_step(state: tuple, frames: list[pd.DataFrame]) -> tuple:
    n, s, mx = state
    for pdf in frames:
        n += len(pdf)
        s += int(pd.to_numeric(pdf["local_id"], errors="coerce")
                 .fillna(0).sum())
        if len(pdf):
            mx = max(mx, int(pdf["order_id"].max()))
    return n, s, mx


def _csum_step(state: tuple, frames: list[pd.DataFrame]) -> tuple:
    n, c = state
    frames = [pdf for pdf in frames if len(pdf)]
    if frames:
        allf = (pd.concat(frames) if len(frames) > 1 else frames[0]) \
            .sort_values("order_id")
        for lid in pd.to_numeric(allf["local_id"],
                                 errors="coerce").fillna(0).astype(int):
            n += 1
            c += n * int(lid)
    return n, c


def _totals_row(key, st) -> pd.DataFrame:
    return pd.DataFrame({"stream_name": [key[0]], "n_events": [st[0]],
                         "sum_local": [st[1]], "max_order_id": [st[2]]})


def _csum_row(key, st) -> pd.DataFrame:
    return pd.DataFrame({"stream_name": [key[0]], "processed": [st[0]],
                         "checksum": [st[1]]})


# ------------------------------------- transformWithStateInPandas path

def _make_processor(state_name: str, state_schema: str, zero: tuple,
                    step, row):
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _Processor(StatefulProcessor):
        def init(self, handle):
            self._st = handle.getValueState(state_name, state_schema)

        def handleInputRows(self, key, rows, timerValues):
            st = tuple(self._st.get()) if self._st.exists() else zero
            st = step(st, list(rows))
            self._st.update(st)
            yield row(key, st)

        def close(self):
            pass

    return _Processor()


def _tws(events: DataFrame, state_name: str, state_schema: str,
         zero: tuple, step, row, output_schema: str) -> DataFrame:
    _use_rocksdb(events)
    return (events
            .groupBy("stream_name")
            .transformWithStateInPandas(
                _make_processor(state_name, state_schema, zero, step, row),
                outputStructType=output_schema,
                outputMode="Update",
                timeMode="None"))


# --------------------------------------- applyInPandasWithState path

def _aipws(events: DataFrame, state_schema: str, zero: tuple, step, row,
           output_schema: str) -> DataFrame:
    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        st = tuple(state.get) if state.exists else zero
        st = step(st, list(pdfs))
        state.update(st)
        yield row(key, st)

    return (events
            .groupBy("stream_name")
            .applyInPandasWithState(
                update,
                outputStructType=output_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ----------------------------------------------------------- operators

def keyed_running_totals(events: DataFrame) -> DataFrame:
    """Per-stream running (count, sum(local_id as long), max order_id) over
    a STREAMING events DataFrame; emits the updated state row for every key
    touched by each micro-batch (photon's queryable projection value, in
    update mode).

    The int sums keep the fold associative and restart-exact: replaying a
    checkpoint resumes from the stored state, never recounts.
    """
    if tws_available():
        return _tws(events, "totals", STATE_SCHEMA, (0, 0, 0),
                    _totals_step, _totals_row, OUTPUT_SCHEMA)
    return _aipws(events, STATE_SCHEMA, (0, 0, 0),
                  _totals_step, _totals_row, OUTPUT_SCHEMA)


def keyed_ordered_checksums(events: DataFrame) -> DataFrame:
    """Per-key ORDERED fold with a rank-weighted checksum — the
    distributed-streaming analogue of the serial runner's order proof:
    within each key, events fold in order_id order (sorted inside the
    micro-batch group; the rank counter persists in state across batches),
    and ``checksum = Σ rankₖ·local_id`` changes under ANY per-key
    reordering, gap, or duplicate. Keys fold in parallel in the executors'
    state store; the only exchange is the groupBy(key) shuffle."""
    if tws_available():
        return _tws(events, "csum", CSUM_STATE, (0, 0),
                    _csum_step, _csum_row, CSUM_OUTPUT)
    return _aipws(events, CSUM_STATE, (0, 0),
                  _csum_step, _csum_row, CSUM_OUTPUT)
