"""Projection engine: continuous ordered folds over event streams.

Reference parity (SURVEY.md §2.4, citations into /root/reference):

- A1 register-query!: compile a reducer, fold events **in order_id order,
  sequentially** over a stream (default __all__), resumable from the last
  folded event (src/photon/streams.clj:241-274, 125-145).
- A2 fold-step metrics: processed, incremental avg_time, rate-limited state
  size measurement (streams.clj:99-145).
- A3 failure semantics: user-fn exception ⇒ status=failed, last_error
  captured, fold stops, state remains queryable (streams.clj:84-97).
- A4 unregister / delete-protected defaults (streams.clj:276-286,
  core.clj:102-107).
- U1/U4: the projection language is Python source (replacing Clojure/JS,
  exec.clj:16-24); initial value parsed from JSON (exec.clj:177-182).

Scale design — three reducer tiers (SURVEY.md §4 custom-work #1):

1. ``NativeReducer`` — named built-ins (count/sum/avg/min/max/...) compile to
   Catalyst aggregates: fully parallel, map-side partial aggregation, no
   Python in the hot path. This is the 100 TB path and covers every reducer
   photon's own tests exercise (count-folds, sum-folds).
2. ``AssociativeReducer`` — user fold + user merge. A delta of at most one
   Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) is
   collected in one job and folded on the driver; a larger one folds
   distributed over range-partitioned order_id spans, partials merged in
   order on the driver. Driver memory is one Arrow batch or O(partitions).
3. ``PyReducer`` — arbitrary non-commutative ``f(state, event) → state``: a
   single total order fundamentally serializes (photon serializes too —
   parallel *across* projections, serial per projection,
   streams.clj:410-420). The (column-pruned) delta is collected through
   Arrow in one job and sorted and folded on the driver, so driver memory
   grows with the delta: advance often, or use tier 1/2 for bulk replays.
"""

from __future__ import annotations

import json
import pickle
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photon_spark.events import ALL_STREAMS, EventStore

DEFAULT_PROJECTIONS = ("__streams__", "__security-state__")


# --------------------------------------------------------------------------
# Reducers
# --------------------------------------------------------------------------

@dataclass
class NativeReducer:
    """Built-in reducer compiled to a native Catalyst aggregate.

    ``kind`` ∈ {count, sum, avg, min, max, count_distinct}; ``expr`` is a SQL
    expression string over the event columns (e.g. a payload field via
    ``get_json_object(payload, '$.k')``).
    """
    kind: str
    expr: str | None = None

    _AGGS = {
        "count": lambda c: F.count(F.lit(1)),
        "sum": lambda c: F.sum(F.expr(c)),
        "avg": lambda c: F.avg(F.expr(c)),
        "min": lambda c: F.min(F.expr(c)),
        "max": lambda c: F.max(F.expr(c)),
        "count_distinct": lambda c: F.count_distinct(F.expr(c)),
    }

    def aggregate(self, df: DataFrame) -> Any:
        if self.kind not in self._AGGS:
            raise ValueError(f"unknown native reducer: {self.kind}")
        row = df.agg(self._AGGS[self.kind](self.expr).alias("v")).first()
        return row["v"]


@dataclass
class AssociativeReducer:
    """User fold with a user-supplied associative merge.

    ``fold(state, event_dict) → state``; ``merge(left_state, right_state) →
    state``; ``zero`` is the identity. Partition partials fold in parallel;
    ordered merge preserves left-to-right semantics.
    """
    fold: Callable[[Any, dict], Any]
    merge: Callable[[Any, Any], Any]
    zero: Any = None


@dataclass
class PyReducer:
    """Arbitrary ordered fold ``f(state, event_dict) → state``.

    ``source`` keeps the persisted source string (photon persists reducer
    source for restart replay, exec.clj:18-24 ``:persist``).
    """
    fn: Callable[[Any, dict], Any]
    source: str | None = None
    #: optional column-pruning hint: the event-dict keys the fold reads.
    #: When set, the fold collects only these (+ order_id) to the driver —
    #: map/timestamp columns are the expensive Arrow→Python conversions.
    columns: tuple[str, ...] | None = None

    @classmethod
    def from_source(cls, source: str) -> "PyReducer":
        """U1: compile Python source (an expression evaluating to a callable,
        e.g. ``"lambda prev, ev: prev + 1"``) — the PySpark-native
        substitute for photon's Clojure/JS reducer compilation."""
        fn = eval(compile(source, "<projection>", "eval"), {"json": json})  # noqa: S307
        if not callable(fn):
            raise ValueError("projection source must evaluate to a callable")
        return cls(fn=fn, source=source)


Reducer = NativeReducer | AssociativeReducer | PyReducer


# --------------------------------------------------------------------------
# Descriptor
# --------------------------------------------------------------------------

@dataclass
class Projection:
    """Registered projection descriptor + runtime state
    (streams.clj:216-232; doc/schemas.md:63-71,113-123)."""
    projection_name: str
    reducer: Reducer
    stream_name: str = ALL_STREAMS
    language: str = "python"
    initial_value: Any = None
    # runtime
    current_value: Any = None
    processed: int = 0
    init_time: float = field(default_factory=time.time)
    last_event: int = 0              # order_id of last folded event (resume pt)
    last_error: str | None = None
    avg_time: float = 0.0            # incremental mean, ms/event
    avg_global_time: float = 0.0     # wall-clock ms since init / processed
    mem_used: int = 0                # pickled state size, rate-limited
    status: str = "running"          # running | failed | finished
    #: NULL-aware weight of the running native avg (count of non-null
    #: sampled values) — the merge weight, distinct from ``processed``
    native_weight: int = 0

    def touch_global_time(self) -> None:
        """A2: avg-global-time = wall-clock per processed event
        (streams.clj:141-143)."""
        if self.processed:
            self.avg_global_time = ((time.time() - self.init_time) * 1000.0
                                    / self.processed)

    def record_fold(self, n: int, fold_ms: float, state: Any) -> None:
        """A2 fold-step metrics for ``n`` events folded in ``fold_ms``:
        incremental mean ms/event (streams.clj:99-106 next-avg, all n
        events share the batch mean), the pickled state size whenever
        the count crosses a ``_MEASURE_RATE`` tick, and ``processed``."""
        if not n:
            return
        self.avg_time += ((fold_ms / n) - self.avg_time) * n \
            / (self.processed + n)
        if (self.processed % _MEASURE_RATE) + n >= _MEASURE_RATE:
            self.mem_used = len(pickle.dumps(state))
        self.processed += n

    def descriptor(self) -> dict:
        """API view (F4 strips heavy fields — api.clj:38-49)."""
        return {
            "projection-name": self.projection_name,
            "stream-name": self.stream_name,
            "language": self.language,
            "processed": self.processed,
            "status": self.status,
            "last-error": self.last_error,
            "avg-time": self.avg_time,
            "avg-global-time": self.avg_global_time,
            "last-event": self.last_event,
            "init-time": self.init_time,
            "mem-used": self.mem_used,
        }


# --------------------------------------------------------------------------
# Engine
# --------------------------------------------------------------------------

_MEASURE_RATE = 1000  # measure state size every N events (measure.rate)


class ProjectionEngine:
    """Registry + batch fold executor over an EventStore.

    Batch mode folds everything currently persisted (photon's cold phase);
    calling :meth:`advance` again folds only events newer than ``last_event``
    — exactly photon's resume-from-last-event semantics
    (streams.clj:255-259). The streaming wrapper
    (photon_spark.streaming.stateful) drives the same fold per micro-batch.
    """

    def __init__(self, store: EventStore | None = None):
        self.store = store
        self.registry: dict[str, Projection] = {}

    @classmethod
    def fold_dataframe(cls, reducer: "Reducer", df: DataFrame,
                       initial_value: Any = None,
                       name: str = "adhoc") -> Projection:
        """Fold an arbitrary ordered DataFrame through a reducer without an
        EventStore (ad-hoc / driver-contract use). Returns the descriptor."""
        engine = cls(store=None)
        proj = Projection(projection_name=name, reducer=reducer,
                          initial_value=initial_value,
                          current_value=initial_value)
        engine.registry[name] = proj
        return engine._fold_df(proj, df)

    # ------------------------------------------------------------ registry
    def register(self, name: str, reducer: Reducer | str,
                 stream_name: str = ALL_STREAMS, initial_value: Any = None,
                 language: str = "python") -> Projection:
        """A1: register (replace-if-exists, streams.clj:331-335)."""
        if isinstance(reducer, str):
            reducer = PyReducer.from_source(reducer)
        if name in self.registry:
            self.registry.pop(name)
        proj = Projection(projection_name=name, reducer=reducer,
                          stream_name=stream_name, language=language,
                          initial_value=initial_value,
                          current_value=initial_value)
        self.registry[name] = proj
        return proj

    def unregister(self, name: str) -> bool:
        """A4: default projections are delete-protected (core.clj:102-107)."""
        if name in DEFAULT_PROJECTIONS:
            return False
        return self.registry.pop(name, None) is not None

    def projection(self, name: str) -> Projection | None:
        return self.registry.get(name)

    def projection_keys(self) -> list[str]:
        return sorted(self.registry)

    def value(self, name: str, query_key: str | None = None) -> Any:
        """F5 keyed lookup into a projection's current value
        (api.clj:61-64)."""
        proj = self.registry.get(name)
        if proj is None:
            return None
        v = proj.current_value
        if query_key is None:
            return v
        if isinstance(v, dict):
            return v.get(query_key)
        return None

    # ---------------------------------------------------------------- fold
    def advance(self, name: str, emit_states: bool = False) -> Projection:
        """Fold all events newer than the projection's resume point.

        Returns the updated descriptor. With ``emit_states`` the successive
        state values (the projection's *virtual stream*,
        streams.clj:182-200) are recorded on ``proj.emitted``.
        """
        proj = self.registry[name]
        if proj.status == "failed":
            return proj
        df = self.store.read_cold(proj.stream_name, from_=proj.last_event + 1,
                                  ordered=False)
        return self._fold_df(proj, df, emit_states=emit_states)

    def _fold_df(self, proj: Projection, df: DataFrame,
                 emit_states: bool = False) -> Projection:
        reducer = proj.reducer
        if isinstance(reducer, NativeReducer):
            # 100 TB path: one Catalyst aggregate, no Python per event —
            # bounds and the reducer value in a SINGLE pass. avg needs its
            # own NULL-aware weight: F.avg skips NULL expr values, so the
            # cross-batch merge must weight by count(expr), NOT by the row
            # count (weighting by rows skews every avg the moment one
            # sampled value is NULL).
            if reducer.kind not in NativeReducer._AGGS:
                raise ValueError(f"unknown native reducer: {reducer.kind}")
            aggs = [F.count(F.lit(1)).alias("n"),
                    F.max("order_id").alias("mx"),
                    NativeReducer._AGGS[reducer.kind](reducer.expr)
                    .alias("v")]
            if reducer.kind == "avg":
                aggs.append(F.count(F.expr(reducer.expr)).alias("w"))
            t0 = time.perf_counter()
            bounds = df.agg(*aggs).first()
            fold_ms = (time.perf_counter() - t0) * 1000.0
            if bounds["n"]:
                prev = proj.current_value
                if reducer.kind == "avg":
                    prev_w = proj.native_weight
                    new_w = bounds["w"]
                    if new_w:
                        if prev is None or prev_w == 0:
                            proj.current_value = bounds["v"]
                        else:
                            proj.current_value = (
                                (prev * prev_w + bounds["v"] * new_w)
                                / (prev_w + new_w))
                    proj.native_weight = prev_w + new_w
                else:
                    proj.current_value = _combine_native(
                        reducer.kind, prev, bounds["v"],
                        proj.processed, bounds["n"])
                proj.record_fold(bounds["n"], fold_ms, proj.current_value)
                proj.last_event = bounds["mx"]
                proj.touch_global_time()
            if emit_states:
                # per-event states only exist on the serial tier; the
                # native tier's virtual stream is per-BATCH (one state per
                # fold call) — emit that rather than silently ignoring the
                # flag.
                proj.emitted = ([proj.current_value] if bounds["n"]
                                else [])  # type: ignore[attr-defined]
            return proj

        if isinstance(reducer, AssociativeReducer):
            before = proj.processed
            proj = self._fold_associative(proj, df)
            if emit_states:
                proj.emitted = ([proj.current_value]  # type: ignore[attr-defined]
                                if proj.processed != before else [])
            return proj

        return self._fold_serial(proj, df, emit_states=emit_states)

    # -- tier 3: arbitrary ordered fold on the driver --------------------
    def _fold_serial(self, proj: Projection, df: DataFrame,
                     emit_states: bool = False) -> Projection:
        """Ordered fold of the whole delta on the driver.

        One job collects the (column-pruned) delta through Arrow; the
        driver sorts it by order_id (plan order when the frame has no
        order_id) and folds it in Arrow-batch-sized chunks, so the
        per-chunk dict conversion stays bounded. The collected delta
        itself is held in driver memory — the same contract a serial
        fold has under any plan, since a single total order ends in one
        place.
        """
        reducer: PyReducer = proj.reducer  # type: ignore[assignment]
        if reducer.columns is not None:
            keep = list(dict.fromkeys(
                [*reducer.columns,
                 *(["order_id"] if "order_id" in df.columns else [])]))
            df = df.select(*keep)
        pdf = df.toPandas()
        if "order_id" in pdf.columns:
            pdf = pdf.sort_values("order_id", kind="stable",
                                  ignore_index=True)
        chunk = _arrow_batch_rows(df) or max(len(pdf), 1)
        emitted = [] if emit_states else None
        state = proj.current_value
        for start in range(0, len(pdf), chunk):
            recs = pdf.iloc[start:start + chunk].to_dict("records")
            t0 = time.perf_counter()
            for i, ev in enumerate(recs):
                try:
                    state = reducer.fn(state, ev)
                except Exception as exc:  # A3 failure capture
                    import traceback
                    proj.last_error = f"{exc}\n{traceback.format_exc(limit=5)}"
                    proj.status = "failed"
                    # keep metrics and queryable state consistent: state is
                    # the value BEFORE the failing event (streams.clj:84-97
                    # keeps the last good state queryable on failure).
                    proj.processed += i
                    if i:
                        proj.last_event = recs[i - 1].get("order_id") \
                            or proj.last_event
                    proj.current_value = state
                    if emitted is not None:
                        proj.emitted = emitted  # type: ignore[attr-defined]
                    return proj
                if emitted is not None:
                    emitted.append(state)
            proj.record_fold(len(recs), (time.perf_counter() - t0) * 1000.0,
                             state)
            proj.last_event = recs[-1].get("order_id") or proj.last_event
        proj.current_value = state
        proj.touch_global_time()
        if emitted is not None:
            proj.emitted = emitted  # type: ignore[attr-defined]
        return proj

    # -- tier 2: partial folds + ordered merge ----------------------------
    def _fold_associative(self, proj: Projection, df: DataFrame) -> Projection:
        """Fold the delta into partials and merge them, in order_id order,
        into the current value. A delta of at most one Arrow batch is
        collected (``limit(cap + 1)`` bounds driver memory when it is
        larger) and folded on the driver as a single partial; a larger
        one folds distributed, one partial per range partition, and also
        pays for the discarded collect."""
        reducer: AssociativeReducer = proj.reducer  # type: ignore[assignment]
        cap = _arrow_batch_rows(df)
        parts = None
        if cap:
            pdf = df.limit(cap + 1).toPandas()
            if len(pdf) <= cap:
                parts = _fold_partials(reducer, pdf)
        if parts is None:
            parts = _fold_partials_distributed(reducer, df)
        state = (proj.current_value if proj.current_value is not None
                 else reducer.zero)
        for p in parts:
            state = reducer.merge(state, p["state"])
        proj.record_fold(sum(p["n"] for p in parts),
                         sum(p["ms"] for p in parts), state)
        proj.last_event = max([proj.last_event, *(p["mx"] for p in parts)])
        proj.current_value = state
        proj.touch_global_time()
        return proj


def _arrow_batch_rows(df: DataFrame) -> int:
    """Rows per Arrow batch of ``df``'s session; 0 when unlimited."""
    cap = int(df.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    return max(cap, 0)


def _ordered_fold(fold, zero):
    """→ ``run(batches)``: fold pandas ``batches`` (already in order_id
    order) from ``zero`` → (state, first order_id, last order_id, events,
    fold ms); order ids are 0 without an order_id column. The driver path
    and the executors' partition fold both run it, so the fold sees the
    same event dicts on either path. Nested, so cloudpickle ships it by
    value and executors need not import this package."""
    def run(batches):
        state, lo, mx, n = zero, None, 0, 0
        t0 = time.perf_counter()
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                oid = rec.get("order_id", 0)
                if lo is None:
                    lo = oid
                mx = oid
                state = fold(state, rec)
                n += 1
        return state, lo, mx, n, (time.perf_counter() - t0) * 1000.0
    return run


def _fold_partials(reducer: AssociativeReducer, pdf) -> list[dict]:
    """One partial from ``zero`` over the collected delta ``pdf``, sorted
    by order_id on the driver (plan order without one)."""
    if "order_id" in pdf.columns:
        pdf = pdf.sort_values("order_id", kind="stable", ignore_index=True)
    state, _, mx, n, ms = _ordered_fold(reducer.fold, reducer.zero)([pdf])
    return [{"n": n, "mx": mx, "ms": ms, "state": state}] if n else []


def _fold_partials_distributed(reducer: AssociativeReducer,
                               df: DataFrame) -> list[dict]:
    """One partial per range partition of ``df``, folded on the executors
    and returned in order_id order."""
    run = _ordered_fold(reducer.fold, reducer.zero)

    def fold_partition(batches):
        import pandas as pd
        state, lo, mx, n, ms = run(batches)
        if n:
            yield pd.DataFrame({"lo": [lo], "mx": [mx], "n": [n],
                                "ms": [ms], "blob": [pickle.dumps(state)]})

    # Range-partition so each partition is a contiguous, sorted order_id
    # span → partials merge left-to-right correctly. No order_id (the
    # fold_dataframe ad-hoc contract): preserve the plan's own order in
    # one partition.
    if "order_id" in df.columns:
        df = (df.repartitionByRange("order_id")
                .sortWithinPartitions("order_id"))
    else:
        df = df.coalesce(1)
    rows = (df.mapInPandas(
                fold_partition,
                schema="lo long, mx long, n long, ms double, blob binary")
              .collect())
    rows.sort(key=lambda r: r["lo"])
    return [{"n": r["n"], "mx": r["mx"], "ms": r["ms"],
             "state": pickle.loads(r["blob"])} for r in rows]


def _combine_native(kind: str, prev: Any, new: Any, prev_n: int, new_n: int) -> Any:
    """Merge a fresh native-aggregate value into the running projection value
    (incremental advance across batches)."""
    if prev is None or prev_n == 0:
        return new
    if new is None:
        return prev
    if kind in ("count", "sum"):
        return prev + new
    if kind == "avg":  # pragma: no cover - handled NULL-aware in _fold_df
        raise AssertionError("avg merges via proj.native_weight")
    if kind == "min":
        return min(prev, new)
    if kind == "max":
        return max(prev, new)
    # count_distinct is not incrementally mergeable without state; recompute
    # callers should re-advance from 0 (documented limitation).
    return new
