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

1. ``NativeReducer`` — named built-ins (count/sum/avg/min/max). A delta
   above one Arrow batch runs as a Catalyst aggregate: fully parallel,
   map-side partial aggregation, no Python per event. This is the 100 TB
   path and covers every reducer photon's own tests exercise (count-folds,
   sum-folds). A smaller delta of integral or floating values is
   evaluated per row by Catalyst and reduced on the driver, to the same
   values and Python types; any other value type, and a long sum that
   could leave the long range, takes the aggregate.
2. ``AssociativeReducer`` — user fold + user merge. A delta of at most one
   Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) is
   folded on the driver; a larger one folds distributed over
   range-partitioned order_id spans, partials merged in order on the
   driver.
3. ``PyReducer`` — arbitrary non-commutative ``f(state, event) → state``: a
   single total order fundamentally serializes (photon serializes too —
   parallel *across* projections, serial per projection,
   streams.clj:410-420). Its (column-pruned) delta is sorted and folded on
   the driver, so driver memory grows with the delta: advance often, or
   use tier 1/2 for bulk replays.

One fold for all projections (:meth:`ProjectionEngine._fold_df`): photon
feeds each arriving event to every projection from one feed
(streams.clj:125-145, :410-420), and so does the engine. One delta — a
streaming micro-batch, or one store read from the lowest resume point —
advances every projection, each over the rows of its stream above its
resume point, in order_id order. Every delta carries ``order_id``, the
event log's monotone offset (:meth:`ProjectionEngine.fold_dataframe`
refuses a frame without one). The fold's path rule:

- Every fold starts as ONE Arrow collect: the union of the rows and
  columns the associative and serial projections read, a row flag per
  projection and a per-row value per native reducer, evaluated by
  Catalyst. It stops past one Arrow batch, unless every projection in
  the fold is serial and needs its whole delta anyway.
- Within one Arrow batch the native reducers reduce on the driver and
  the Python tiers fold from the same frame, their row counts taken
  from the flags: one Spark job.
- Past one Arrow batch the collect is discarded, and a native reducer
  over values that are not integral or floating skips it. With a native
  reducer in the fold, the native reducers run in ONE Catalyst
  aggregate whose row counts pick the rows of a second collect for the
  Python tiers: every serial delta whole and each associative one of at
  most one Arrow batch; a larger associative delta folds distributed.
  Without one, the serial projections collect their rows whole and the
  associative ones fold distributed.

Every collect reaches pandas through PySpark's own Arrow-to-pandas
column converters (:func:`_event_frame`). The pull path records the
store version (:meth:`EventStore.version`, the stat stamp the read plan
is memoized on) each read was taken at, and a projection whose version
is unchanged is not read for: a pull after an unchanged store runs no
Spark job. A resume point is the higher of ``last_event`` and the
order_id the last store read covered, so a projection whose stream gets
no new events does not hold the read's lower bound at its old
``last_event``.

A pull of the store handle's own posts folds from its hot tail (the
``events`` module docstring) when every stale projection stands at one
version and the tail holds all that changed since
(:meth:`EventStore._tail_rows`). The delta is then the local relation of
those rows: the one-batch collect above is built on the driver, its
flags and native values evaluated by Catalyst with ``collect()`` and its
event columns taken from the tail's Arrow table, with no Spark job. A
tail fold the one-batch path refuses, and every other pull, reads the
store.
"""

from __future__ import annotations

import functools
import json
import operator
import pickle
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import _create_converter_to_pandas

from photon_spark.events import (
    ALL_STREAMS, EVENT_SCHEMA, EventStore, _arrow_batch_rows)

DEFAULT_PROJECTIONS = ("__streams__", "__security-state__")


# --------------------------------------------------------------------------
# Reducers
# --------------------------------------------------------------------------

@dataclass
class NativeReducer:
    """Built-in reducer compiled to a native Catalyst aggregate.

    ``kind`` ∈ {count, sum, avg, min, max}; ``expr`` is a SQL expression
    string over the event columns (e.g. a payload field via
    ``get_json_object(payload, '$.k')``). Every kind merges across deltas,
    so a projection advanced twice equals one advanced once.
    """
    kind: str
    expr: str | None = None

    #: each kind is the SQL aggregate of that name over the value column
    #: (``count`` counts rows)
    KINDS = ("count", "sum", "avg", "min", "max")

    def __post_init__(self):
        if self.kind not in self.KINDS:
            raise ValueError(f"unknown native reducer: {self.kind}")


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
    #: order_id through which the last store read covered this
    #: projection's stream (≥ last_event): a stream with no new events
    #: moves it too, so an idle projection does not hold the next
    #: read's lower bound down
    scanned: int = 0
    #: EventStore.version() the last pull was folded at, from the files
    #: or from the hot tail; while the store's version is unchanged there
    #: is nothing new to read, and when it moved by this store handle's
    #: own posts only, the tail holds what is new
    read_version: tuple | None = None

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
    calling :meth:`advance` or :meth:`advance_all` again folds only events
    newer than each projection's resume point — photon's
    resume-from-last-event semantics (streams.clj:255-259). The streaming
    wrapper (photon_spark.streaming.stateful) drives the same fold per
    micro-batch.
    """

    def __init__(self, store: EventStore | None = None):
        self.store = store
        self.registry: dict[str, Projection] = {}
        # one fold at a time: a live runner's micro-batch (streaming
        # callback thread) and a pull (caller's thread) would otherwise
        # both fold from the same resume point and count events twice
        self._fold_lock = threading.Lock()

    @classmethod
    def fold_dataframe(cls, reducer: "Reducer", df: DataFrame,
                       initial_value: Any = None,
                       name: str = "adhoc") -> Projection:
        """Fold a DataFrame through a reducer, in order_id order, without
        an EventStore (ad-hoc / driver-contract use). Returns the
        descriptor; ValueError when ``df`` has no ``order_id`` column."""
        if "order_id" not in df.columns:
            raise ValueError("fold_dataframe folds in order_id order: the "
                             "frame needs an order_id column")
        engine = cls(store=None)
        proj = Projection(projection_name=name, reducer=reducer,
                          initial_value=initial_value,
                          current_value=initial_value)
        engine.registry[name] = proj
        errors = engine._fold_df([proj], df)
        if errors:
            raise errors[name]
        return proj

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
    def advance(self, name: str) -> Projection:
        """Fold all events newer than the projection's resume point.

        The one-projection case of :meth:`_fold_df`. Returns the updated
        descriptor; a native or associative reducer that raises re-raises
        here, its projection's state unchanged.
        """
        proj = self.registry[name]
        errors = self._fold_df([proj])
        if errors:
            raise errors[name]
        return proj

    def advance_all(self) -> dict[str, Exception]:
        """Fold every running projection up to the store's current
        version from one delta read. → ``{name: error}`` for projections
        whose native or associative reducer raised: each keeps its last
        good state and the others still advance (A3, streams.clj:84-97).
        """
        return self._fold_df(list(self.registry.values()))

    def _fold_df(self, projs: list[Projection],
                 df: DataFrame | None = None) -> dict[str, Exception]:
        """Fold every running projection of ``projs`` from one delta.

        ``df`` is the delta when given (a micro-batch, an ad-hoc frame).
        Otherwise the store is read once, from the lowest resume point of
        the projections whose recorded store version is stale; the others
        are skipped, so a store whose version has not moved since the
        last read costs no Spark job. The path each tier takes is the
        rule in this module's docstring.
        → ``{name: error}`` of native and associative reducers that
        raised (a serial reducer's error fails its projection instead).
        """
        with self._fold_lock:
            return self._fold_locked(projs, df)

    def _fold_locked(self, projs: list[Projection],
                     df: DataFrame | None) -> dict[str, Exception]:
        projs = [p for p in projs if p.status != "failed"]
        if not projs:
            return {}
        version = tail = None
        if df is None:
            if not self.store._exists():
                return {}
            version = self.store.version()
            projs = [p for p in projs if p.read_version != version]
            if not projs:
                return {}
            cap = _arrow_batch_rows(self.store.spark)
            since = {p.read_version for p in projs}
            if len(since) == 1 and cap:
                tail = self.store._tail_rows(since.pop(), version)
            df = self._read(projs, tail)
        else:
            cap = _arrow_batch_rows(df.sparkSession)
        errors: dict[str, Exception] = {}
        native = [p for p in projs if isinstance(p.reducer, NativeReducer)]
        python = [p for p in projs
                  if not isinstance(p.reducer, NativeReducer)]
        # each projection's rows, as SQL, built once for every path below
        where = {p.projection_name: _where(p) for p in projs}
        # the highest order_id the read saw; every projection that folded
        # has read all of its stream up to it, new events or none
        top = self._fold_one_batch(native, python, df, where, cap, errors,
                                   tail)
        if top is None and tail is not None:
            # a tail fold the one-batch path refuses is the store's to
            # decide, overflow and errors included
            df = self._read(projs)
            top = self._fold_one_batch(native, python, df, where, cap,
                                       errors)
        if top is None:
            top, counts = 0, None
            if native:
                top, counts = self._fold_native(native, python, df, where,
                                                errors)
            if python:
                top = max(top, self._fold_python(python, df, where, cap,
                                                 counts, errors))
        if version is not None:
            for p in projs:
                if p.status != "failed" and p.projection_name not in errors:
                    p.scanned = max(_resume(p), top)
                    p.read_version = version
        return errors

    def _read(self, projs: list[Projection], tail=None) -> DataFrame:
        """The store's rows above the lowest resume point of ``projs``, in
        their streams: read from the files, or, given the hot tail's new
        rows ``tail`` (:meth:`EventStore._tail_rows`), their local
        relation."""
        df = (self.store.read_all() if tail is None else
              self.store.spark.createDataFrame(tail, EVENT_SCHEMA))
        lo = min(_resume(p) for p in projs)
        streams = {p.stream_name for p in projs}
        conds = [f"order_id > {lo}"] if lo else []
        if ALL_STREAMS not in streams:
            names = ", ".join(map(_sql_string, sorted(streams)))
            conds.append(f"stream_name IN ({names})")
        return df.where(" AND ".join(conds)) if conds else df

    # -- every fold: one collect ------------------------------------------
    def _fold_one_batch(self, native: list[Projection],
                        python: list[Projection], df: DataFrame,
                        where: dict, cap: int, errors: dict,
                        tail=None) -> int | None:
        """Every projection from ONE Arrow collect: the rows and columns
        the Python tiers read plus, per projection, its row flag
        ``when(its rows, 1)`` and, per native reducer, its value
        ``when(its rows, expr)``, evaluated by Catalyst. It stops past one
        Arrow batch (``limit(cap + 1)``) unless every projection is
        serial. When ``df`` is the local relation of the hot tail's rows
        ``tail``, the collect is built on the driver with no Spark job
        (:func:`_tail_table`). The native reducers reduce their values on
        the driver (:func:`_reduce_native`); the flags count the Python
        tiers' rows, which then fold from the same frame. ``where`` holds
        each projection's rows as SQL (:func:`_where`) and ``cap`` the
        Arrow batch size. A running long sum merged out of the long range
        is that projection's error (:func:`_merge_native`). → the delta's
        max order_id or 0; None, with nothing folded, past one Arrow
        batch, when a native value is not integral or floating, a long
        sum could leave the long range, the query failed or a native
        reducer meets an unbounded Arrow batch (``cap`` 0): the caller's
        large-delta path then runs, where Catalyst decides native values,
        overflow and errors.
        """
        projs = native + python
        if native and not cap:
            return None
        bound = 0 if all(isinstance(p.reducer, PyReducer)
                         for p in projs) else cap
        events = _collect_columns(python, df.columns)
        t0 = time.perf_counter()
        try:
            q = _union_rows(df, projs, where).selectExpr(
                *events,
                *(f"{_only(where[p.projection_name], '1')} AS __c{j}"
                  for j, p in enumerate(projs)),
                *(f"{_only(where[p.projection_name], p.reducer.expr)} "
                  f"AS __x{i}"
                  for i, p in enumerate(native)
                  if p.reducer.kind != "count"))
            schema = q.schema
            if not all(isinstance(schema[f"__x{i}"].dataType, _NUMERIC)
                       for i, p in enumerate(native)
                       if p.reducer.kind != "count"):
                return None
            table = (_to_arrow(q.limit(bound + 1) if bound else q)
                     if tail is None else _tail_table(q, tail, events))
        except Exception:
            # the large-delta path evaluates the same expressions and
            # reports a failing one against its own projection
            return None
        if bound and table.num_rows > bound:
            return None
        fold_ms = (time.perf_counter() - t0) * 1000.0
        reduced = {}
        for i, p in enumerate(native):
            flag = table.column(f"__c{i}")
            n = len(flag) - flag.null_count
            if n:
                out = ((n, None) if p.reducer.kind == "count" else
                       _reduce_native(p.reducer.kind, table.column(f"__x{i}"),
                                      schema[f"__x{i}"].dataType))
                if out is None:
                    return None
                reduced[i] = n, *out
        oid = table.column("order_id")
        for i, (n, value, weight) in reduced.items():
            mx = pc.max(pc.filter(oid, pc.is_valid(table.column(f"__c{i}"))))
            try:
                _advance_native(native[i], n, value, weight, mx.as_py(),
                                fold_ms, df.sparkSession)
            except OverflowError as exc:
                errors[native[i].projection_name] = exc
        if python:
            pdf = _by_order_id(_event_frame(
                table.select(events), [schema[c] for c in events],
                _pandas_converter(df.sparkSession)))
            counts = {p.projection_name: table.num_rows
                      - table.column(f"__c{j}").null_count
                      for j, p in enumerate(python, len(native))}
            self._fold_python(python, df, where, cap, counts, errors, pdf)
        return pc.max(oid).as_py() or 0

    # -- tier 1, past one Arrow batch: one Catalyst aggregate -------------
    def _fold_native(self, projs: list[Projection], others: list[Projection],
                     df: DataFrame, where: dict, errors: dict):
        """Every native reducer in ONE aggregate, no Python per event.

        Each reducer reads ``when(its stream AND order_id > its resume
        point)`` and brings its row count and max order_id. avg also
        brings its NULL-aware weight: avg skips NULL values, so the
        cross-batch merge must weight by count(expr), not by the row
        count. The same aggregate counts the rows of each projection in
        ``others``. The path of a delta above one Arrow batch. → (the
        delta's max order_id or 0, {name: rows} of ``others``); (0, None)
        when the aggregate failed: each reducer is then evaluated alone,
        so the failure stays with its own projection, as does a running
        long sum merged out of the long range (:func:`_merge_native`).
        """
        try:
            aggs = ["max(order_id) AS top"]
            for i, p in enumerate(projs):
                aggs += _native_aggs(p.reducer, i, where[p.projection_name])
            aggs += [f"count({_only(where[p.projection_name], '1')}) AS c{j}"
                     for j, p in enumerate(others)]
            t0 = time.perf_counter()
            row = df.selectExpr(*aggs).collect()[0].asDict()
            fold_ms = (time.perf_counter() - t0) * 1000.0
        except Exception as exc:
            if len(projs) == 1:
                errors[projs[0].projection_name] = exc
            else:
                for p in projs:
                    self._fold_native([p], [], df, where, errors)
            return 0, None
        for i, p in enumerate(projs):
            if row[f"n{i}"]:
                try:
                    _advance_native(p, row[f"n{i}"], row[f"v{i}"],
                                    row.get(f"w{i}"), row[f"mx{i}"],
                                    fold_ms, df.sparkSession)
                except OverflowError as exc:
                    errors[p.projection_name] = exc
        return (row["top"] or 0,
                {p.projection_name: row[f"c{j}"]
                 for j, p in enumerate(others)})

    # -- tiers 2 and 3: folds on the driver -------------------------------
    def _fold_python(self, projs: list[Projection], df: DataFrame,
                     where: dict, cap: int, counts: dict | None,
                     errors: dict, pdf=None) -> int:
        """Associative and serial projections, each folding its own rows
        on the driver from ONE collect of the union of the rows and
        columns they read, or, for an associative projection above one
        Arrow batch, distributed, so no associative projection puts more
        than one Arrow batch on the driver.

        ``pdf`` is that collect when :meth:`_fold_one_batch` took it,
        with its flags' row ``counts``. Otherwise row ``counts`` (the
        native aggregate's) put every serial delta whole and each
        associative one of at most one Arrow batch into the collect;
        without counts, the serial deltas are collected whole and the
        associative ones fold distributed. Counts skip projections with
        no rows. → the max order_id of the collected rows, 0 when none.
        ``where`` holds each projection's rows as SQL and ``cap`` the
        Arrow batch size, both from the caller.
        """
        cols = df.columns
        serial = {p.projection_name for p in projs
                  if isinstance(p.reducer, PyReducer)}
        if counts is not None:
            projs = [p for p in projs if counts[p.projection_name]]
        driver = {p.projection_name for p in projs
                  if p.projection_name in serial
                  or (counts is not None
                      and (not cap or counts[p.projection_name] <= cap))}
        if pdf is None:
            pdf = _collect(df, projs, driver, where)
        for p in projs:
            name = p.projection_name
            if name in serial:
                rows = _own_rows(pdf, p, cols)
                self._fold_serial(p, rows, cap or max(len(rows), 1))
                continue
            delta = _own_rows(pdf, p, cols) if name in driver else (
                df if where[name] is None else df.where(where[name]))
            try:
                self._fold_associative(p, delta)
            except Exception as exc:
                errors[name] = exc
        if pdf is None or not len(pdf):
            return 0
        return int(pdf["order_id"].max())

    def _fold_serial(self, proj: Projection, pdf, chunk: int) -> Projection:
        """Tier 3: ordered fold of the collected, sorted delta ``pdf`` in
        ``chunk``-row slices, so the per-slice dict conversion stays
        bounded. The delta itself is held in driver memory — the same
        contract a serial fold has under any plan, since a single total
        order ends in one place.
        """
        reducer: PyReducer = proj.reducer  # type: ignore[assignment]
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
                        proj.last_event = recs[i - 1]["order_id"]
                    proj.current_value = state
                    return proj
            proj.record_fold(len(recs), (time.perf_counter() - t0) * 1000.0,
                             state)
            proj.last_event = recs[-1]["order_id"]
        proj.current_value = state
        proj.touch_global_time()
        return proj

    def _fold_associative(self, proj: Projection, delta) -> Projection:
        """Tier 2: fold the delta into partials and merge them, in
        order_id order, into the current value. A collected (pandas)
        delta folds on the driver as a single partial; a DataFrame delta
        folds distributed, one partial per range partition. A raising
        fold or merge leaves the projection untouched."""
        reducer: AssociativeReducer = proj.reducer  # type: ignore[assignment]
        parts = (_fold_partials_distributed(reducer, delta)
                 if isinstance(delta, DataFrame)
                 else _fold_partials(reducer, delta))
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


def _resume(proj: Projection) -> int:
    """The order_id through which ``proj`` has folded or scanned."""
    return max(proj.last_event, proj.scanned)


def _bounds(proj: Projection) -> tuple[str | None, int]:
    """(stream to keep or None, order_id to fold above or 0) of
    ``proj``'s rows."""
    stream = proj.stream_name if proj.stream_name != ALL_STREAMS else None
    return stream, _resume(proj)


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslash escapes, the
    parser's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _where(proj: Projection) -> str | None:
    """``proj``'s rows as a SQL predicate; None keeps every row. One
    SQL string is one py4j call wherever it is used, where a Column
    expression costs a call per operator."""
    stream, resume = _bounds(proj)
    conds = ([f"stream_name = {_sql_string(stream)}"]
             if stream is not None else []) \
        + ([f"order_id > {resume}"] if resume else [])
    return " AND ".join(conds) or None


def _only(where: str | None, expr: str) -> str:
    """SQL of ``expr`` on the rows ``where`` keeps, NULL elsewhere."""
    return expr if where is None else f"CASE WHEN {where} THEN {expr} END"


def _union_rows(df: DataFrame, projs: list[Projection], where: dict):
    """``df``'s rows that any projection of ``projs`` folds (``where`` by
    name)."""
    conds = [where[p.projection_name] for p in projs]
    if any(c is None for c in conds):
        return df
    return df.where(" OR ".join(f"({c})" for c in conds))


def _collect(df: DataFrame, projs: list[Projection], names: set,
             where: dict):
    """Arrow collect of the union of the rows (``where`` by name) and
    columns of the projections of ``projs`` named in ``names``, as
    pandas sorted by order_id; None when no projection is named."""
    projs = [p for p in projs if p.projection_name in names]
    if not projs:
        return None
    q = _union_rows(df, projs, where).select(
        *_collect_columns(projs, df.columns))
    return _by_order_id(_event_frame(_to_arrow(q), q.schema.fields,
                                     _pandas_converter(df.sparkSession)))


def _nullable(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every field, element and value below it nullable."""
    if isinstance(dtype, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                           True, f.metadata)
                             for f in dtype.fields])
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(dtype.keyType, _nullable(dtype.valueType), True)
    return dtype


def _to_arrow(df: DataFrame):
    """``df.toArrow()`` with the fields below its columns made nullable
    first: ``toArrow`` casts to the declared schema and refuses a NULL
    struct whose fields are declared non-nullable, which ``toPandas``
    reads. A frame with no such field (a store read, a micro-batch) is
    collected as it is."""
    schema = T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                         f.nullable, f.metadata)
                           for f in df.schema.fields])
    return (df if schema == df.schema else df.to(schema)).toArrow()


def _tail_table(q: DataFrame, tail, events: list[str]):
    """The Arrow table ``q`` would collect, for ``q`` over the local
    relation of the hot tail's rows ``tail``, in order_id order, with no
    Spark job: Catalyst evaluates ``q``'s other columns (row flags,
    native values) by ``collect()``, which runs none over a local
    relation, and the ``events`` columns are ``tail``'s own, so the
    Python tiers see what :func:`_event_frame` makes of a store read."""
    computed = [c for c in q.columns if c not in events]
    rows = sorted(q.select("order_id", *computed).collect(),
                  key=lambda r: r[0])
    kept = tail.filter(pc.is_in(
        tail.column("order_id"),
        value_set=pa.array([r[0] for r in rows], pa.int64())))
    kept = kept.sort_by("order_id").select(events)
    return pa.Table.from_arrays(
        [*kept.columns, *(pa.array([r[k] for r in rows])
                          for k in range(1, len(computed) + 1))],
        names=[*events, *computed])


def _pandas_converter(session):
    """``field`` → PySpark's converter of an Arrow column of that Spark
    field to pandas, set up as PySpark's own pandas collect sets it up,
    so a ``toArrow`` collect reaches the folds with the same values and
    types."""
    jconf = session._jconf
    mode = jconf.pandasStructHandlingMode()
    tz = jconf.sessionLocalTimeZone()
    return lambda f: _create_converter_to_pandas(
        f.dataType, f.nullable, timezone=tz,
        struct_in_pandas="dict" if mode == "legacy" else mode,
        error_on_duplicated_field_names=mode == "legacy")


def _event_frame(table, fields: list, convert):
    """The Arrow collect ``table`` (columns typed by the Spark ``fields``)
    as pandas, each column converted by ``convert(field)``
    (:func:`_pandas_converter`)."""
    import pandas as pd

    raw = table.rename_columns([f"c{i}" for i in range(len(fields))]) \
        .to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    return pd.DataFrame(
        {f.name: convert(f)(raw[f"c{i}"]) for i, f in enumerate(fields)},
        index=raw.index)


def _by_order_id(pdf):
    """``pdf`` stably sorted by order_id."""
    return pdf.sort_values("order_id", kind="stable", ignore_index=True)


def _own_rows(pdf, proj: Projection, columns: list[str]):
    """``proj``'s rows and columns of the collected union ``pdf``."""
    stream, resume = _bounds(proj)
    if stream is not None:
        pdf = pdf[pdf["stream_name"] == stream]
    if resume:
        pdf = pdf[pdf["order_id"] > resume]
    keep = _reads(proj, columns)
    return pdf if list(pdf.columns) == keep else pdf[keep]


def _reads(proj: Projection, columns: list[str]) -> list[str]:
    """The event columns ``proj``'s fold sees: a serial reducer's
    ``columns`` hint (+ order_id), else all of them."""
    hint = getattr(proj.reducer, "columns", None)
    if hint is None:
        return list(columns)
    return list(dict.fromkeys([*hint, "order_id"]))


def _collect_columns(projs: list[Projection], columns: list[str]) -> list[str]:
    """The union of the columns ``projs`` read, plus the ones that pick
    each projection's rows on the driver."""
    keys = ["order_id"]
    if any(_bounds(p)[0] is not None for p in projs):
        keys.append("stream_name")
    want = {c for p in projs for c in _reads(p, columns)} | set(keys)
    return [c for c in columns if c in want]


def _native_aggs(reducer: NativeReducer, i: int,
                 where: str | None) -> list[str]:
    """The aggregate columns, as SQL, of native reducer number ``i`` over
    the rows ``where`` keeps: ``n{i}`` rows, ``v{i}`` value, ``mx{i}``
    max order_id, and for avg ``w{i}``, its non-NULL weight."""
    val = _only(where, "1" if reducer.kind == "count" else reducer.expr)
    out = [f"count({_only(where, '1')}) AS n{i}",
           f"{reducer.kind}({val}) AS v{i}",
           f"max({_only(where, 'order_id')}) AS mx{i}"]
    if reducer.kind == "avg":
        out.append(f"count({val}) AS w{i}")
    return out


def _merge_native(proj: Projection, n: int, value: Any, weight: Any,
                  session) -> None:
    """Merge a delta's native aggregate (``n`` rows, ``value``, avg's
    non-NULL ``weight``) into ``proj``'s running value: the first delta
    takes ``value``, count and sum add, min and max compare, and avg
    weights by the non-NULL counts.

    A merged count or integral sum outside the long range is what
    Catalyst's own sum would meet folding the same events from zero:
    with ``spark.sql.ansi.enabled`` (read from ``session`` only then)
    this raises OverflowError and leaves ``proj`` unchanged; without it
    the sum wraps as a long does."""
    prev = proj.current_value
    kind = proj.reducer.kind  # type: ignore[union-attr]
    if kind == "avg":
        if weight:
            prev_w = proj.native_weight
            proj.current_value = (value if prev is None or prev_w == 0 else
                                  (prev * prev_w + value * weight)
                                  / (prev_w + weight))
            proj.native_weight = prev_w + weight
        return
    if prev is None or proj.processed == 0:
        merged = value
    elif value is None:
        merged = prev
    elif kind in ("count", "sum"):
        merged = prev + value
    else:
        merged = (min if kind == "min" else max)(prev, value)
    if type(merged) is int and not -_LONG <= merged < _LONG:
        if session.conf.get("spark.sql.ansi.enabled",
                            "true").lower() == "true":
            raise OverflowError(
                f"[ARITHMETIC_OVERFLOW] long overflow: the running "
                f"{kind} of projection {proj.projection_name!r} "
                f"leaves the long range")
        merged = (merged + _LONG) % (2 * _LONG) - _LONG
    proj.current_value = merged


def _advance_native(proj: Projection, n: int, value: Any, weight: Any,
                    mx: int, fold_ms: float, session) -> None:
    """Fold a delta's native aggregate (``n`` > 0 rows, ``value``, avg's
    ``weight``, max order_id ``mx``) into ``proj`` with its metrics;
    OverflowError, ``proj`` unchanged, as :func:`_merge_native` raises."""
    _merge_native(proj, n, value, weight, session)
    proj.record_fold(n, fold_ms, proj.current_value)
    proj.last_event = mx
    proj.touch_global_time()


_NUMERIC = (T.IntegralType, T.FloatType, T.DoubleType)
_LONG = 1 << 63


def _reduce_native(kind: str, col, dtype):
    """(value, avg's non-NULL weight) of a native reducer over its per-row
    values ``col`` (an Arrow column of the integral or floating Spark type
    ``dtype``, NULL off its rows), equal in value and Python type to its
    Catalyst aggregate over the same rows; None for an integral sum some
    partial sum of which could leave the long range, where Catalyst
    decides whether it raises (ANSI) or wraps.

    The values reach Python through Arrow types, never pandas
    ``float64``, so longs past 2**53 stay exact."""
    vals = [v for v in col.to_pylist() if v is not None]
    if not vals:
        return None, 0
    if kind in ("min", "max"):
        # Spark orders NaN above every other value
        return (min if kind == "min" else max)(
            vals, key=lambda v: (v != v, v)), None
    if kind == "avg":
        # Catalyst averages integral values as doubles
        return (functools.reduce(operator.add, map(float, vals), 0.0)
                / len(vals), len(vals))
    if isinstance(dtype, T.IntegralType):
        # under this bound no partial sum, in any order, leaves the range
        return (sum(vals), None) if sum(map(abs, vals)) < _LONG else None
    return functools.reduce(operator.add, vals, 0.0), None


def _ordered_fold(fold, zero):
    """→ ``run(batches)``: fold pandas ``batches`` (already in order_id
    order) from ``zero`` → (state, first order_id, last order_id, events,
    fold ms). The driver path and the executors' partition fold both run
    it, so the fold sees the same event dicts on either path. Nested, so
    cloudpickle ships it by value and executors need not import this
    package."""
    def run(batches):
        state, lo, mx, n = zero, None, 0, 0
        t0 = time.perf_counter()
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                oid = rec["order_id"]
                if lo is None:
                    lo = oid
                mx = oid
                state = fold(state, rec)
                n += 1
        return state, lo, mx, n, (time.perf_counter() - t0) * 1000.0
    return run


def _fold_partials(reducer: AssociativeReducer, pdf) -> list[dict]:
    """One partial from ``zero`` over the collected delta ``pdf``,
    already in order_id order."""
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
    # span → partials merge left-to-right correctly.
    rows = (df.repartitionByRange("order_id")
              .sortWithinPartitions("order_id")
              .mapInPandas(
                  fold_partition,
                  schema="lo long, mx long, n long, ms double, blob binary")
              .collect())
    rows.sort(key=lambda r: r["lo"])
    return [{"n": r["n"], "mx": r["mx"], "ms": r["ms"],
             "state": pickle.loads(r["blob"])} for r in rows]

