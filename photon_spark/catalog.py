"""A5 — event-sourced control plane: projection DDL as __config__ events.

Reference semantics (api.clj:20-33, core.clj:81-135): ``post-projection!`` /
``delete-projection!`` do not mutate the registry directly — they append
events to the internal ``__config__`` stream; a subscription on that stream
applies them. Restart recovery = replay ``__config__`` from the start. The
engine is therefore self-describing: backup of the events table captures
queries too (doc/index.adoc:288-315).

Spark mapping: __config__ is just another stream in the events table; the
"subscription" is :meth:`Catalog.sync`, invoked after appends and on
startup (the streaming layer can drive it from a hot-cold subscription).
"""

from __future__ import annotations

import json
from typing import Any

from photon_spark.events import ALL_STREAMS, CONFIG_STREAM, EventStore
from photon_spark.projections.engine import (
    AssociativeReducer, DEFAULT_PROJECTIONS, ProjectionEngine)


def _streams_fold(state: dict | None, ev: dict) -> dict:
    """__streams__ per-stream total-events fold (default_projs.clj:8-26)."""
    state = dict(state or {})
    s = ev.get("stream_name") or ""
    state[s] = state.get(s, 0) + 1
    return state


def _streams_merge(a: dict | None, b: dict | None) -> dict:
    out = dict(a or {})
    for k, v in (b or {}).items():
        out[k] = out.get(k, 0) + v
    return out


class Catalog:
    """Projection catalog driven by __config__ events."""

    def __init__(self, store: EventStore, engine: ProjectionEngine | None = None):
        self.store = store
        self.engine = engine or ProjectionEngine(store)
        self._applied_order_id = 0
        self._register_defaults()

    # ------------------------------------------------------------- defaults
    def _register_defaults(self) -> None:
        """default_projs.clj:41-51 — __streams__ (per-stream totals +
        schema inference) and __security-state__ exist from boot and are
        delete-protected. The per-stream counting fold is associative, so
        it runs on the distributed tier (range-partitioned partial folds,
        ordered merge)."""
        self.engine.register(
            "__streams__",
            AssociativeReducer(fold=_streams_fold, merge=_streams_merge,
                               zero={}),
            stream_name=ALL_STREAMS, initial_value={})
        self.engine.register(
            "__security-state__",
            "lambda st, ev: __import__('photon_spark.catalog', "
            "fromlist=['apply_security_event']).apply_security_event(st, ev)",
            stream_name="__security__", initial_value={})

    # ------------------------------------------------------------------ DDL
    def post_projection(self, projection_name: str, reduction: str,
                        stream_name: str = ALL_STREAMS,
                        initial_value: Any = None,
                        language: str = "python") -> None:
        """Append a post-projection! event (api.clj:20-26) and sync."""
        self._append_config("post-projection!", {
            "projection-name": projection_name,
            "reduction": reduction,
            "stream-name": stream_name,
            "initial-value": json.dumps(initial_value),
            "language": language,
        })
        self.sync()

    def delete_projection(self, projection_name: str) -> None:
        """Append a delete-projection! event (api.clj:28-33) and sync."""
        self._append_config("delete-projection!",
                            {"projection-name": projection_name})
        self.sync()

    def _append_config(self, event_type: str, payload: dict) -> None:
        self.store.ingest_rows([{"stream_name": CONFIG_STREAM,
                                 "event_type": event_type,
                                 "service_id": "photon_spark",
                                 "payload": json.dumps(payload)}])

    # ----------------------------------------------------------------- sync
    def sync(self) -> int:
        """Apply unapplied __config__ events in order (core.clj:81-100).
        Returns the number applied. Restart recovery = fresh Catalog +
        sync() — the registry is rebuilt purely from the event log."""
        new = self.store.read_cold(CONFIG_STREAM,
                                   from_=self._applied_order_id + 1)
        applied = 0
        for row in new.collect():
            payload = json.loads(row["payload"] or "{}")
            etype = row["event_type"]
            if etype == "post-projection!":
                init = payload.get("initial-value")
                self.engine.register(
                    payload["projection-name"],
                    payload["reduction"],
                    stream_name=payload.get("stream-name", ALL_STREAMS),
                    initial_value=json.loads(init) if init else None,
                    language=payload.get("language", "python"))
            elif etype == "delete-projection!":
                name = payload.get("projection-name", "")
                if name not in DEFAULT_PROJECTIONS:  # core.clj:102-107
                    self.engine.unregister(name)
            self._applied_order_id = row["order_id"]
            applied += 1
        return applied

    # ------------------------------------------------------------ API views
    def projections(self) -> list[dict]:
        """E2 /api/projections — descriptors with heavy fields stripped
        (F4, api.clj:73-88)."""
        return [p.descriptor() for p in self.engine.registry.values()]

    def projection_keys(self) -> list[str]:
        return self.engine.projection_keys()


def apply_security_event(state: dict, ev: dict) -> dict:
    """A7 __security-state__ fold (default_projs.clj:28-39): apply
    create-app!/delete-app! events into {username: {client-id: app}}."""
    payload = json.loads(ev.get("payload") or "{}")
    etype = ev.get("event_type")
    state = dict(state or {})
    if etype == "create-app!":
        user = payload.get("username", "")
        apps = dict(state.get(user, {}))
        apps[payload.get("client-id", "")] = payload
        state[user] = apps
    elif etype == "delete-app!":
        user = payload.get("username", "")
        if user in state:
            apps = dict(state[user])
            apps.pop(payload.get("client-id", ""), None)
            state[user] = apps
    return state
