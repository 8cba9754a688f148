"""The photon API surface (E1-E6) as one PySpark-native facade.

One function per endpoint of the reference's API layer
(/root/reference/src/photon/api.clj, routed by handler.clj) — the
serving-layer transports (REST/WS/AMQP, E7-E9) are out of engine scope
(SURVEY.md §7 non-goals), but every backing operation is exposed here so a
photon client's call surface maps 1:1:

| Reference (api.clj / handler.clj)         | Here                       |
|-------------------------------------------|----------------------------|
| post-event! (api.clj:35-44)               | :meth:`PhotonAPI.post_event` |
| get event (api.clj:17-18)                 | :meth:`PhotonAPI.get_event`  |
| stream-contents, limit 50 (api.clj:90-101)| :meth:`PhotonAPI.stream_contents` |
| streams + totals (api.clj:66-71)          | :meth:`PhotonAPI.streams`    |
| projection-keys / projections (api.clj:73-88) | :meth:`PhotonAPI.projection_keys` / :meth:`PhotonAPI.projections` |
| projection value (api.clj:51-64)          | :meth:`PhotonAPI.projection_value` |
| post/delete projection (api.clj:20-33)    | :meth:`PhotonAPI.post_projection` / :meth:`PhotonAPI.delete_projection` |
| schema endpoint (handler.clj:256-263)     | :meth:`PhotonAPI.schema`     |
| export/import (api.clj:103-186)           | :meth:`PhotonAPI.export_stream` / :meth:`PhotonAPI.import_stream` |
| delete stream/event (api.clj:131-147)     | :meth:`PhotonAPI.delete_stream` / :meth:`PhotonAPI.delete_event` |
| ws stats (handler.clj:67-82, api.clj:188-201) | :meth:`PhotonAPI.stats`  |
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from photon_spark.catalog import Catalog
from photon_spark.events import ALL_STREAMS, EventStore
from photon_spark.projections.engine import ProjectionEngine
from photon_spark.schema_infer import get_schema
from photon_spark.stats import global_counters, runtime_stats


class PhotonAPI:
    """Engine handle = store + engine + catalog, with the E1-E6 surface."""

    def __init__(self, spark: SparkSession, path: str):
        self.store = EventStore(spark, path)
        self.engine = ProjectionEngine(self.store)
        self.catalog = Catalog(self.store, self.engine)
        if self.store._exists():
            self.catalog.sync()  # restart recovery (core.clj:81-135)

    # ------------------------------------------------------------- events
    def post_event(self, stream_name: str, payload: str | None = None,
                   **envelope: Any) -> int:
        """E5 POST /event: append one event; stream implicitly created.
        The full client envelope is accepted — including ``provenance``
        (doc/schemas.md's caused-by triple) — and anything OUTSIDE the
        envelope (a typo like ``event_typ``) is rejected loudly instead of
        being silently dropped."""
        return self.store.ingest_rows(
            [{"stream_name": stream_name, "payload": payload, **envelope}])

    def get_event(self, stream_name: str, order_id: int):
        """E5 GET /event/:stream/:order-id (R4 point lookup)."""
        return self.store.event(stream_name, order_id)

    def stream_contents(self, stream_name: str, limit: int = 50):
        """E5 GET /stream-contents/:stream — fixed limit 50 like the
        reference (handler.clj:264-269)."""
        return self.store.read_cold(stream_name, limit=limit)

    # ------------------------------------------------------------ streams
    def streams(self) -> list[dict]:
        """E1 GET /streams: names + total events. Advances the
        projections to the store's current version first (see
        :meth:`_advance`), so the endpoint never serves totals staled by
        ingests that happened after the last advance."""
        if self.engine.projection("__streams__") is not None:
            self._advance("__streams__")
        totals = self.engine.value("__streams__") or {}
        if not totals:
            rows = (self.store.read_all().groupBy("stream_name").count()
                    .collect()) if self.store._exists() else []
            totals = {r["stream_name"]: r["count"] for r in rows}
        return [{"stream": s, "total-events": n}
                for s, n in sorted(totals.items())]

    def schema(self, stream_name: str) -> dict:
        """E6 GET /schema/:stream-name (A6 inference)."""
        return get_schema(self.store.read_all(), stream_name)

    # -------------------------------------------------------- projections
    def projection_keys(self) -> list[str]:
        return self.catalog.projection_keys()

    def projections(self) -> list[dict]:
        return self.catalog.projections()

    def projection_value(self, name: str, query_key: str | None = None):
        """E3 — advance to the store's current version, then read."""
        if self.engine.projection(name) is None:
            return None
        self._advance(name)
        return self.engine.value(name, query_key)

    def _advance(self, name: str) -> None:
        """Advance every projection from one delta read (none at all
        while the store's version is unchanged); re-raise the error of
        ``name``'s own reducer, if it raised."""
        error = self.engine.advance_all().get(name)
        if error is not None:
            raise error

    def post_projection(self, name: str, reduction: str,
                        stream_name: str = ALL_STREAMS,
                        initial_value: Any = None,
                        language: str = "python") -> None:
        self.catalog.post_projection(name, reduction, stream_name,
                                     initial_value, language)

    def delete_projection(self, name: str) -> None:
        self.catalog.delete_projection(name)

    # ----------------------------------------------------- import/export
    def export_stream(self, stream_name: str, out_path: str) -> int:
        return self.store.export_stream(stream_name, out_path)

    def import_stream(self, in_path: str,
                      stream_name: str | None = None) -> str:
        return self.store.import_stream(in_path, stream_name)

    # ------------------------------------------------------------ deletes
    def delete_event(self, stream_name: str, order_id: int) -> None:
        self.store.delete_event(stream_name, order_id)

    def delete_stream(self, stream_name: str) -> None:
        self.store.delete_stream(stream_name)

    # -------------------------------------------------------------- stats
    def stats(self) -> dict:
        """E7 ws-stats payload: A9 counters + A10 runtime snapshot."""
        return {**global_counters(self.store, self.engine),
                **runtime_stats()}
