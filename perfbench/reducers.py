"""The three projection tiers every event workload folds.

Kept in a module of their own, importing only ``json``: the associative
fold runs on Spark's Python workers, which import it by name.
"""

from __future__ import annotations

import json


def sentiment(ev: dict) -> int:
    return json.loads(ev["payload"])["textanalysis"]["aggregateSentiment"]


def assoc_fold(state, ev):
    return (state[0] + 1, state[1] + sentiment(ev))


def assoc_merge(a, b):
    return (a[0] + b[0], a[1] + b[1])


def serial_fold(state, ev):
    """Count and sum, refusing any event that arrives out of order_id
    order — the serial tier's ordering contract made observable."""
    if ev["order_id"] <= state[2]:
        raise ValueError(f"order_id {ev['order_id']} after {state[2]}")
    return (state[0] + 1, state[1] + sentiment(ev), ev["order_id"])


def register_tiers(engine) -> None:
    """Register ``native`` (sentiment sum), ``assoc`` and ``serial``
    (event count, sentiment sum) on a ProjectionEngine."""
    from perfbench.datagen import SENTIMENT_SQL
    from photon_spark.projections.engine import (AssociativeReducer,
                                                 NativeReducer, PyReducer)

    engine.register("native", NativeReducer("sum", SENTIMENT_SQL),
                    initial_value=0)
    engine.register("assoc", AssociativeReducer(
        fold=assoc_fold, merge=assoc_merge, zero=(0, 0)),
        initial_value=(0, 0))
    engine.register("serial", PyReducer(
        fn=serial_fold, columns=("payload", "order_id")),
        initial_value=(0, 0, 0))


TIERS = ("native", "assoc", "serial")


def tier_totals(engine) -> dict:
    """``{tier: (count, sum)}`` from an engine's current values."""
    out = {}
    for t in TIERS:
        p = engine.projection(t)
        v = p.current_value
        out[t] = ((p.processed, v) if t == "native" else tuple(v[:2]))
    return out
