"""The registry part of ``batch``: an analyst running a fixed set of
registry operators.

The tables are generated from the seed with the registry testdata's
schema at the scale of sf0.001 (``datagen.registry_tables``). One pass
constructs each row's DataFrame (``QUERIES[name](spark, dir)``) and
collects it. The first pass is the cold one. Every collected result is
hash-checked against its DuckDB oracle, which is computed once in
set-up, outside any timed phase.

The rows mix the four kinds the registry holds: rows that still submit
Spark jobs while being constructed, rows that hit the plan memo, rows
whose cost is in the action kernel, and photon/streaming rows.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench.harness import OpFailed

ROWS = (
    "streams_totals",             # photon: __streams__ totals
    "containment_pairs",          # pair-mining kernel in the action
    "scd2_history_salted",        # salted window kernel, construction jobs
    "events_gap_fill",            # window fill (memo hit)
    "revenue_by_nation",          # relational join (memo hit)
)
SCALE = 1.0               # registry_tables scale: 1.0 = sf0.001


def oracle_hashes(data_dir: str) -> dict:
    """``{row: (columns, row count, value hash)}`` from DuckDB."""
    import duckdb

    from photon_spark import queries as Q

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from check_correctness import TABLES, value_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for name in ROWS:
            rel = con.sql(Q.ORACLES[name])
            rows = rel.fetchall()
            cols = [c.lower() for c in rel.columns]
            out[name] = (sorted(cols), len(rows), value_hash(rows, cols))
        return out
    finally:
        con.close()


def registry_pass(b, data_dir: str, oracle: dict) -> float:
    """One pass over ROWS; returns the summed construct-and-collect time
    of its rows in ms (the hash checks are not timed)."""
    from check_correctness import value_hash

    from photon_spark import queries as Q

    total = 0.0
    for name in ROWS:
        t = time.perf_counter()
        try:
            df = b.op("registry.construct", Q.QUERIES[name], b.spark,
                      data_dir)
            rows = b.op("registry.action", df.collect)
        except OpFailed:
            b.check(False, f"registry row {name} failed")
            continue
        ms = (time.perf_counter() - t) * 1000.0
        total += ms
        b.samples.add(f"registry.row.{name}", ms)
        cols = [c.lower() for c in df.columns]
        got = (sorted(cols), len(rows),
               value_hash([tuple(r) for r in rows], cols))
        b.check(got == oracle[name],
                f"{name}: spark {got} != oracle {oracle[name]}")
    return total
