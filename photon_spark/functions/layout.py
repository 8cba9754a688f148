"""Data-layout operators: Z-order (Morton) interleaving and the min-max
file-skipping audit that justifies it.

At 100 TB the scan cost of a query is decided before it runs — by how
rows were laid out into files when they were written. Sorting by one
column gives perfect pruning on that column and none on any other;
interleaving the bits of two columns (Z-ordering) gives useful min-max
pruning on BOTH. These helpers keep the whole computation in exact
integer bit arithmetic so the audit is hash-gateable across engines.

Reference behavior modeled: multi-dimensional clustering as in public
lakehouse layouts (Delta/Iceberg Z-ordering); photon itself has no
analogue — this is part of the driver-mandated scale extension surface.
"""

from __future__ import annotations


def zvalue_expr(x: str, y: str, bits: int, engine: str) -> str:
    """Morton interleave of the low ``bits`` bits of integer columns
    ``x`` and ``y`` — the SAME arithmetic spelled for either engine
    (``engine`` ∈ {"spark", "duckdb"}): z = Σ ((x>>i)&1)<<2i  |  Σ
    ((y>>i)&1)<<2i+1, built as one flat sum so both engines fold it the
    same way."""
    terms = []
    for i in range(bits):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"
