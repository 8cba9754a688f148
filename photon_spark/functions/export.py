"""Training-shard export — the SINK end of the corpus pipeline: packed
documents laid out into contiguous, reproducible shards a training
loader streams in order.

Reference anchor: photon's only export is the gzipped event-line dump
(api.clj:207-215 → events.py S3); a training pipeline additionally needs
the corpus exported as N shards of contiguous training sequences.
:func:`shard_plan` is the PLAN (which doc → which shard), checkable
against a SQL oracle.

Scale shape: shard assignment is pure arithmetic over the packing
relation (first_seq div seqs_per_shard) — no new shuffle beyond
pack_sequences' single bucket exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photon_spark.functions.chunking import pack_sequences


def shard_plan(packed: DataFrame, seqs_per_shard: int) -> DataFrame:
    """Per-shard manifest over a :func:`pack_sequences` relation: docs
    are owned by the shard of their FIRST sequence (boundary-spanning
    docs count once; the loader masks the tail into the next shard —
    the standard contiguous-shard contract). Emits (shard_id, n_docs,
    n_seqs, n_tokens, n_boundary_docs)."""
    shard = F.expr(f"first_seq div {seqs_per_shard}")
    return (packed.groupBy(shard.cast("long").alias("shard_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.max("last_seq") - F.min("first_seq") + 1).cast("long")
                  .alias("n_seqs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum(F.col("spans_boundary").cast("long"))
                  .alias("n_boundary_docs")))
