"""Skew mitigation utilities — the manual salting technique for the hot
keys AQE's runtime skew-join splitting can't always save (e.g. a
broadcast-ineligible dimension joined on a power-law key, or a
high-cardinality-state aggregate like collect_list where map-side
partial aggregation doesn't shrink the hot key's state).

Session defaults already enable AQE skew handling
(photon_spark/session.py: spark.sql.adaptive.skewJoin.enabled); these
helpers are for the cases where the salt must be in the PLAN: AQE splits
a skewed shuffle partition only for sort-merge joins after stats are
known, while salting rewrites the key space so no partition is ever
skewed in the first place.

All helpers are value-transparent: results equal the unsalted form
row-for-row (pinned in tests on a constructed power-law key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: default salt fan-out — bounds any one key's share of a reduce task to
#: ~1/SALT of its rows
DEFAULT_SALT = 16


def salted_join(big: DataFrame, small: DataFrame, on: str,
                salt: int = DEFAULT_SALT, how: str = "inner") -> DataFrame:
    """Equi-join where ``big``'s hot keys are spread across ``salt``
    sub-keys: big rows get a deterministic salt from their full row hash,
    small rows replicate ``salt``× (one per salt value), and the join key
    becomes (key, salt). A key holding 40% of the table now occupies at
    most ~40/salt % of any reduce task.

    Cost model: replicating ``small`` salt× is the price — use only when
    ``small`` is too big to broadcast outright but salt×|small| still
    shuffles cheaper than the hot key's skew stalls the stage. Result is
    row-identical to ``big.join(small, on, how)`` (salt columns are
    internal and dropped)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    bcols, scols = big.columns, [c for c in small.columns if c != on]
    # deterministic per-row salt: stable across retries (a random salt
    # would break task re-execution determinism)
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in bcols]),
                        F.lit(salt)).cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    j = b.join(s, [on, "_salt"], how)
    return j.select(*bcols, *scols)


def salted_collect_list(df: DataFrame, key: str, value: str | Column,
                        salt: int = DEFAULT_SALT,
                        sorted_lists: bool = False) -> DataFrame:
    """groupBy(key).collect_list(value) for skewed keys: aggregate per
    (key, salt) first — each partial list is ≤ ~1/salt of the hot key's
    rows — then merge the ≤ ``salt`` partial lists per key with flatten.
    Map-side partial aggregation can't shrink collect_list state, so a
    hot key otherwise concentrates its entire list in one task; salting
    caps per-task state.

    The salt mixes the value hash with ``spark_partition_id()`` so
    duplicate (key, value) rows spread across salt buckets instead of
    all hashing to one (a value hash alone gives a hot key with a
    low-cardinality value column no relief); still deterministic under
    task retry (a retried task re-reads the same input split, so its
    partition id is stable).

    ``sorted_lists``: sort each final list by the value's natural
    ordering (struct values compare field-by-field in declaration
    order — put the sort key first). Without it list order is
    partition-dependent, exactly as with plain collect_list."""
    v = F.col(value) if isinstance(value, str) else value
    d = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key), v.cast("string"),
                                   F.spark_partition_id()),
                        F.lit(salt)).cast("int"))
    part = (d.groupBy(key, "_salt")
             .agg(F.collect_list(v).alias("_part")))
    merged = (part.groupBy(key)
                  .agg(F.flatten(F.collect_list("_part")).alias("values")))
    if sorted_lists:
        merged = merged.select(
            key, F.array_sort("values").alias("values"))
    return merged


def bucketed_key_window(df: DataFrame, keys: list[str],
                        order_cols: list[str], lead_cols: list[str],
                        n_buckets: int = DEFAULT_SALT,
                        rn_col: str = "_rn") -> DataFrame:
    """Per-key ordered-window ops (``row_number`` + ``lead``) with NO
    one-task-per-key ceiling — the salted two-pass fallback for the
    ``scd2_history`` / sessionization window shape on power-law keys.

    The plain form ``Window.partitionBy(keys).orderBy(order_cols)``
    gives every key exactly one task: a key holding 40% of a 100 TB
    changelog sorts its entire history in ONE executor's sort buffer,
    and AQE's skew splitting cannot divide a window partition. This
    kernel removes the ceiling while staying value-identical:

    1. every row gets a deterministic RANGE bucket of its first order
       column — ``(v - lo) div ceil(span / B)`` from a 1-row global
       bounds aggregate; monotone in the value, so ordering by
       (bucket, order) IS the per-key order, and equal values can
       never straddle a bucket boundary (the tie-break columns stay
       inside one bucket's local sort);
    2. local ``row_number``/``lead`` run per (key, bucket) — a hot
       key's history now spreads over ≤ B tasks, each sorting ~1/B of
       it;
    3. stitching is METADATA-sized: per (key, bucket), one count + the
       bucket's first record (a min-struct aggregate, partial-combined
       map-side). Offsets are a running sum over ≤ B rows per key, and
       each bucket's last row takes its ``lead`` from the NEXT
       non-empty bucket's first record (empty buckets simply don't
       appear, so ``lead`` over the summary rows is exactly "next
       non-empty"). The summary relation has ≤ |keys|·B rows — never
       data-sized.

    Cost: two keyed shuffles of the data (the (key, bucket) window and
    the summary join) plus a |keys|·B-row aggregate, vs one shuffle for
    the plain form — the documented ~2× premium that buys unbounded
    per-key history. Adopt when one key's history exceeds an
    executor's sort budget (SCALE.md's skewed-key-window section).

    Boundary handoff is POSITIONAL (``local_rn == bucket count``), not
    a null-coalesce on the local lead, so a legitimately-NULL lead
    value inside a bucket is never clobbered by the next bucket's
    first record.

    Output: input columns + ``rn_col`` (global per-key row number,
    long) + ``_next_<c>`` for each ``lead_cols`` entry (the per-key
    ``lead(c)``; NULL on each key's true last row).
    """
    first_ord = order_cols[0]
    bounds = df.agg(F.min(first_ord).alias("lo"),
                    F.max(first_ord).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # empty input: emit the right schema with zero rows
        out = df.withColumn(rn_col, F.lit(None).cast("long"))
        for c in lead_cols:
            out = out.withColumn(f"_next_{c}", F.col(c))
        return out.where(F.lit(False))
    # overflow-free integer bucket width: div-first, never (v-lo)*B;
    # and integer DIV, never float `/` — epoch-ns values live past
    # 2^53 where float64 division would alias adjacent buckets
    width = max(1, (int(hi) - int(lo)) // int(n_buckets) + 1)
    d = df.withColumn(
        "_bkt", F.expr(f"(`{first_ord}` - {int(lo)}L) "
                       f"DIV {width}L").cast("long"))

    w_local = (Window.partitionBy(*keys, "_bkt")
                     .orderBy(*[F.asc(c) for c in order_cols]))
    loc = d.withColumn("_lrn", F.row_number().over(w_local).cast("long"))
    for c in lead_cols:
        loc = loc.withColumn(f"_llead_{c}", F.lead(c).over(w_local))

    # Per-bucket first record. When every lead column IS the first order
    # column (the scd2 shape), min(first_ord) alone determines the
    # handoff value — rows tying on first_ord agree on it by definition,
    # so the tie-break columns can't change what the consumer extracts.
    # That keeps the summary a plain-long HashAggregate with map-side
    # partial combine before its (tiny) exchange; the generic
    # min(struct(...)) falls back to SortAggregate, which SORTS THE FULL
    # RELATION inside every scan task before the partial agg — measured
    # as the dominant summary-branch cost (guide §2.3/§5).
    first_only = set(lead_cols) <= {first_ord}
    if first_only:
        summary = (d.groupBy(*keys, "_bkt")
                    .agg(F.count(F.lit(1)).alias("_cnt"),
                         F.min(first_ord).alias("_first")))
    else:
        rec_cols = list(order_cols) + [c for c in lead_cols
                                       if c not in order_cols]
        summary = (d.groupBy(*keys, "_bkt")
                    .agg(F.count(F.lit(1)).alias("_cnt"),
                         F.min(F.struct(*rec_cols)).alias("_first")))
    w_key = Window.partitionBy(*keys).orderBy("_bkt")
    summary = (summary
               .withColumn("_off",
                           F.coalesce(
                               F.sum("_cnt").over(
                                   w_key.rowsBetween(
                                       Window.unboundedPreceding, -1)),
                               F.lit(0)))
               .withColumn("_nxt", F.lead("_first").over(w_key)))

    joined = loc.join(summary, [*keys, "_bkt"])
    out = joined.withColumn(rn_col, (F.col("_off") + F.col("_lrn")))
    last_in_bucket = F.col("_lrn") == F.col("_cnt")
    for c in lead_cols:
        nxt_val = F.col("_nxt") if first_only else F.col("_nxt")[c]
        out = out.withColumn(
            f"_next_{c}",
            F.when(last_in_bucket, nxt_val)
             .otherwise(F.col(f"_llead_{c}")))
    drop = (["_bkt", "_lrn", "_cnt", "_first", "_off", "_nxt"]
            + [f"_llead_{c}" for c in lead_cols])
    return out.drop(*drop)


def salted_sessionize(df: DataFrame, key_cols: list[str], ts_col: str,
                      tiebreak_col: str | None = None,
                      gap_ns: int = 24 * 3600 * 1_000_000_000,
                      n_buckets: int = DEFAULT_SALT) -> DataFrame:
    """Gap sessionization (``sessions.sessionize`` semantics: 1-based
    ``session_idx`` per key) with NO one-task-per-key ceiling — the
    gaps-and-islands member of the hot-key window family.

    The island structure stitches with METADATA-sized corrections, so
    unlike the generic two-window form this costs ONE window pass over
    the data plus one map-side-combinable aggregate:

    1. range-bucket by ts (the bucketed_key_window rule — integer DIV,
       monotone, equal timestamps can never straddle a boundary);
    2. per (key, bucket): local lag + local running break count, with
       the bucket's first row provisionally counted as a break;
    3. per-bucket summary (first/last ts + local break total — all
       independent of neighbors, so ONE aggregate): the previous
       non-empty bucket's last ts decides whether the first row's
       provisional break was real; if not, the whole bucket's local
       counts shift down by one. Offsets are the running sum of the
       corrected totals over ≤ B rows per key.

    A session spanning a bucket boundary is glued exactly: its rows in
    the later bucket inherit the earlier bucket's running count through
    the offset, and the spurious first-row break is subtracted via the
    correction. Result is row-identical to the plain form (pinned in
    tests on a constructed hot-key table and by the hash gate —
    ``session_window_stats_salted`` shares the native row's oracle).
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    bounds = df.agg(F.min(ts_col).alias("lo"),
                    F.max(ts_col).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        return df.withColumn("session_idx",
                             F.lit(None).cast("long")).where(F.lit(False))
    width = max(1, (int(hi) - int(lo)) // int(n_buckets) + 1)
    d = df.withColumn(
        "_bkt", F.expr(f"(`{ts_col}` - {int(lo)}L) "
                       f"DIV {width}L").cast("long"))

    w_local = (Window.partitionBy(*key_cols, "_bkt")
                     .orderBy(*[F.asc(c) for c in order]))
    lag_local = F.lag(ts_col).over(w_local)
    brk_local = F.when(lag_local.isNull()
                       | (F.col(ts_col) - lag_local > F.lit(gap_ns)),
                       1).otherwise(0)
    run = w_local.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
    loc = d.withColumn("_lcum", F.sum(brk_local).over(run))

    # ONE per-(key, bucket) aggregate over loc serves the whole summary:
    # _first_ts/_last_ts are plain min/max of ts, and the local break
    # total equals max(_lcum) (the bucket's final running count) — all
    # grouped by exactly loc's window partitioning, so the aggregate
    # runs directly on the windowed relation with NO new exchange. This
    # replaces the previous three-relation shape (a second full scan of
    # the input for min/max ts, a separate max(_lcum) aggregate over
    # loc, and the join gluing them) — one scan and one tiny join fewer
    # at any scale (§2.3/§2.4).
    summary = (loc.groupBy(*key_cols, "_bkt")
                  .agg(F.min(ts_col).alias("_first_ts"),
                       F.max(ts_col).alias("_last_ts"),
                       F.max("_lcum").alias("_ltot")))
    w_key = Window.partitionBy(*key_cols).orderBy("_bkt")
    prev_last = F.lag("_last_ts").over(w_key)
    # was the bucket's provisional first-row break REAL? (no previous
    # non-empty bucket, or the cross-bucket gap exceeds the threshold)
    first_brk = F.when(prev_last.isNull()
                       | (F.col("_first_ts") - prev_last > F.lit(gap_ns)),
                       1).otherwise(0)
    summary = (summary.withColumn("_corr", 1 - first_brk)
               .withColumn("_btot", F.col("_ltot") - F.col("_corr"))
               .withColumn("_off",
                           F.coalesce(
                               F.sum("_btot").over(
                                   w_key.rowsBetween(
                                       Window.unboundedPreceding, -1)),
                               F.lit(0)))
               .select(*key_cols, "_bkt", "_corr", "_off"))
    out = loc.join(summary, [*key_cols, "_bkt"])
    return (out.withColumn(
                "session_idx",
                (F.col("_off") + F.col("_lcum") - F.col("_corr"))
                .cast("long"))
               .drop("_bkt", "_lcum", "_corr", "_off"))

