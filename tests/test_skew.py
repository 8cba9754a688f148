"""Skew utilities (functions/skew.py): value-transparency of salted
join / salted collect_list on a constructed power-law key, and the plan
property that makes salting work (the join key space includes the salt).
"""

import pytest
from pyspark.sql import functions as F

from photon_spark.functions.skew import salted_collect_list, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # power-law: 90% of 60k rows share key 0, the rest spread over 1k keys
    n = 60_000
    df = (spark.range(n)
          .select(F.when(F.col("id") % 10 < 9, 0)
                   .otherwise(F.col("id") % 1000 + 1).alias("k"),
                  F.col("id").alias("v")))
    return df.persist()


@pytest.fixture(scope="module")
def dim(spark):
    return (spark.range(1001)
            .select(F.col("id").cast("long").alias("k"),
                    F.concat(F.lit("d"), F.col("id")).alias("attr"))
            .persist())


def test_salted_join_equals_plain_join(spark, skewed, dim):
    plain = skewed.join(dim, "k").select("k", "v", "attr")
    salted = salted_join(skewed, dim, "k").select("k", "v", "attr")
    assert plain.count() == salted.count() == skewed.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_keeps_unmatched(spark, skewed, dim):
    extra = skewed.unionByName(
        spark.createDataFrame([(99_999, -1)], "k long, v long"))
    salted = salted_join(extra, dim, "k", how="left")
    row = salted.where(F.col("k") == 99_999).collect()
    assert len(row) == 1 and row[0]["attr"] is None


def test_salted_join_key_space_includes_salt(spark, skewed, dim):
    plan = (salted_join(skewed, dim, "k")
            ._jdf.queryExecution().executedPlan().toString())
    assert "_salt" in plan  # the shuffle key really is (k, _salt)


def test_salted_collect_list_equals_plain(spark, skewed):
    plain = {r["k"]: sorted(r["vs"]) for r in
             skewed.groupBy("k").agg(F.collect_list("v").alias("vs"))
                   .collect()}
    salted = {r["k"]: sorted(r["values"]) for r in
              salted_collect_list(skewed, "k", "v").collect()}
    assert plain == salted


def test_salted_collect_list_sorted_form(spark, skewed):
    out = {r["k"]: r["values"] for r in
           salted_collect_list(skewed, "k", "v",
                               sorted_lists=True).collect()}
    hot = out[0]
    assert hot == sorted(hot) and len(hot) == 54_000


def test_salted_collect_list_spreads_duplicate_values(spark):
    # hot key whose value column is a single constant: a value-only salt
    # would put all 40k rows in one bucket; the partition-mixed salt must
    # spread them
    df = (spark.range(40_000).repartition(8)
          .select(F.lit(0).alias("k"), F.lit("same").alias("v")))
    from photon_spark.functions.skew import DEFAULT_SALT
    d = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("k"), F.col("v").cast("string"),
                                   F.spark_partition_id()),
                        F.lit(DEFAULT_SALT)).cast("int"))
    n_buckets = d.select("_salt").distinct().count()
    assert n_buckets >= 4
    out = salted_collect_list(df, "k", "v").collect()
    assert len(out) == 1 and len(out[0]["values"]) == 40_000


def test_skew_salted_agg_plan_uses_salt_keys(spark, sf_dir):
    # The gated query must actually take the salted path: both the list
    # aggregation and the join shuffle on composite (_salt-bearing) keys.
    from photon_spark.queries_governance import q_skew_salted_agg
    plan = (q_skew_salted_agg(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    # list aggregation: a real (key, _salt) exchange splits the hot key
    salt_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln
                      and "_salt" in ln]
    assert len(salt_exchanges) >= 1, plan
    # join: keys carry _salt (the tiny replicated side rightly
    # broadcasts here, so the sub-keys appear on the join, not on an
    # exchange — with a non-broadcastable small side the same plan
    # shuffles on them)
    salt_joins = [ln for ln in plan.splitlines()
                  if "Join" in ln and "_salt" in ln]
    assert salt_joins, plan


def _plain_window(df, keys, order_cols, lead_cols):
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("_rn", F.row_number().over(w).cast("long"))
    for c in lead_cols:
        out = out.withColumn(f"_next_{c}", F.lead(c).over(w))
    return out


def test_bucketed_key_window_row_identity_hot_key(spark):
    """The salted two-pass window equals the plain per-key window
    ROW-FOR-ROW on a constructed 40%-hot-key history — the SCALE.md
    row-identity contract for the scd2_history fallback regime."""
    from photon_spark.functions.skew import bucketed_key_window

    n = 50_000
    base = 1_700_000_000_000_000_000  # epoch-ns territory (past 2^53)
    df = (spark.range(n)
          .select(F.when(F.col("id") % 10 < 4, 0)
                   .otherwise(F.col("id") % 500 + 1).alias("k"),
                  # non-monotone ts with DUPLICATES (id tie-break does
                  # the ordering work), spanning bucket boundaries
                  (F.lit(base) + (F.col("id") * 7919) % 100_000
                   * 1_000_000_000).alias("ts"),
                  F.col("id").alias("eid"),
                  (F.col("id") % 97).alias("payload")))
    got = bucketed_key_window(df, ["k"], ["ts", "eid"], ["ts", "payload"],
                              n_buckets=16)
    want = _plain_window(df, ["k"], ["ts", "eid"], ["ts", "payload"])
    cols = sorted(got.columns)
    assert sorted(want.columns) == cols
    sym = (got.select(cols).exceptAll(want.select(cols)).count()
           + want.select(cols).exceptAll(got.select(cols)).count())
    assert sym == 0
    assert got.count() == n


def test_bucketed_key_window_null_lead_values_inside_bucket(spark):
    # a legitimately-NULL lead VALUE inside a bucket must not be
    # clobbered by the next bucket's first record (positional handoff)
    from photon_spark.functions.skew import bucketed_key_window

    rows = [(1, 10, 1, None), (1, 11, 2, 5), (1, 12, 3, None),
            (1, 200, 4, 7), (2, 10, 5, None)]
    df = spark.createDataFrame(
        rows, "k long, ts long, eid long, payload long")
    got = bucketed_key_window(df, ["k"], ["ts", "eid"], ["payload"],
                              n_buckets=4)
    want = _plain_window(df, ["k"], ["ts", "eid"], ["payload"])
    cols = sorted(got.columns)
    assert ({tuple(r) for r in got.select(cols).collect()}
            == {tuple(r) for r in want.select(cols).collect()})


def test_bucketed_key_window_degenerate_inputs(spark):
    from photon_spark.functions.skew import bucketed_key_window

    schema = "k long, ts long, eid long"
    empty = spark.createDataFrame([], schema)
    out = bucketed_key_window(empty, ["k"], ["ts", "eid"], ["ts"])
    assert out.count() == 0
    assert "_rn" in out.columns and "_next_ts" in out.columns
    # single row; and all rows at ONE ts value (width collapses to 1)
    one = spark.createDataFrame([(1, 5, 1), (1, 5, 2), (2, 5, 3)], schema)
    got = bucketed_key_window(one, ["k"], ["ts", "eid"], ["ts"],
                              n_buckets=8)
    want = _plain_window(one, ["k"], ["ts", "eid"], ["ts"])
    cols = sorted(got.columns)
    assert ({tuple(r) for r in got.select(cols).collect()}
            == {tuple(r) for r in want.select(cols).collect()})


def test_bucketed_key_window_spreads_hot_key_tasks(spark):
    """The structural claim: a hot key's history occupies MULTIPLE
    (key, bucket) groups, so no single task sorts it all."""
    from photon_spark.functions.skew import bucketed_key_window

    n = 20_000
    df = (spark.range(n)
          .select(F.lit(0).alias("k"), F.col("id").alias("ts"),
                  F.col("id").alias("eid")))
    out = bucketed_key_window(df, ["k"], ["ts", "eid"], ["ts"],
                              n_buckets=16)
    # the local window's partition key includes the bucket: count
    # distinct buckets the hot key actually landed in
    from pyspark.sql import Window as W
    # re-derive buckets the same way to observe the spread
    import re
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan  # local window partitions on (keys, _bkt)
    # and value-wise the global row numbers are the full 1..n sequence
    rns = [r[0] for r in out.select("_rn").orderBy("_rn").collect()]
    assert rns == list(range(1, n + 1))


def test_salted_sessionize_row_identity_hot_key(spark):
    """salted_sessionize equals sessions.sessionize ROW-FOR-ROW on a
    constructed 40%-hot-key log with duplicate timestamps and sessions
    spanning bucket boundaries."""
    from photon_spark.functions.sessions import sessionize
    from photon_spark.functions.skew import salted_sessionize

    n = 30_000
    gap = 50
    # ts pattern: runs of close events with occasional big jumps, and
    # DUPLICATE timestamps (the % 37 collision) — islands everywhere
    df = (spark.range(n)
          .select(F.when(F.col("id") % 10 < 4, 0)
                   .otherwise(F.col("id") % 300 + 1).alias("k"),
                  ((F.col("id") % 37) * 3
                   + (F.col("id") % 11) * 120).alias("ts"),
                  F.col("id").alias("eid")))
    got = salted_sessionize(df, ["k"], "ts", tiebreak_col="eid",
                            gap_ns=gap, n_buckets=8)
    want = sessionize(df, ["k"], ts_col="ts", tiebreak_col="eid",
                      gap_ns=gap)
    cols = sorted(got.columns)
    assert sorted(want.columns) == cols
    sym = (got.select(cols).exceptAll(want.select(cols)).count()
           + want.select(cols).exceptAll(got.select(cols)).count())
    assert sym == 0
    assert got.count() == n


def test_salted_sessionize_boundary_glue(spark):
    # a single session spanning EVERY bucket boundary (all gaps tiny)
    # must stay one island; and per-bucket-isolated bursts must not
    from photon_spark.functions.skew import salted_sessionize

    rows = [(1, t, t) for t in range(0, 1000, 10)]       # one island
    rows += [(2, t, t) for t in (0, 500, 1000)]          # three islands
    df = spark.createDataFrame(rows, "k long, ts long, eid long")
    out = salted_sessionize(df, ["k"], "ts", tiebreak_col="eid",
                            gap_ns=20, n_buckets=7)
    per_key = {r["k"]: r["n"] for r in
               out.groupBy("k").agg(
                   F.countDistinct("session_idx").alias("n")).collect()}
    assert per_key == {1: 1, 2: 3}
    # session_idx is 1-based and dense per key
    idx = sorted(r["session_idx"] for r in
                 out.where(F.col("k") == 2)
                    .select("session_idx").distinct().collect())
    assert idx == [1, 2, 3]
    # empty input short-circuits
    empty = spark.createDataFrame([], "k long, ts long, eid long")
    assert salted_sessionize(empty, ["k"], "ts",
                             gap_ns=20).count() == 0
