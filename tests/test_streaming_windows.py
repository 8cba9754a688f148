"""Watermarked event-time windows: batch/streaming parity, append-mode
emission, and the late-data DROP contract (the behavior watermark_late_
audit sizes the delay for)."""

import os

from pyspark.sql import functions as F

from photon_spark.streaming.tuning import drain
from photon_spark.streaming.windows import session_agg, windowed_agg

BASE = 1_700_000_000  # epoch seconds, aligned enough for hour windows


def _ev(spark, rows):
    # rows: (offset_seconds, stream_name)
    return spark.createDataFrame(
        [(int(BASE + off), name) for off, name in rows],
        "sec long, stream_name string"
    ).select(F.timestamp_seconds("sec").alias("event_time"),
             "stream_name")


def test_windowed_agg_batch_counts(spark):
    rows = [(0, "a"), (60, "a"), (3700, "a"), (10, "b")]
    got = {(r["win_start"].timestamp(), r["stream_name"]): r["n_events"]
           for r in windowed_agg(_ev(spark, rows),
                                 window="1 hour").collect()}
    h0 = BASE - BASE % 3600
    assert got == {(h0, "a"): 2, (h0 + 3600, "a"): 1, (h0, "b"): 1}


def test_sliding_window_overlap(spark):
    rows = [(0, "a"), (1800, "a")]
    got = sorted((r["win_start"].timestamp(), r["n_events"])
                 for r in windowed_agg(_ev(spark, rows), window="1 hour",
                                       slide="30 minutes").collect())
    h0 = BASE - BASE % 1800
    # each event lands in two overlapping hour windows
    assert sum(n for _, n in got) == 4
    assert any(n == 2 for _, n in got)  # the window holding both


def test_session_agg_gap_merge(spark):
    rows = [(0, "a"), (600, "a"), (5000, "a"), (0, "b")]
    got = sorted((r["stream_name"], r["n_events"],
                  int(r["session_end"].timestamp()
                      - r["session_start"].timestamp()))
                 for r in session_agg(_ev(spark, rows),
                                      gap="30 minutes").collect())
    # a: events at 0s and 600s merge (gap 10min < 30min); 5000s starts a
    # new session. Session end extends gap past the last event.
    assert got == [("a", 1, 1800), ("a", 2, 600 + 1800), ("b", 1, 1800)]


def test_streaming_windowed_agg_drops_late_rows(spark, tmp_path):
    """The watermark contract end-to-end: a straggler older than the
    in-effect watermark is silently DROPPED, and append mode emits each
    window exactly once. The watermark takes effect with a one-batch
    lag (in-effect wm for batch N is the value published at the end of
    batch N−1, computed from batch N−2's data — observed Spark
    semantics), so the late row arrives two triggers after the row that
    advanced event time."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_batch(name, rows, mtime):
        d = os.path.join(src, name)
        # one file per batch: each file is its own trigger under
        # maxFilesPerTrigger=1, and intra-batch rows must arrive
        # together; mtimes pin the source's file order
        _ev(spark, rows).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    # b1: two events in hour H + one far ahead (advances event time so
    # wm = H+3h − 10min once it propagates)
    write_batch("b1", [(0, "a"), (60, "a"), (3 * 3600, "a")], 1_000_000)
    # b2: on-time filler — the batch during which the advanced watermark
    # becomes effective and hour H closes + emits
    write_batch("b2", [(3 * 3600 + 60, "a")], 2_000_000)
    # b3: the STRAGGLER back in hour H (now behind the in-effect
    # watermark → dropped) plus an on-time row
    write_batch("b3", [(120, "a"), (3 * 3600 + 120, "a")], 3_000_000)

    stream = (spark.readStream
              .schema("event_time timestamp, stream_name string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    agg = windowed_agg(stream, window="1 hour", watermark="10 minutes")
    w = (agg.writeStream.format("memory").queryName("winlate")
         .outputMode("append"))
    drain(w, spark, timeout_sec=120)
    rows = spark.sql("SELECT * FROM winlate").collect()
    h0 = BASE - BASE % 3600
    hour_h = [r for r in rows
              if int(r["win_start"].timestamp()) == h0]
    # hour H emitted EXACTLY ONCE, with b1's two rows only — the b3
    # straggler was dropped, not appended as a duplicate window row
    assert [r["n_events"] for r in hour_h] == [2], rows
    # the still-open current hour (H+3h) never emitted in append mode
    assert all(int(r["win_start"].timestamp()) < h0 + 3 * 3600
               for r in rows), rows


def test_streaming_session_agg_runs(spark, tmp_path):
    src = str(tmp_path / "s2")
    os.makedirs(src)
    _ev(spark, [(0, "a"), (300, "a"), (9000, "a")]) \
        .write.parquet(os.path.join(src, "b1"))
    stream = (spark.readStream
              .schema("event_time timestamp, stream_name string")
              .parquet(src + "/*"))
    agg = session_agg(stream, gap="30 minutes", watermark="1 minute")
    w = (agg.writeStream.format("memory").queryName("sess")
         .outputMode("complete"))
    drain(w, spark, timeout_sec=120)
    rows = spark.sql("SELECT * FROM sess").collect()
    assert sorted(r["n_events"] for r in rows) == [1, 2]


def test_streaming_session_agg_equals_batch_on_closed_sessions(
        spark, tmp_path):
    """The streaming session_window twin pinned VALUE-IDENTICAL to the
    batch form: a multi-batch replay with out-of-order but
    inside-watermark stragglers (one merges two session fragments that
    earlier triggers saw as separate) must, once the watermark closes
    every real session, emit in append mode exactly the sessions the
    batch evaluation of the same rows produces — same bounds, same
    counts, each exactly once."""
    src = str(tmp_path / "sess_eq")
    os.makedirs(src)

    def write_batch(name, rows, mtime):
        d = os.path.join(src, name)
        _ev(spark, rows).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    real = [
        # trigger 1: two fragments of what will become ONE 'a' session,
        # plus the start of a 'b' session
        [(0, "a"), (3000, "a"), (5000, "b")],
        # trigger 2: the straggler at 1500s is OUT OF ORDER (event time
        # has reached 5000s) but within the 1-hour watermark — it must
        # be merged, bridging the 0s and 3000s fragments (gaps 1500s
        # < 1800s) into one session
        [(1500, "a"), (5300, "b")],
        # trigger 3: a second 'a' session, far from the first
        [(20000, "a"), (20600, "a")],
    ]
    for k, rows in enumerate(real):
        write_batch(f"b{k}", rows, 1_000_000 * (k + 1))
    # two sentinel triggers: the first advances event time far past
    # every real session, the second lets that watermark take effect
    # (one-batch publication lag) so the last sessions close and emit
    far = 400 * 24 * 3600
    write_batch("z1", [(far, "zz")], 9_000_000)
    write_batch("z2", [(far + 10, "zz")], 9_100_000)

    stream = (spark.readStream
              .schema("event_time timestamp, stream_name string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    agg = session_agg(stream, gap="30 minutes", watermark="1 hour")
    w = (agg.writeStream.format("memory").queryName("sess_eq")
         .outputMode("append"))
    drain(w, spark, timeout_sec=120)
    got = {(r["stream_name"], r["session_start"], r["session_end"],
            r["n_events"])
           for r in spark.sql("SELECT * FROM sess_eq").collect()
           if r["stream_name"] != "zz"}

    flat = [rc for rows in real for rc in rows]
    want = {(r["stream_name"], r["session_start"], r["session_end"],
             r["n_events"])
            for r in session_agg(_ev(spark, flat),
                                 gap="30 minutes").collect()}
    assert got == want and got
    # the bridged fragment really is one session of 3 events
    assert any(n == 3 and s == "a" for s, _, _, n in got), got


# ------------------------------------- stream-stream interval join

def test_stream_stream_join_gate_twin_equals_batch(spark, sf_dir):
    """The gated streaming interval join (unexpiring watermark) equals
    the batch range join row-for-row — the lambda equivalence the
    hash gate certifies, pinned here against the in-process batch
    twin."""
    from photon_spark.queries_enrich import (
        q_events_range_join, q_stream_stream_interval_join)

    got = {(r["purchase_id"], r["user_id"]): r["n_clicks_1h"]
           for r in q_stream_stream_interval_join(spark, sf_dir)
           .collect()}
    want = {(r["purchase_id"], r["user_id"]): r["n_clicks_1h"]
            for r in q_events_range_join(spark, sf_dir).collect()}
    assert got == want


def test_stream_stream_join_tight_watermark_is_subset(spark, sf_dir,
                                                      tmp_path):
    """With a PRODUCTION-tight watermark the stream-stream join may
    evict state and drop straggler matches, but it can never invent
    one: every emitted (purchase, click) row is a genuine batch match,
    so per-purchase counts are bounded by the batch counts under ANY
    file-to-batch assignment — the safety half of the
    tighten-the-watermark tradeoff the gated twin documents."""
    import os

    from pyspark.sql import functions as F

    from photon_spark.queries_enrich import (
        RANGE_NS, q_events_range_join, _events)

    e = _events(spark, sf_dir)
    pdir, cdir = str(tmp_path / "p"), str(tmp_path / "c")
    p_rel = (e.where(F.col("event_type") == "purchase")
              .select(F.col("event_id").alias("purchase_id"), "user_id",
                      F.col("ts").alias("pns")))
    c_rel = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("cns")))
    for k in range(4):
        (p_rel.where(F.col("purchase_id") % 4 == k)
              .coalesce(1).write.mode("append").parquet(pdir))
        (c_rel.where(F.col("click_id") % 4 == k)
              .coalesce(1).write.mode("append").parquet(cdir))
    ps = (spark.readStream.schema(p_rel.schema)
          .option("maxFilesPerTrigger", 1).parquet(pdir)
          .withColumn("p_evt", F.timestamp_micros(F.expr("pns div 1000")))
          .withWatermark("p_evt", "2 hours")
          .withColumn("pb", F.explode(F.array(
              F.expr(f"pns div {RANGE_NS} - 1"),
              F.expr(f"pns div {RANGE_NS}")))))
    cs = (spark.readStream.schema(c_rel.schema)
          .option("maxFilesPerTrigger", 1).parquet(cdir)
          .withColumn("c_evt", F.timestamp_micros(F.expr("cns div 1000")))
          .withWatermark("c_evt", "2 hours")
          .withColumn("cb", F.expr(f"cns div {RANGE_NS}")))
    j = ps.join(cs, (F.col("user_id") == F.col("c_user"))
                & (F.col("pb") == F.col("cb"))
                & (F.col("cns") >= F.col("pns") - F.lit(RANGE_NS))
                & (F.col("cns") <= F.col("pns")))
    w = (j.select("purchase_id", "user_id", "click_id")
          .writeStream.format("memory").queryName("ssj_tight")
          .option("checkpointLocation", os.path.join(str(tmp_path), "ck")))
    drain(w, spark, timeout_sec=300)
    rows = spark.sql("select * from ssj_tight").collect()

    # no invented matches, no duplicates
    assert len({(r["purchase_id"], r["click_id"]) for r in rows}) \
        == len(rows)
    got = {}
    for r in rows:
        got[r["purchase_id"]] = got.get(r["purchase_id"], 0) + 1
    want = {r["purchase_id"]: r["n_clicks_1h"]
            for r in q_events_range_join(spark, sf_dir).collect()}
    assert set(got) <= set(want)
    assert all(got[p] <= want[p] for p in got)
