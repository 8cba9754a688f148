"""Enrichment-stage queries: temporal as-of correlation, unigram-LM
surprisal scoring, and the quality-filter funnel — the event-feature and
corpus-filtering passes of a training-data pipeline, each with an exact
DuckDB oracle.

Parity rules (queries.py float policy): the as-of join is pure integer
time arithmetic plus value pass-through; surprisal keeps everything
integral via floor-log2 rarity (``length(bin(total div count)) - 1`` —
bit-length is exact integer math on both engines, where a libm ``log2``
could differ in the last ulp and flip a rounded hash); the funnel compares
the 6dp-rounded quality (gate-proven identical across engines) against a
constant, so every count is exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from photon_spark.functions import text
from photon_spark.functions.asof import asof_join
from photon_spark.streaming.tuning import drain

#: funnel thresholds (picked to discriminate on the driver corpus:
#: n_tokens spans 10-99 with median ~56, quality 0.74-0.83 median ~0.78)
MIN_TOKENS, QUALITY_FLOOR = 40, 0.78


def _events(spark, sf_dir):
    from photon_spark.queries import _t
    return _t(spark, sf_dir, "events")


def _docs(spark, sf_dir):
    from photon_spark.relations import read_base
    return read_base(spark, sf_dir, "documents")


# ------------------------------------------------------------ as-of join

def q_events_asof_join(spark, sf_dir):
    """Every click annotated with the user's most recent prior-or-equal
    purchase (functions/asof.py — union + running last over one keyed
    shuffle; never a range-join explosion)."""
    e = _events(spark, sf_dir)
    # DuckDB reads the parquet TIMESTAMP(NANOS) column at µs precision, so
    # the oracle's epoch_ns() is µs-aligned; truncate our full-ns longs the
    # same way (integer div — a double division would lose precision past
    # 2^53). No µs-level ts ties exist per user, so ordering is unchanged.
    usec = F.expr("(ts div 1000) * 1000")
    clicks = (e.where(F.col("event_type") == "click")
               .select("user_id", usec.alias("click_ns"),
                       F.col("event_id").alias("click_id")))
    purchases = (e.where(F.col("event_type") == "purchase")
                  .select("user_id", usec.alias("ts"),
                          F.col("event_id").alias("purchase_id"),
                          F.round("value", 2).alias("purchase_value")))
    j = asof_join(clicks, purchases, on=["user_id"], left_ts="click_ns",
                  right_ts="ts", right_cols=["purchase_id",
                                             "purchase_value"],
                  tiebreak="purchase_id")
    return j.select(
        "click_id", "user_id", "click_ns",
        F.col("asof_purchase_id").alias("purchase_id"),
        F.col("asof_purchase_value").alias("purchase_value"),
        (F.col("click_ns") - F.col("asof_ts")).alias("lag_ns"))


SQL_EVENTS_ASOF_JOIN = """
SELECT c.event_id AS click_id, c.user_id, epoch_ns(c.ts) AS click_ns,
       p.event_id AS purchase_id, round(p.value, 2) AS purchase_value,
       epoch_ns(c.ts) - epoch_ns(p.ts) AS lag_ns
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# ------------------------------------------------------- unigram surprisal

def q_token_surprisal_by_source(spark, sf_dir):
    """Per-source mean unigram surprisal in floor-log2 bits — the
    perplexity-style corpus quality signal (CCNet-style LM filtering),
    self-trained on the corpus's own unigram distribution.

    Plan: tokens aggregate to (source, token) counts FIRST (map-side
    combine shrinks before any join), the vocabulary totals reduce from
    that, the one-row grand total broadcasts, and the scoring join runs on
    the compacted (source, token) relation — at 100 TB the join input is
    |vocab|·|sources|, not the token stream.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("source", F.explode(text.tokens("text")).alias("tok"))
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = st.groupBy("tok").agg(F.sum("n").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    rarity = (vocab.crossJoin(F.broadcast(total))
              .select("tok", (F.length(F.bin(F.expr("t div c"))) - 1)
                      .cast("long").alias("rarity")))
    return (st.join(rarity, "tok")
            .groupBy("source")
            .agg(F.sum("n").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_distinct_tokens"),
                 F.round(F.sum(F.col("n") * F.col("rarity")) / F.sum("n"), 6)
                  .alias("mean_surprisal_bits")))


def _sql_token_surprisal() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
), st AS (
  SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM st GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab
), rarity AS (
  SELECT tok, length(bin(t // c)) - 1 AS rarity FROM vocab, tot
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct_tokens,
       round(sum(n * rarity) * 1.0 / sum(n), 6) AS mean_surprisal_bits
FROM st JOIN rarity USING (tok)
GROUP BY source
"""


# --------------------------------------------------- bigram LM perplexity

def q_bigram_lm_doc_bits(spark, sf_dir):
    """Per-document bigram-LM score — the CCNet/Wikipedia-LM perplexity
    filter, self-trained on the corpus and kept integer-exact: each
    bigram occurrence costs ``floor(log2((c1 + V) div (c12 + 1)))`` bits
    (add-one-smoothed conditional rarity, the floor-log2 trick the
    unigram surprisal query established — no cross-engine ``ln``), and a
    document's mean bits-per-bigram is its perplexity proxy. High mean =
    improbable token transitions = the doc a perplexity filter drops.

    Plan: doc-level bigram counts aggregate FIRST (map-side combine on
    (doc, w1, w2) — repeated bigrams within a doc collapse before
    anything joins); the LM tables (c12, c1) re-aggregate from that
    compacted relation, the vocabulary size broadcasts as one row, and
    the scoring join runs compacted-relation × LM — at 100 TB the join
    input is |distinct doc-bigrams|, never the token stream. Bigram
    construction is pure Catalyst array arithmetic (sequence +
    transform), no UDF. The scan spreads first: a small corpus reads as
    ONE split, which would serialize the tokenize→explode→aggregate map
    side on a single core (at 100 TB the scan already has thousands of
    splits and spread is a no-op)."""
    from photon_spark.functions._util import spread
    d = spread(_docs(spark, sf_dir))
    t = (d.select("doc_id", text.tokens("text").alias("t"))
          .where(F.size("t") >= 2))
    bg = t.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t)-2), "
            "i -> struct(t[i] AS w1, t[i+1] AS w2))")).alias("b"))
    # materialize the compacted doc-bigram relation ONCE (eager local
    # checkpoint, the _util.exclusive_prefix_offsets pattern): db feeds
    # the LM tables AND the final scoring join, and without the pin each
    # consumer can re-derive the tokenize→explode→aggregate chain. Same
    # for c12, read by c1 and the bits join. Both relations are
    # |distinct (doc-)bigram types| — far smaller than the token stream.
    db = (bg.select("doc_id", F.col("b.w1").alias("w1"),
                    F.col("b.w2").alias("w2"))
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count(F.lit(1)).alias("k"))
            .localCheckpoint(eager=True))
    c12 = (db.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
             .localCheckpoint(eager=True))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = (d.select(F.explode(text.tokens("text")).alias("tok"))
          .agg(F.count_distinct("tok").alias("v")))
    bits = (c12.join(c1, "w1").crossJoin(F.broadcast(v))
               .select("w1", "w2",
                       (F.length(F.bin(F.expr("(c1 + v) div (c12 + 1)")))
                        - 1).cast("long").alias("bits")))
    return (db.join(bits, ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.sum("k").alias("n_bigrams"),
                   F.sum(F.col("k") * F.col("bits")).alias("sum_bits"),
                   F.round(F.sum(F.col("k") * F.col("bits"))
                           / F.sum("k"), 6).alias("mean_bits")))


def _sql_bigram_lm_doc_bits() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
), db AS (
  SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM db GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
), bits AS (
  SELECT w1, w2, CAST(length(bin((c1 + v) // (c12 + 1))) - 1 AS BIGINT)
           AS bits
  FROM c12 JOIN c1 USING (w1), v
)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(k * bits) AS BIGINT) AS sum_bits,
       round(sum(k * bits) * 1.0 / sum(k), 6) AS mean_bits
FROM db JOIN bits USING (w1, w2)
GROUP BY doc_id
"""


# ------------------------------------------------------------ filter funnel

def q_quality_filter_funnel(spark, sf_dir):
    """Per-source retention funnel through the three standard corpus
    filters (length, quality score, language) — the audit a curation
    pipeline emits before committing a filter config. One profile pass +
    one short-key shuffle."""
    d = _docs(spark, sf_dir)
    prof = (text.text_profile(d)
            .select("doc_id", "n_tokens", "quality", "lang_pred"))
    j = d.select("doc_id", "source").join(prof, "doc_id")
    len_ok = (F.col("n_tokens") >= MIN_TOKENS).cast("long")
    q_ok = (F.col("quality") >= QUALITY_FLOOR).cast("long")
    lang_ok = (F.col("lang_pred") == "en").cast("long")
    all_ok = len_ok * q_ok * lang_ok
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(len_ok).alias("n_len_ok"),
                 F.sum(q_ok).alias("n_quality_ok"),
                 F.sum(lang_ok).alias("n_lang_ok"),
                 F.sum(all_ok).alias("n_pass"),
                 F.round(F.sum(all_ok) / F.count(F.lit(1)), 6)
                  .alias("retention")))


def _sql_quality_filter_funnel() -> str:
    from photon_spark.queries_northstar import SQL_TEXT_PROFILE
    return f"""
WITH prof AS ({SQL_TEXT_PROFILE})
SELECT d.source, count(*) AS n_docs,
       CAST(sum((p.n_tokens >= {MIN_TOKENS})::BIGINT) AS BIGINT)
         AS n_len_ok,
       CAST(sum((p.quality >= {QUALITY_FLOOR})::BIGINT) AS BIGINT)
         AS n_quality_ok,
       CAST(sum((p.lang_pred = 'en')::BIGINT) AS BIGINT) AS n_lang_ok,
       CAST(sum(((p.n_tokens >= {MIN_TOKENS}) AND
                 (p.quality >= {QUALITY_FLOOR}) AND
                 (p.lang_pred = 'en'))::BIGINT) AS BIGINT) AS n_pass,
       round(sum(((p.n_tokens >= {MIN_TOKENS}) AND
                  (p.quality >= {QUALITY_FLOOR}) AND
                  (p.lang_pred = 'en'))::BIGINT) * 1.0 / count(*), 6)
         AS retention
FROM prof p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


# --------------------------------------------------------- mixture plan

#: temperature for domain resampling (τ=0.5 ≙ √n upweighting of small
#: domains — the standard multilingual-LM mixture smoothing)
MIX_TAU_Q = 1_000_000


def q_mixture_reweight_plan(spark, sf_dir):
    """Temperature-smoothed domain-mixture plan over the language column:
    target_share ∝ √n (τ=0.5), weight = target/actual — the resampling
    table a multilingual training pipeline feeds its sampler.

    Cross-engine exactness: IEEE-754 requires sqrt to be correctly
    rounded, so ``round(√n·10⁶)`` is the same long on both engines; the
    share denominators are exact long sums (order-free), and every emitted
    ratio is one division of exact integers rounded to 6dp.
    """
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    s = F.round(F.sqrt(F.col("n_docs")) * MIX_TAU_Q).cast("long")
    per = per.withColumn("_s", s)
    tot = per.agg(F.sum("n_docs").alias("_tn"), F.sum("_s").alias("_ts"))
    share = F.col("n_docs") / F.col("_tn")
    target = F.col("_s") / F.col("_ts")
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs",
                    F.round(share, 6).alias("share"),
                    F.round(target, 6).alias("target_share"),
                    F.round((F.col("_s") * F.col("_tn"))
                            / (F.col("_ts") * F.col("n_docs")), 6)
                     .alias("weight")))


SQL_MIXTURE_REWEIGHT_PLAN = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(round(sqrt(count(*)) * {MIX_TAU_Q}) AS BIGINT) AS s
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts
  FROM per
)
SELECT lang, n_docs,
       round(n_docs * 1.0 / tn, 6) AS share,
       round(s * 1.0 / ts, 6) AS target_share,
       round((s * tn) * 1.0 / (ts * n_docs), 6) AS weight
FROM per, tot
"""


# ------------------------------------------------------- mixture resample

def q_mixture_resample(spark, sf_dir):
    """Materialize the mixture plan: per-document copy count under the
    τ=0.5 reweighting — floor(weight) guaranteed copies plus one more iff
    the doc's hash falls below the fractional remainder. The deterministic
    stochastic-rounding sampler a 100 TB pipeline actually runs: the tiny
    per-lang weight table broadcasts, the corpus pass is map-only (no sort,
    no reservoir, no coordination), and E[copies] = weight exactly.

    Exactness: weight is the rational p/q (p = s·tn, q = ts·n from the
    mixture plan's exact longs). floor = p div q. The fractional accept
    compares the doc's 24-bit md5 prefix h against t = ceil(r·2²⁴/q)
    (r = p mod q): h < t ⟺ h·q < r·2²⁴ up to the ceil boundary — and t is
    computed in DECIMAL(38,0) because r·2²⁴ overflows int64 once q > 2³⁹
    (corpus of ~10⁹ docs). Both engines compare the same 6-hex-digit
    strings, so membership is bit-exact."""
    d = _docs(spark, sf_dir)
    per = (d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("_s", F.round(F.sqrt(F.col("n_docs")) * MIX_TAU_Q)
                        .cast("long")))
    tot = per.agg(F.sum("n_docs").alias("_tn"), F.sum("_s").alias("_ts"))
    plan = (per.crossJoin(F.broadcast(tot))
            .select("lang",
                    (F.col("_s") * F.col("_tn")).alias("p"),
                    (F.col("_ts") * F.col("n_docs")).alias("q")))
    plan = plan.select(
        "lang", F.expr("p div q").alias("base_copies"),
        F.expr("""CASE WHEN p % q = 0 THEN '000000' ELSE
                  format_string('%06x', CAST(
                    (CAST(p % q AS DECIMAL(38,0)) * 16777216 + q - 1) div q
                    AS BIGINT)) END""").alias("thresh_hex"))
    h = F.substring(F.md5(F.concat(F.lit("mix:"),
                                   F.col("doc_id").cast("string"))), 1, 6)
    return (d.select("doc_id", "lang").join(F.broadcast(plan), "lang")
            .select("doc_id", "lang",
                    (F.col("base_copies")
                     + F.when(h < F.col("thresh_hex"), 1).otherwise(0))
                    .cast("long").alias("n_copies")))


SQL_MIXTURE_RESAMPLE = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(round(sqrt(count(*)) * {MIX_TAU_Q}) AS BIGINT) AS s
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts
  FROM per
), plan AS (
  SELECT lang, s * tn AS p, ts * n_docs AS q FROM per, tot
), thresh AS (
  SELECT lang, p // q AS base_copies,
         CASE WHEN p % q = 0 THEN '000000' ELSE
           printf('%06x', CAST(
             (CAST(p % q AS DECIMAL(38,0)) * 16777216 + q - 1) // q
             AS BIGINT)) END AS thresh_hex
  FROM plan
)
SELECT d.doc_id, d.lang,
       CAST(t.base_copies
            + CASE WHEN substring(md5('mix:' || d.doc_id::VARCHAR), 1, 6)
                        < t.thresh_hex THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
FROM documents d JOIN thresh t USING (lang)
"""


# ------------------------------------------------------- bucketed range join

#: band-join window: clicks within 1 h before each purchase
RANGE_NS = 3_600_000_000_000


def q_events_range_join(spark, sf_dir):
    """Per purchase: how many clicks the same user made in the preceding
    hour, plus their value sum — the interval/band-join every feature
    pipeline needs ("activity in the window before conversion").

    Scale shape: NOT an inequality join (nested-loop at any scale).
    Each purchase explodes to its two covering hour buckets, clicks key to
    their own bucket, and the join is a plain hash equi-join on
    (user_id, bucket) with the exact range predicate applied AFTER the
    hash match — candidates per purchase are bounded by the user's clicks
    in 2 adjacent hours, so the work is data-linear at 100 TB. The final
    left join preserves zero-click purchases."""
    e = _events(spark, sf_dir)
    p = (e.where(F.col("event_type") == "purchase")
          .select(F.col("event_id").alias("purchase_id"), "user_id",
                  F.col("ts").alias("pts")))
    c = (e.where(F.col("event_type") == "click")
          .select("user_id", F.col("ts").alias("cts"),
                  F.expr(f"ts div {RANGE_NS}").alias("cb")))
    cand = (p.select("purchase_id", "user_id", "pts",
                     F.explode(F.array(
                         F.expr(f"pts div {RANGE_NS} - 1"),
                         F.expr(f"pts div {RANGE_NS}"))).alias("cb"))
             .join(c, ["user_id", "cb"])
             .where((F.col("cts") >= F.col("pts") - F.lit(RANGE_NS))
                    & (F.col("cts") <= F.col("pts"))))
    hits = cand.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n"))
    return (p.join(hits, "purchase_id", "left")
             .select("purchase_id", "user_id",
                     F.coalesce(F.col("n"), F.lit(0)).cast("long")
                      .alias("n_clicks_1h")))


SQL_EVENTS_RANGE_JOIN = f"""
SELECT p.event_id AS purchase_id, p.user_id,
       count(c.event_id) AS n_clicks_1h
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND epoch_ns(c.ts) >= epoch_ns(p.ts) - {RANGE_NS}
 AND epoch_ns(c.ts) <= epoch_ns(p.ts)
GROUP BY 1, 2
"""


def q_stream_stream_interval_join(spark, sf_dir):
    """The STREAMING twin of q_events_range_join, hash-gated against
    the SAME DuckDB oracle: purchases and clicks arrive as two real
    Structured Streaming legs (two multi-file parquet sources,
    maxFilesPerTrigger=1 → several genuine micro-batches each), both
    carry event-time watermarks, and Spark's stream-stream INNER join
    matches clicks to same-user purchases in the preceding hour. A
    hash match proves the micro-batch boundaries, the engine's
    file-to-batch assignment, and the cross-leg batch interleaving are
    invisible to the joined result — the equivalence that makes
    lambda-architecture "stream now, backfill in batch" safe.

    Parity/scale design: the join keys on (user_id, HOUR BUCKET) — the
    same covering-bucket equi-join its batch twin uses (each purchase
    explodes to its two covering hour buckets; a qualifying click's
    own bucket matches exactly one of them) — so a hot user's join
    STATE splits across that user's active hours instead of
    accumulating in one state-store partition (a 10×/20 %-hot-key
    probe of the unbucketed form measured 23.6× wall — the hot key's
    ~2 M intra-window candidate pairs serialized through one
    partition; bucketed, the same probe is output-bound). The TIME
    predicate compares the exact epoch-ns longs as a join residual
    (the watermark columns are µs timestamps — ns boundary comparisons
    must not truncate); the watermark delay spans the whole fixture so
    NO state is evicted and streaming semantics equal batch semantics
    exactly (production tightens the delay to bound state at the
    documented risk of dropping stragglers — tests/
    test_streaming_windows pins the tight-watermark subset behavior);
    zero-click purchases can never exit an inner stream-stream join,
    so the final left join against the batch purchase relation
    restores them — cheaper than streaming left-outer, whose
    null-side rows only emit on state EXPIRY and would never flush
    under an unexpiring watermark. The file sink commits through its
    manifest, so a retried micro-batch cannot double-count
    (exactly-once at the sink). Output is micro-batch-count
    independent.

    SINGLE-LIVE-RESULT CONTRACT (see queries_pipeline.
    _single_live_tempdir)."""
    import os

    from photon_spark.queries_pipeline import _single_live_tempdir

    e = _events(spark, sf_dir)
    base = _single_live_tempdir(q_stream_stream_interval_join,
                                "photon_ssjoin_")
    pdir, cdir = os.path.join(base, "p"), os.path.join(base, "c")
    p_rel = (e.where(F.col("event_type") == "purchase")
              .select(F.col("event_id").alias("purchase_id"), "user_id",
                      F.col("ts").alias("pns")))
    c_rel = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("cns")))

    # ONE staging write job per leg: partitionBy lands each id%3 slice
    # in its own file under
    # _slice=k/ (the cdc_stream_merge_state consolidation — guide §6:
    # 3 changelog scans per leg -> 1); the stream reads with
    # recursiveFileLookup, so _slice never becomes a column and each
    # leaf file is one micro-batch, exactly as the three flat appends.
    def _stage(rel, id_col, dest):
        (rel.withColumn("_slice", F.col(id_col) % 3)
            .coalesce(1).write.partitionBy("_slice").parquet(dest))

    _stage(p_rel, "purchase_id", pdir)
    _stage(c_rel, "click_id", cdir)

    wm = "30 days"    # > fixture span: nothing evicts, batch ≡ stream
    ps = (spark.readStream.schema(p_rel.schema)
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", 1).parquet(pdir)
          .withColumn("p_evt", F.timestamp_micros(
              F.expr("pns div 1000")))
          .withWatermark("p_evt", wm)
          # covering buckets: a click in [pns-1h, pns] sits in hour
          # bucket (pns div 1h) or the one before — exactly one of
          # the two exploded rows matches it, so no dedup is needed
          .withColumn("pb", F.explode(F.array(
              F.expr(f"pns div {RANGE_NS} - 1"),
              F.expr(f"pns div {RANGE_NS}")))))
    cs = (spark.readStream.schema(c_rel.schema)
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", 1).parquet(cdir)
          .withColumn("c_evt", F.timestamp_micros(
              F.expr("cns div 1000")))
          .withWatermark("c_evt", wm)
          .withColumn("cb", F.expr(f"cns div {RANGE_NS}")))
    j = ps.join(cs, (F.col("user_id") == F.col("c_user"))
                & (F.col("pb") == F.col("cb"))
                & (F.col("cns") >= F.col("pns") - F.lit(RANGE_NS))
                & (F.col("cns") <= F.col("pns")))
    sink = os.path.join(base, "sink")
    # State partitions sized from the staged source volume: the join's
    # result set is partition-count independent.
    drain(j.select("purchase_id", "user_id", "click_id")
           .writeStream.format("parquet")
           .option("path", sink)
           .option("checkpointLocation", os.path.join(base, "ckpt")),
          spark, pdir, cdir, timeout_sec=300)

    hits = (spark.read.parquet(sink)
            .groupBy("purchase_id")
            .agg(F.count(F.lit(1)).alias("n")))
    return (p_rel.join(hits, "purchase_id", "left")
                 .select("purchase_id", "user_id",
                         F.coalesce(F.col("n"), F.lit(0)).cast("long")
                          .alias("n_clicks_1h")))


# ------------------------------------------------------- PII scrub stats

#: deterministic PII-bearing synthetic docs (the driver corpus is clean
#: word-salad, so the scrub is gated on a closed-form table instead —
#: the media_stats precedent)
PII_N = 40


def _pii_docs(spark):
    """PII_N docs with one email / ipv4 / ssn / card / phone span each,
    from closed forms over the row index — both engines rebuild the
    identical text, so the gate checks Java-regex vs RE2 semantics on
    REAL spans, not on an all-zeros corpus."""
    i = F.col("id")
    text = F.concat_ws(
        " ",
        F.lit("doc"), i.cast("string"),
        F.lit("mail"), F.format_string("user%d@host%d.com", i, i % 7),
        F.lit("ip"), F.format_string("10.%d.%d.%d",
                                     i % 256, (i * 7) % 256, i % 200),
        F.lit("ssn"), F.format_string("%03d-%02d-%04d",
                                      100 + i % 900, 10 + i % 90,
                                      1000 + i),
        F.lit("card"), (F.lit(4000000000000) + i).cast("string"),
        F.lit("tel"), F.format_string("+1 555 123 45%02d", i % 100),
        F.lit("tail"))
    return spark.range(PII_N).select("id", text.alias("text"))


def q_pii_scrub_stats(spark, sf_dir):
    """The PII scrub under the hash gate: per-kind span counts over the
    synthetic table PLUS the md5 of every redacted document (id order) —
    one hash pins detection counts AND the priority-ordered redaction
    output across Java regex (Spark codegen regexp_count/replace) and
    RE2 (DuckDB). Patterns deliberately overlap (an SSN also matches the
    phone shape): counts run on RAW text so both engines double-count
    identically, and the redaction order (email → … → phone) decides
    which placeholder wins — exactly what the md5 certifies."""
    from photon_spark.functions.pii import pii_profile, redact

    docs = _pii_docs(spark)
    prof = pii_profile(docs, "text", "id")
    red = redact(docs).select("id", F.col("text").alias("red"))
    arr = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("id", "red"))),
                    lambda x: x["red"]), "|")
    sums = prof.agg(
        *[F.sum(f"n_{k}").alias(f"n_{k}")
          for k in ("email", "ipv4", "ssn", "card", "phone")],
        F.sum("n_pii").alias("n_pii"),
        F.sum(F.col("has_pii").cast("long")).alias("n_docs_with_pii"))
    digest = red.agg(F.md5(arr).alias("redacted_md5"))
    return sums.crossJoin(digest)


def _sql_pii_scrub_stats() -> str:
    from photon_spark.functions.pii import PII_PATTERNS
    text = ("'doc ' || i || ' mail ' || printf('user%d@host%d.com', i, i % 7)"
            " || ' ip ' || printf('10.%d.%d.%d', i % 256, (i * 7) % 256,"
            " i % 200)"
            " || ' ssn ' || printf('%03d-%02d-%04d', 100 + i % 900,"
            " 10 + i % 90, 1000 + i)"
            " || ' card ' || (4000000000000 + i)"
            " || ' tel ' || printf('+1 555 123 45%02d', i % 100)"
            " || ' tail'")
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS c_{k}"
        for k, pat in PII_PATTERNS.items())
    red = "text"
    for k, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '[{k.upper()}]', 'g')"
    total = " + ".join(f"c_{k}" for k in PII_PATTERNS)
    sums = ", ".join(f"CAST(sum(c_{k}) AS BIGINT) AS n_{k}"
                     for k in PII_PATTERNS)
    return f"""
WITH d AS (
  SELECT i, {text} AS text FROM range({PII_N}) t(i)
), c AS (
  SELECT i, {counts}, {red} AS red FROM d
)
SELECT {sums},
       CAST(sum({total}) AS BIGINT) AS n_pii,
       CAST(sum(CASE WHEN {total} > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       md5(string_agg(red, '|' ORDER BY i)) AS redacted_md5
FROM c
"""


# ------------------------------------------- Kneser-Ney bigram LM

def q_kneser_ney_doc_bits(spark, sf_dir):
    """Per-document INTERPOLATED KNESER-NEY bigram score — the smoothing
    a real LM-quality filter uses (KenLM / CCNet train KN models, not
    add-one): P(w2|w1) = max(c12 - D, 0)/c1 + D·n1(w1)/c1 · r(w2)/R,
    with absolute discount D = 0.75, n1(w1) = distinct continuations of
    w1, r(w2) = distinct left-contexts of w2 (the continuation count
    that makes "Francisco" cheap only after "San"), R = distinct bigram
    types. Unlike add-one, rare-but-systematic transitions keep mass.

    Integer-exact cross-engine: with D = 3/4 the probability is the
    exact rational A/B where A = (4·c12 - 3)·R + 3·n1·r and
    B = 4·c1·R (Σ_w2 A = B, a proper distribution), so each occurrence
    costs floor(log2(B div A)) bits via the established bit-length
    trick — no libm log anywhere, only the final mean rounds to 6dp.

    Plan shape: identical to `bigram_lm_doc_bits` — doc-bigram counts
    compact FIRST (map-side combine), every LM table (c12, c1, n1, r)
    re-aggregates from that compacted relation, R broadcasts as one
    row, and the scoring join is |distinct doc-bigrams| × LM. At
    100 TB the token stream is touched once; four small keyed shuffles
    over the bigram-type relation build the model. The scan spreads
    first (single-split small-corpus guard, no-op at scale — see
    bigram_lm_doc_bits)."""
    from photon_spark.functions._util import spread
    d = spread(_docs(spark, sf_dir))
    t = (d.select("doc_id", text.tokens("text").alias("t"))
          .where(F.size("t") >= 2))
    bg = t.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t)-2), "
            "i -> struct(t[i] AS w1, t[i+1] AS w2))")).alias("b"))
    # pin the compacted relations once (see bigram_lm_doc_bits): db has
    # two consumers, c12 four (left, right, big_r, bits) — without the
    # eager localCheckpoint each branch can re-run the token explode.
    db = (bg.select("doc_id", F.col("b.w1").alias("w1"),
                    F.col("b.w2").alias("w2"))
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count(F.lit(1)).alias("k"))
            .localCheckpoint(eager=True))
    c12 = (db.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
             .localCheckpoint(eager=True))
    left = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                 F.count(F.lit(1)).alias("n1"))
    right = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("r"))
    big_r = c12.agg(F.count(F.lit(1)).alias("big_r"))
    bits = (c12.join(left, "w1").join(right, "w2")
               .crossJoin(F.broadcast(big_r))
               .select("w1", "w2",
                       (F.length(F.bin(F.expr(
                           "(4 * c1 * big_r) div "
                           "((4 * c12 - 3) * big_r + 3 * n1 * r)")))
                        - 1).cast("long").alias("bits")))
    return (db.join(bits, ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.sum("k").alias("n_bigrams"),
                   F.sum(F.col("k") * F.col("bits")).alias("sum_bits"),
                   F.round(F.sum(F.col("k") * F.col("bits"))
                           / F.sum("k"), 6).alias("mean_bits")))


def _sql_kneser_ney_doc_bits() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
), db AS (
  SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM db GROUP BY 1, 2
), lft AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1
  FROM c12 GROUP BY 1
), rgt AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS r FROM c12 GROUP BY 1
), big AS (
  SELECT CAST(count(*) AS BIGINT) AS big_r FROM c12
), bits AS (
  SELECT w1, w2,
         CAST(length(bin((4 * c1 * big_r)
               // ((4 * c12 - 3) * big_r + 3 * n1 * r))) - 1 AS BIGINT)
           AS bits
  FROM c12 JOIN lft USING (w1) JOIN rgt USING (w2), big
)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(k * bits) AS BIGINT) AS sum_bits,
       round(sum(k * bits) * 1.0 / sum(k), 6) AS mean_bits
FROM db JOIN bits USING (w1, w2)
GROUP BY doc_id
"""


QUERIES = {
    "events_asof_join": q_events_asof_join,
    "token_surprisal_by_source": q_token_surprisal_by_source,
    "quality_filter_funnel": q_quality_filter_funnel,
    "mixture_reweight_plan": q_mixture_reweight_plan,
    "mixture_resample": q_mixture_resample,
    "events_range_join": q_events_range_join,
    "stream_stream_interval_join": q_stream_stream_interval_join,
    "pii_scrub_stats": q_pii_scrub_stats,
    "bigram_lm_doc_bits": q_bigram_lm_doc_bits,
    "kneser_ney_doc_bits": q_kneser_ney_doc_bits,
}

ORACLES = {
    "events_asof_join": SQL_EVENTS_ASOF_JOIN,
    "token_surprisal_by_source": _sql_token_surprisal(),
    "quality_filter_funnel": _sql_quality_filter_funnel(),
    "mixture_reweight_plan": SQL_MIXTURE_REWEIGHT_PLAN,
    "mixture_resample": SQL_MIXTURE_RESAMPLE,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "stream_stream_interval_join": SQL_EVENTS_RANGE_JOIN,
    "pii_scrub_stats": _sql_pii_scrub_stats(),
    "bigram_lm_doc_bits": _sql_bigram_lm_doc_bits(),
    "kneser_ney_doc_bits": _sql_kneser_ney_doc_bits(),
}


# ------------------------------------------- seeded Markov generation

MKV_SAMPLES = 20     #: generated samples per run
MKV_STEPS = 8        #: continuation steps after the seeded start token
MKV_SEED = "mkv-r9"  #: rotating the seed re-draws every sample


def _hex12_fold(expr_col: str, spark_side: bool) -> str:
    """Integer value of the first 12 hex chars of an md5, built as a
    digit fold with PYTHON-PRECOMPUTED power-of-16 literals — both
    engines evaluate the identical expression, no hex-parse builtin
    (Spark's conv() has no DuckDB twin) and no float anywhere.
    ``expr_col`` must already be the 12-char lowercase hex string."""
    pos = "instr" if spark_side else "strpos"
    # each power literal casts to BIGINT: small powers would otherwise
    # parse as INT32 and the digit*power product overflows under ANSI
    terms = " + ".join(
        f"({pos}('0123456789abcdef', substring({expr_col}, {i + 1}, 1))"
        f" - 1) * CAST({16 ** (11 - i)} AS BIGINT)" for i in range(12))
    return f"CAST({terms} AS BIGINT)"


def q_markov_text_sample(spark, sf_dir):
    """SEEDED MARKOV GENERATION from the corpus bigram LM — the
    synthetic-data tier: {n} samples, each a start token drawn from the
    unigram distribution plus up to {k} continuation steps drawn from
    the per-prefix bigram distribution. Every draw is deterministic and
    engine-portable: the uniform variate is the integer fold of
    md5('{seed}:<sample>:<step>') (12 hex chars, Python-literal
    power-of-16 digit fold — no hex-parse builtin, no float) taken mod
    the prefix's total count, and the chosen token is the one whose
    cumulative-count interval [lo, hi) contains the draw — inverse-CDF
    sampling on EXACT integer counts, the same construction production
    uses for replayable synthetic corpora (rotate {seed!r} to re-draw).

    Plan: the bigram model builds map-side from per-doc token arrays
    (no position self-join) and aggregates once; cumulative intervals
    are per-prefix windows (prefix-keyed, bounded); generation is
    {k} tiny joins — the 20-row state broadcasts into a prefix-keyed
    hash join with the interval containment as the join residual, and
    each state localCheckpoints (20 rows) so the final plan stays flat.
    A prefix with no outgoing bigram ends its chain early (inner join;
    deterministic on both engines). The global unigram cum-window runs
    over the VOCABULARY aggregate (lint-allowlisted).
    """
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window

    arr = F.transform(text.tokens("text"), lambda t: F.lower(t))
    da = d.select(arr.alias("a")).where(F.size("a") >= 1)
    uni = (da.select(F.explode("a").alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    wg = Window.orderBy("tok")
    uni_cum = (uni.withColumn(
        "hi", F.sum("n").over(wg.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
        .withColumn("lo", F.col("hi") - F.col("n")))
    total = uni.agg(F.sum("n").alias("total"))

    big = (da.where(F.size("a") >= 2)
             .select(F.explode(F.transform(
                 F.sequence(F.lit(0), F.size("a") - 2),
                 lambda i: F.struct(F.col("a")[i].alias("prev"),
                                    F.col("a")[i + 1].alias("nxt"))))
                 .alias("g"))
             .groupBy("g.prev", "g.nxt")
             .agg(F.count(F.lit(1)).alias("n")))
    wp = Window.partitionBy("prev").orderBy("nxt")
    model = (big.withColumn(
        "hi", F.sum("n").over(wp.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
        .withColumn("lo", F.col("hi") - F.col("n"))
        .withColumn("ptotal", F.sum("n").over(Window.partitionBy("prev")))
        .persist())

    def draw(step_expr: str) -> str:
        h = (f"substring(md5(concat('{MKV_SEED}:', "
             f"cast(sample_id as string), ':', {step_expr})), 1, 12)")
        return _hex12_fold(h, spark_side=True)

    samples = spark.range(MKV_SAMPLES).select(
        F.col("id").alias("sample_id"))
    s0 = (samples.crossJoin(F.broadcast(total))
                 .withColumn("draw", F.expr(f"({draw(repr('0'))}) % total")))
    # NON-EAGER checkpoints: each step's 20-row state still truncates
    # the plan (the LogicalRDD swap happens at checkpoint call), but
    # materialization is deferred to the next step's broadcast-collect
    # job instead of a dedicated job per step — halving the sequential
    # job count of the chain (guide §1.2: per-step driver round-trips
    # are the cost here, not data). The blocks are cached on first
    # compute, so the final union reads them back, never recomputes.
    state = (s0.join(F.broadcast(uni_cum),
                     (s0.draw >= uni_cum.lo) & (s0.draw < uni_cum.hi))
               .select("sample_id", F.lit(0).alias("step"), "tok")
               .localCheckpoint(eager=False))
    out = state
    for t in range(1, MKV_STEPS + 1):
        dr = F.expr(f"({draw(repr(str(t)))}) % ptotal")
        nxt = (model.join(F.broadcast(state),
                          model.prev == state.tok)
                    .where((dr >= F.col("lo")) & (dr < F.col("hi")))
                    .select("sample_id", F.lit(t).alias("step"),
                            F.col("nxt").alias("tok"))
                    .localCheckpoint(eager=False))
        out = out.unionAll(nxt)
        state = nxt
    gen = (out.groupBy("sample_id")
              .agg(F.concat_ws(" ", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("step", "tok"))),
                       lambda x: x.tok)).alias("gen_text"),
                   F.count(F.lit(1)).alias("n_tokens")))
    gen._photon_cached = [model]
    return gen


q_markov_text_sample.__doc__ = q_markov_text_sample.__doc__.format(
    n=MKV_SAMPLES, k=MKV_STEPS, seed=MKV_SEED)


def _sql_markov_text_sample() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    fold0 = _hex12_fold(
        f"substring(md5('{MKV_SEED}:' || sample_id::VARCHAR || ':0'), "
        "1, 12)", spark_side=False)
    foldt = _hex12_fold(
        f"substring(md5('{MKV_SEED}:' || g.sample_id::VARCHAR || ':' || "
        "(g.step + 1)::VARCHAR), 1, 12)", spark_side=False)
    return f"""
WITH RECURSIVE da AS (
  SELECT list_transform({_SQL_TOKS}, t -> lower(t)) AS a FROM documents
), uni AS (
  SELECT a[g.i] AS tok, count(*) AS n
  FROM da CROSS JOIN generate_series(1, 512) g(i)
  WHERE g.i <= len(a) GROUP BY 1
), uni_cum AS (
  SELECT tok, n,
         sum(n) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) AS hi,
         sum(n) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) - n AS lo
  FROM uni
), tot AS (SELECT sum(n) AS total FROM uni),
big AS (
  SELECT a[g.i] AS prev, a[g.i + 1] AS nxt, count(*) AS n
  FROM da CROSS JOIN generate_series(1, 512) g(i)
  WHERE g.i <= len(a) - 1 GROUP BY 1, 2
), model AS (
  SELECT prev, nxt, n,
         sum(n) OVER (PARTITION BY prev ORDER BY nxt
                      ROWS UNBOUNDED PRECEDING) AS hi,
         sum(n) OVER (PARTITION BY prev ORDER BY nxt
                      ROWS UNBOUNDED PRECEDING) - n AS lo,
         sum(n) OVER (PARTITION BY prev) AS ptotal
  FROM big
), start AS (
  SELECT s.sample_id, 0 AS step, u.tok
  FROM range({MKV_SAMPLES}) s(sample_id) CROSS JOIN tot
  JOIN uni_cum u
    ON ({fold0}) % tot.total >= u.lo
   AND ({fold0}) % tot.total < u.hi
), gen(sample_id, step, tok) AS (
  SELECT sample_id, step, tok FROM start
  UNION ALL
  SELECT g.sample_id, g.step + 1, m.nxt
  FROM gen g JOIN model m ON m.prev = g.tok
  WHERE g.step < {MKV_STEPS}
    AND ({foldt}) % m.ptotal >= m.lo
    AND ({foldt}) % m.ptotal < m.hi
)
SELECT sample_id, string_agg(tok, ' ' ORDER BY step) AS gen_text,
       count(*) AS n_tokens
FROM gen GROUP BY 1
"""


QUERIES["markov_text_sample"] = q_markov_text_sample
ORACLES["markov_text_sample"] = _sql_markov_text_sample()
