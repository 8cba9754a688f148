"""Pipeline-analytics queries: sessionization, event-time windowing,
stratified sampling, vocabulary heavy-hitters — the operations a
large-scale training-data pipeline runs over an event log / document
corpus, each with an exact DuckDB oracle.

Parity rules (see queries.py floating-point policy): averages are single
divisions of exactly-aggregated integers rounded to 6dp on both engines;
time arithmetic stays in integer epoch-ns (double division of an epoch-ns
long loses precision past 2^53); sampling membership is an md5-hex
comparison, identical across Spark/DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from photon_spark.functions import text
from photon_spark.functions.sessions import session_bounds
from photon_spark.streaming.tuning import drain

HOUR_NS = 3_600_000_000_000
GAP_NS = 24 * 3600 * 1_000_000_000


def _events(spark, sf_dir):
    from photon_spark.queries import _t
    return _t(spark, sf_dir, "events")


def _docs(spark, sf_dir):
    from photon_spark.relations import read_base
    return read_base(spark, sf_dir, "documents")


# ---------------------------------------------------------- sessionization

def q_events_sessionize(spark, sf_dir):
    """Per-stream session stats over (event_type, user_id) with a 24 h gap.

    Plan: one keyed shuffle for the shared window spec (lag + running sum),
    a map-side-collapsed per-session aggregate, then a 5-row final
    aggregate — the sessionize scale shape (functions/sessions.py).
    """
    e = _events(spark, sf_dir).select("event_type", "user_id", "ts",
                                      "event_id")
    s = session_bounds(e, ["event_type", "user_id"], ts_col="ts",
                       tiebreak_col="event_id", gap_ns=GAP_NS)
    span = F.col("end_ts") - F.col("start_ts")
    return (s.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_sessions"),
                  F.sum("n_events").alias("n_events"),
                  F.round(F.sum("n_events") / F.count(F.lit(1)), 6)
                   .alias("avg_session_events"),
                  F.max("n_events").alias("max_session_events"),
                  F.round(F.sum(span) / F.count(F.lit(1)) / F.lit(1.0e9), 6)
                   .alias("avg_session_span_sec")))


SQL_EVENTS_SESSIONIZE = f"""
WITH o AS (
  SELECT event_type, user_id, epoch_ns(ts) AS tns, event_id FROM events
), m AS (
  SELECT *, CASE WHEN tns - lag(tns) OVER w IS NULL
                   OR tns - lag(tns) OVER w > {GAP_NS} THEN 1 ELSE 0 END
            AS is_new
  FROM o WINDOW w AS (PARTITION BY event_type, user_id
                      ORDER BY tns, event_id)
), s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY event_type, user_id
                              ORDER BY tns, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
), g AS (
  SELECT event_type, user_id, session_idx, count(*) AS c,
         max(tns) - min(tns) AS span
  FROM s GROUP BY 1, 2, 3
)
SELECT event_type, count(*) AS n_sessions,
       CAST(sum(c) AS BIGINT) AS n_events,
       round(sum(c) * 1.0 / count(*), 6) AS avg_session_events,
       max(c) AS max_session_events,
       round(sum(span) * 1.0 / count(*) / 1000000000.0, 6)
         AS avg_session_span_sec
FROM g GROUP BY event_type
"""


def q_events_hour_window_features(spark, sf_dir):
    """Per-event trailing-HOUR features (count and spend over the last
    hour of the same user) — the RANGE-frame window mode, distinct from
    the ROWS frame of events_rolling_stats: the frame is bounded by the
    TIME VALUE, so simultaneous events are peers and enter each other's
    frames identically on both engines. One shuffle keyed by user_id;
    state per key is the hour's worth of rows."""
    from photon_spark.queries import _t

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"))
    w = (Window.partitionBy("user_id").orderBy("ts")
               .rangeBetween(-HOUR_NS, 0))
    return e.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("hr_n"),
        F.round(F.sum("c").over(w) / 100, 2).alias("hr_sum"))


SQL_EVENTS_HOUR_WINDOW_FEATURES = f"""
WITH o AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
)
SELECT user_id, event_id,
       count(*) OVER w AS hr_n,
       round(sum(c) OVER w / 100.0, 2) AS hr_sum
FROM o
WINDOW w AS (PARTITION BY user_id ORDER BY tns
             RANGE BETWEEN {HOUR_NS} PRECEDING AND CURRENT ROW)
"""


#: behavioral-pretraining packing: events per training sequence
SESSION_PACK_BUDGET = 64

#: composite session-key shift: session_key = user_id·2^SHIFT + session_idx.
#: ONE definition shared by the Spark side, the oracle, and the test; the
#: Spark side raises if a user ever exceeds 2^SHIFT sessions (key bleed
#: into the next user's space would silently corrupt the packing order).
SESSION_KEY_SHIFT = 20


def q_session_packing(spark, sf_dir):
    """Events AS training data: user sessions become the 'documents' of a
    behavioral-pretraining corpus and are packed into fixed-budget
    training sequences — sessionize → session sizes → the same bucketed
    prefix-sum packing the text corpus uses (functions/chunking.py).
    Output is the per-sequence manifest (sessions, events, boundary
    straddlers) a sequence loader consumes.

    Scale shape: one keyed shuffle for sessionization, one bucketed
    prefix-sum exchange for packing, one short-key aggregate — no stage
    touches raw events twice."""
    from photon_spark.functions.chunking import pack_sequences

    e = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    s = session_bounds(e, ["user_id"], ts_col="ts",
                       tiebreak_col="event_id", gap_ns=GAP_NS)
    guarded_idx = F.when(
        F.col("session_idx") < F.lit(1 << SESSION_KEY_SHIFT),
        F.col("session_idx")).otherwise(F.raise_error(F.lit(
            f"session_idx >= 2^{SESSION_KEY_SHIFT}: composite session_key "
            "would collide — widen SESSION_KEY_SHIFT")))
    d = s.select((F.col("user_id") * F.lit(1 << SESSION_KEY_SHIFT)
                  + guarded_idx).alias("session_key"),
                 F.col("n_events"))
    packed = pack_sequences(d, SESSION_PACK_BUDGET, "n_events",
                            id_col="session_key")
    return (packed.groupBy(F.col("first_seq").alias("seq_id"))
                  .agg(F.count(F.lit(1)).alias("n_sessions"),
                       F.sum("n_tokens").alias("n_events"),
                       F.sum(F.col("spans_boundary").cast("long"))
                        .alias("n_boundary_sessions")))


SQL_SESSION_PACKING = f"""
WITH o AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events
), m AS (
  SELECT *, CASE WHEN tns - lag(tns) OVER w IS NULL
                   OR tns - lag(tns) OVER w > {GAP_NS} THEN 1 ELSE 0 END
            AS is_new
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
), s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id
                              ORDER BY tns, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
), g AS (
  SELECT user_id * {1 << SESSION_KEY_SHIFT} + session_idx AS session_key,
         count(*) AS c
  FROM s GROUP BY user_id, session_idx
), cum AS (
  SELECT session_key, c,
         sum(c) OVER (ORDER BY session_key ROWS UNBOUNDED PRECEDING) AS cum
  FROM g
), p AS (
  SELECT session_key, c,
         CAST(floor((cum - c) / {SESSION_PACK_BUDGET}) AS BIGINT)
           AS first_seq,
         CAST(floor((cum - 1) / {SESSION_PACK_BUDGET}) AS BIGINT)
           AS last_seq
  FROM cum
)
SELECT first_seq AS seq_id, count(*) AS n_sessions,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN first_seq != last_seq THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_sessions
FROM p GROUP BY 1
"""


# ------------------------------------------------------- event-time window

def q_events_rate_window(spark, sf_dir):
    """Tumbling 1 h event-time windows per stream: counts + value sums.

    window_start_ns = ts - ts % 3.6e12 is a pure map-side key derivation —
    the plan is scan → partial agg → one short-key shuffle → final agg,
    identical at any scale. The same bucket expression drives a Structured
    Streaming groupBy over readStream (the hot-path form of this query);
    batch and stream share the semantics, per the windowing model of the
    Dataflow paper.
    """
    e = _events(spark, sf_dir)
    bucket = (F.col("ts") - F.col("ts") % F.lit(HOUR_NS)) \
        .alias("window_start_ns")
    return (e.groupBy(bucket, "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value")))


SQL_EVENTS_RATE_WINDOW = f"""
SELECT epoch_ns(ts) - epoch_ns(ts) % {HOUR_NS} AS window_start_ns,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------ stratified sample

#: md5-hex threshold: hashes lexicographically below this are sampled
#: (26/256 ≈ 10.2%). Deterministic, engine-portable, seedable by prefix.
SAMPLE_HEX_LT = "1a"


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sample audit: totals, sampled counts,
    rates, and the sampled char mass (pins exact membership, not just
    cardinality).

    Membership = md5('strat:' || doc_id) < '1a' — map-side, shuffle-free;
    the only exchange is the 5-row final aggregate. The same rule sharded
    over 100 TB needs no coordination (no sort, no reservoir) and any
    stratum rate is tunable per key by choosing the threshold.
    """
    d = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    picked = h < F.lit(SAMPLE_HEX_LT)
    return (d.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.when(picked, 1).otherwise(0)).alias("n_sampled"),
                  F.round(F.sum(F.when(picked, 1).otherwise(0))
                          / F.count(F.lit(1)), 6).alias("sample_rate"),
                  F.sum(F.when(picked, F.col("n_chars")).otherwise(0))
                   .alias("sampled_chars")))


SQL_STRATIFIED_SAMPLE = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN md5('strat:' || doc_id::VARCHAR)
                          < '{SAMPLE_HEX_LT}'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(sum(CASE WHEN md5('strat:' || doc_id::VARCHAR)
                           < '{SAMPLE_HEX_LT}' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS sample_rate,
       CAST(sum(CASE WHEN md5('strat:' || doc_id::VARCHAR)
                          < '{SAMPLE_HEX_LT}'
                THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
FROM documents GROUP BY lang
"""


# ------------------------------------------------------ vocabulary top-k

TOPK = 10


def q_token_topk(spark, sf_dir):
    """Top-10 tokens per language by frequency (deterministic tie-break on
    the token itself) — the exact heavy-hitter baseline.

    Plan: explode → (lang, token) hash-agg with map-side partials (the
    explosion never shuffles raw text, only token+count pairs), then a
    per-lang rank over the distinct-token relation. The rank ≤ k predicate
    gets Catalyst's WindowGroupLimit pushdown (Partial before the
    exchange, Final after — pinned in tests/test_plans.py), i.e. the
    per-partition top-k + merge shape: only ≤ k rows per group per map
    partition ever shuffle, so the plan survives unbounded key spaces.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("lang", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_occurrences"),
                                           F.asc("tok"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
                  .where(F.col("rank") <= TOPK))


SQL_TOKEN_TOPK = f"""
WITH toks AS (
  SELECT lang, lower(unnest({{toks}})) AS tok FROM documents
), counts AS (
  SELECT lang, tok, count(*) AS n_occurrences FROM toks GROUP BY 1, 2
)
SELECT lang, tok, n_occurrences,
       row_number() OVER (PARTITION BY lang
                          ORDER BY n_occurrences DESC, tok ASC) AS rank
FROM counts
QUALIFY rank <= {TOPK}
"""


def _sql_token_topk() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return SQL_TOKEN_TOPK.replace("{toks}", _SQL_TOKS)


#: vocab size for the coverage audit — small enough to leave an OOV tail
#: on the synthetic corpus (31 token types); the operator is K-agnostic
VOCAB_K = 16


def q_vocab_coverage_audit(spark, sf_dir):
    """Tokenizer-vocabulary QA: fix the vocab at the corpus's top-{VOCAB_K}
    tokens (count desc, token asc — deterministic at the boundary), then
    per source report token mass, out-of-vocabulary occurrences and types,
    and the OOV rate — the coverage check run before freezing any vocab.

    Plan: one token hash-agg (map-side partials; raw text never
    shuffles), TakeOrderedAndProject for the top-K (≤ K rows per
    partition move), then the vocab BROADCASTS back onto the token
    stream — the per-source pass is map-side, so the audit costs two
    scans and one short-key aggregate at any corpus size.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("source", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    vocab = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.desc("n"), F.asc("tok")).limit(VOCAB_K)
                 .select("tok", F.lit(1).alias("iv")))
    j = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.col("iv").isNull()
    return (j.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  F.sum(oov.cast("long")).alias("n_oov"),
                  F.round(F.sum(oov.cast("long")) / F.count(F.lit(1)), 6)
                   .alias("oov_rate"),
                  F.countDistinct(F.when(oov, F.col("tok")))
                   .alias("n_oov_types")))


def _sql_vocab_coverage_audit() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT source, lower(unnest({_SQL_TOKS})) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
  ORDER BY n DESC, tok ASC LIMIT {VOCAB_K}
)
SELECT t.source, count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS oov_rate,
       CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS BIGINT)
         AS n_oov_types
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY 1
"""


# -------------------------------------------------- corpus-statistics join

#: a token is "rare" when its document frequency is below this.
RARE_DF = 5


def q_rare_token_rate(spark, sf_dir):
    """Per-language rare-token occurrence rate — the OOV/perplexity-ish
    quality signal: what share of a doc's tokens come from the long tail of
    the corpus vocabulary (document frequency < RARE_DF).

    This is the corpus-statistics JOIN shape: a self-derived vocabulary
    dimension (distinct doc×token → per-token df) joined back onto the
    token stream. The vocabulary is orders of magnitude smaller than the
    corpus (bounded by language), so AQE broadcasts it here; at 100 TB it
    degrades to a keyed join on the token — still linear, and the token
    stream never carries text bodies, only (doc_id, token) pairs.

    Float policy: the per-doc ratio is ONE division rounded to integer
    millionths; the per-language average divides exactly-summed longs —
    no double ever re-associates across partitions.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", "lang", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    vocab = (toks.select("doc_id", "tok").distinct()
                 .groupBy("tok").agg(F.count(F.lit(1)).alias("df_t")))
    per_doc = (toks.join(vocab, "tok")
                   .groupBy("doc_id", "lang")
                   .agg(F.count(F.lit(1)).alias("n_tok"),
                        F.sum(F.when(F.col("df_t") < RARE_DF, 1).otherwise(0))
                         .alias("n_rare")))
    ratio_int = F.round(F.col("n_rare") / F.col("n_tok") * 1e6).cast("long")
    return (per_doc.where(F.col("n_tok") > 0)
            .select("doc_id", "lang", "n_rare", ratio_int.alias("ri"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_rare").alias("rare_occurrences"),
                 F.round(F.sum("ri") / F.count(F.lit(1)) / 1e6, 6)
                  .alias("avg_rare_ratio")))


def _sql_rare_token_rate() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT doc_id, lang, lower(unnest({_SQL_TOKS})) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS df_t
  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
), per_doc AS (
  SELECT t.doc_id, t.lang, count(*) AS n_tok,
         sum(CASE WHEN v.df_t < {RARE_DF} THEN 1 ELSE 0 END) AS n_rare
  FROM toks t JOIN vocab v USING (tok)
  GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_rare) AS BIGINT) AS rare_occurrences,
       round(sum(CAST(round(n_rare * 1.0 / n_tok * 1000000) AS BIGINT))
             * 1.0 / count(*) / 1000000, 6) AS avg_rare_ratio
FROM per_doc WHERE n_tok > 0 GROUP BY lang
"""


# ------------------------------------------------------- decontamination

#: docs with doc_id % BENCH_MOD == 0 play the held-out benchmark set.
BENCH_MOD = 211
#: n-gram width for overlap (13 is the common LLM figure; 8 fits the
#: shorter synthetic docs while exercising the identical plan).
CONTAM_N = 8


def q_contamination_check(spark, sf_dir):
    """Benchmark-decontamination audit: which corpus docs share ≥ 1 word
    {CONTAM_N}-gram with the probe ("benchmark") set, per source.

    The probe side is tiny (real benchmark suites are), so its distinct
    n-grams broadcast and the corpus side is a map-side LEFT SEMI join on
    the gram — the scan never shuffles, only (doc_id) survivors do. This is
    the standard decontamination shape at 100 TB: probe grams in memory on
    every executor, one pass over the corpus.

    The exploded (id, gram) postings feed BOTH join sides, so they are
    shingled once and persisted (call dedup.release_cache on the result to
    free them) — without the persist the n-gram pandas UDF runs twice over
    the whole corpus.
    """
    from photon_spark.functions.dedup import _own_cache, _shingled
    d = _docs(spark, sf_dir)
    sh = _shingled(d, "text", "doc_id", CONTAM_N)
    ex = sh.select("id", F.explode("sh").alias("g")).persist()
    is_bench = F.col("id") % BENCH_MOD == 0
    bench_g = ex.where(is_bench).select("g").distinct()
    corpus = ex.where(~is_bench)
    hits = (corpus.join(bench_g, "g", "left_semi")
                  .select("id").distinct())
    per_doc = (d.where(F.col("doc_id") % BENCH_MOD != 0)
                .join(hits.withColumnRenamed("id", "doc_id")
                          .withColumn("hit", F.lit(1)), "doc_id", "left"))
    return _own_cache(
        per_doc.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                     .alias("n_contaminated"),
                    F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                            / F.count(F.lit(1)), 6)
                     .alias("contamination_rate")),
        [ex])


def _sql_contamination_check() -> str:
    from photon_spark.queries_northstar import _SQL_NORM
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(CONTAM_N))
    grams = (f"list_distinct(list_transform("
             f"generate_series(1, len(t)-{CONTAM_N - 1}), i -> {gram}))")
    return f"""
WITH norm AS (
  SELECT doc_id, string_split({_SQL_NORM}, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, {grams} AS g FROM norm WHERE len(t) >= {CONTAM_N}
), bench AS (
  SELECT DISTINCT unnest(g) AS gr FROM grams
  WHERE doc_id % {BENCH_MOD} = 0
), hits AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(g) AS gr FROM grams
    WHERE doc_id % {BENCH_MOD} != 0)
  WHERE gr IN (SELECT gr FROM bench)
)
SELECT d.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS contamination_rate
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {BENCH_MOD} != 0
GROUP BY d.source
"""


# ----------------------------------------------------- collocation mining

#: min bigram co-occurrence count (kills noise + rank ties on rare pairs)
MIN_COOC = 5
LIFT_TOPK = 50


def q_bigram_lift_topk(spark, sf_dir):
    """Top-{LIFT_TOPK} token bigrams by lift (= the PMI exponent
    c_xy·N / (c_x·c_y), rank-equivalent to PMI since log2 is monotone) —
    the collocation/merge-candidate signal a tokenizer-induction or
    phrase-mining pass needs.

    Plan: the ordered token stream explodes once into (prev, next) pairs
    built from two array slices (map-side, no self-join for adjacency);
    pairs aggregate with map-side combine BEFORE joining the two unigram
    dimensions, so the joins run on |distinct bigrams|, not the token
    stream; the one-row total broadcasts. Float policy: lift is one
    double multiply then one divide of exact long counts, in the same
    association on both engines, rounded to 6dp.
    """
    d = _docs(spark, sf_dir)
    t = F.transform(text.tokens("text"), lambda x: F.lower(x))
    d2 = d.select(t.alias("t")).where(F.size("t") >= 2)
    m = F.size("t")
    pairs = F.zip_with(F.slice("t", 1, m - 1), F.slice("t", 2, m - 1),
                       lambda a, b: F.struct(a.alias("tok_a"),
                                             b.alias("tok_b")))
    bg = (d2.select(F.explode(pairs).alias("p"))
            .select("p.tok_a", "p.tok_b")
            .groupBy("tok_a", "tok_b")
            .agg(F.count(F.lit(1)).alias("n_cooc"))
            .where(F.col("n_cooc") >= MIN_COOC))
    toks = _docs(spark, sf_dir).select(
        F.explode(F.transform(text.tokens("text"),
                              lambda x: F.lower(x))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = uni.agg(F.sum("c").alias("n"))
    lift = F.round(
        (F.col("n_cooc").cast("double") * F.col("n").cast("double"))
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double")), 6)
    return (bg.join(uni.select(F.col("tok").alias("tok_a"),
                               F.col("c").alias("c_a")), "tok_a")
              .join(uni.select(F.col("tok").alias("tok_b"),
                               F.col("c").alias("c_b")), "tok_b")
              .crossJoin(F.broadcast(n_total))
              .select("tok_a", "tok_b", "n_cooc", lift.alias("lift"))
              .orderBy(F.desc("lift"), "tok_a", "tok_b")
              .limit(LIFT_TOPK))


def _sql_bigram_lift_topk() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH d AS (
  SELECT {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT tok_a, tok_b, count(*) AS n_cooc FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> lower(t[i]))) AS tok_a,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> lower(t[i + 1]))) AS tok_b
    FROM d WHERE len(t) >= 2)
  GROUP BY 1, 2 HAVING count(*) >= {MIN_COOC}
), uni AS (
  SELECT lower(unnest(t)) AS tok FROM d
), counts AS (
  SELECT tok, count(*) AS c FROM uni GROUP BY tok
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM counts
)
SELECT bg.tok_a, bg.tok_b, bg.n_cooc,
       round((bg.n_cooc::DOUBLE * tot.n::DOUBLE)
             / (ca.c::DOUBLE * cb.c::DOUBLE), 6) AS lift
FROM bg
JOIN counts ca ON bg.tok_a = ca.tok
JOIN counts cb ON bg.tok_b = cb.tok
CROSS JOIN tot
ORDER BY lift DESC, tok_a, tok_b LIMIT {LIFT_TOPK}
"""


# ------------------------------------------------------- exact quantiles

#: quantile points in percent (integer so ranks stay integer math)
Q_PCTS = (25, 50, 75, 90)


def q_quality_quantiles_by_lang(spark, sf_dir):
    """Exact per-language quality-score quantiles (p25/p50/p75/p90) over
    the 6dp-gated text_profile quality — the distribution audit behind
    quantile-based filter thresholds.

    Exactness: quantile = the ceil(p·n/100)-th smallest value (the
    percentile_disc definition) picked by integer rank — no interpolation,
    so no float arithmetic exists to diverge between engines. The rank is
    (n·p + 99) div 100, pure longs.

    Scale: per-lang rank needs a per-lang sort — fine while |values| per
    key fits a partition spill; the 100 TB path swaps the exact window for
    percentile_approx (t-digest, map-side mergeable) with this query as
    its small-scale truth. Only (lang, quality, doc_id) shuffles — never
    text."""
    d = _docs(spark, sf_dir)
    prof = (text.text_profile(d).select("doc_id", "quality")
            .join(d.select("doc_id", "lang"), "doc_id"))
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    n = Window.partitionBy("lang")
    r = (prof.withColumn("rn", F.row_number().over(w))
             .withColumn("n_docs", F.count(F.lit(1)).over(n)))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for p in Q_PCTS:
        rank = F.expr(f"(n_docs * {p} + 99) div 100")
        aggs.append(F.max(F.when(F.col("rn") == rank, F.col("quality")))
                     .alias(f"p{p}"))
    return r.groupBy("lang").agg(*aggs)


def _sql_quality_quantiles() -> str:
    from photon_spark.queries_northstar import SQL_TEXT_PROFILE
    cols = ",\n       ".join(
        f"max(CASE WHEN rn = (n_docs * {p} + 99) // 100 THEN quality END)"
        f" AS p{p}" for p in Q_PCTS)
    return f"""
WITH prof AS ({SQL_TEXT_PROFILE}),
r AS (
  SELECT d.lang, p.quality, p.doc_id,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY p.quality, p.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS n_docs
  FROM prof p JOIN documents d USING (doc_id)
)
SELECT lang, count(*) AS n_docs, {cols}
FROM r GROUP BY lang
"""


# ------------------------------------------------------ conversion funnel

#: view -> purchase attribution window
FUNNEL_WINDOW_NS = 3600 * 1_000_000_000


def q_events_funnel(spark, sf_dir):
    """Product-analytics conversion funnel: per user, the first `view`
    and the earliest `purchase` within the next hour — summarized as
    conversion rate and mean seconds-to-convert.

    Scale shape: two keyed shuffles on user_id (first-view aggregate,
    then the purchase join lands on the same key so AQE coalesces into
    co-partitioned exchanges); time math is integer-ns end to end, one
    double division at the very end (float policy)."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    fv = (e.where(F.col("event_type") == "view")
           .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    conv = (e.where(F.col("event_type") == "purchase")
             .join(fv, "user_id")
             .where((F.col("ts") >= F.col("first_view"))
                    & (F.col("ts") <= F.col("first_view")
                       + F.lit(FUNNEL_WINDOW_NS)))
             .groupBy("user_id").agg(F.min("ts").alias("conv_ts")))
    j = fv.join(conv, "user_id", "left")
    n_conv = F.count("conv_ts")
    return j.agg(
        F.count(F.lit(1)).alias("n_users_with_view"),
        n_conv.alias("n_converted"),
        F.round(n_conv / F.count(F.lit(1)), 6).alias("conversion_rate"),
        F.round(F.sum(F.col("conv_ts") - F.col("first_view"))
                / n_conv / F.lit(1.0e9), 6).alias("avg_sec_to_convert"))


SQL_EVENTS_FUNNEL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events
), fv AS (
  SELECT user_id, min(tns) AS first_view FROM e
  WHERE event_type = 'view' GROUP BY user_id
), conv AS (
  SELECT e.user_id, min(e.tns) AS conv_ts
  FROM e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase'
    AND e.tns >= fv.first_view
    AND e.tns <= fv.first_view + {FUNNEL_WINDOW_NS}
  GROUP BY e.user_id
)
SELECT count(*) AS n_users_with_view,
       count(conv.conv_ts) AS n_converted,
       round(count(conv.conv_ts) * 1.0 / count(*), 6) AS conversion_rate,
       round(sum(conv.conv_ts - fv.first_view) * 1.0
             / count(conv.conv_ts) / 1000000000, 6) AS avg_sec_to_convert
FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id
"""


# ------------------------------------------------------- sliding windows

#: sliding windows: 1 h length, 15 min slide (4 overlapping windows/event)
SLIDE_NS = HOUR_NS // 4
N_SLIDES = 4


def q_events_sliding_window(spark, sf_dir):
    """Sliding 1 h / 15 min event-time windows per stream: counts + value
    sums. Each event expands map-side into its {N_SLIDES} covering
    windows (an integer explode — no join, no range predicate), then the
    same partial-agg → short-key-shuffle → final-agg shape as the
    tumbling form. This is exactly what Spark's window(slideDuration)
    compiles to; spelled out here so the oracle can mirror it
    integer-for-integer."""
    e = _events(spark, sf_dir)
    # pure long arithmetic: ts/SLIDE via `/` would round-trip through a
    # double and ~1.7e18 ns exceeds 2^53 — a boundary timestamp could land
    # one bucket off. Floored mod (both engines' % truncates toward zero)
    # keeps pre-epoch timestamps in the windows that actually contain
    # them, matching F.window's floor alignment.
    fmod = ((F.col("ts") % F.lit(SLIDE_NS)) + F.lit(SLIDE_NS)) \
        % F.lit(SLIDE_NS)
    base = F.col("ts") - fmod
    starts = F.array(*[(base - j * SLIDE_NS).cast("long")
                       for j in range(N_SLIDES)])
    return (e.select("event_type", "value",
                     F.explode(starts).alias("window_start_ns"))
             .groupBy("window_start_ns", "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value")))


SQL_EVENTS_SLIDING_WINDOW = f"""
SELECT (epoch_ns(ts)
        - ((epoch_ns(ts) % {SLIDE_NS}) + {SLIDE_NS}) % {SLIDE_NS})
         - j * {SLIDE_NS} AS window_start_ns,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events, unnest(range(0, {N_SLIDES})) AS t(j)
GROUP BY 1, 2
"""


# ------------------------------------------------------ rolling features

ROLL_N = 5      #: rolling frame: this row + 4 preceding
ROLL_TOPK = 50


def q_events_rolling_stats(spark, sf_dir):
    """Per-user rolling-window features (count / sum / mean over the last
    5 events) — the time-series feature-engineering shape. One shuffle
    keyed by user_id; the frame is ROWS-bounded so state per key is O(5).
    Money stays exact integer cents inside the frame sum; the mean is one
    division at the end. Output: top-50 frames by rolling sum (bounded —
    compiles to TakeOrderedAndProject, never a global sort).
    """
    e = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-(ROLL_N - 1), Window.currentRow))
    r = e.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("roll_n"),
        F.sum("c").over(w).alias("roll_c"))
    return (r.orderBy(F.desc("roll_c"), "user_id", "event_id")
             .limit(ROLL_TOPK)
             .select("user_id", "event_id", "roll_n",
                     F.round(F.col("roll_c") / 100, 2).alias("roll_sum"),
                     F.round(F.col("roll_c") / F.col("roll_n") / 100, 6)
                      .alias("roll_avg")))


SQL_EVENTS_ROLLING_STATS = f"""
WITH r AS (
  SELECT user_id, event_id,
         count(*) OVER w AS roll_n,
         sum(CAST(round(value * 100) AS BIGINT)) OVER w AS roll_c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
               ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, roll_n,
       round(roll_c / 100.0, 2) AS roll_sum,
       round(roll_c * 1.0 / roll_n / 100, 6) AS roll_avg
FROM r ORDER BY roll_c DESC, user_id, event_id LIMIT {ROLL_TOPK}
"""


# ----------------------------------------------------- z-score anomalies

Z_CUT = 3.0


def q_events_anomaly_zscore(spark, sf_dir):
    """Per-event-type anomaly detection: events whose value is more than
    3 sigma from the type mean. Two passes, zero wide shuffles on the fact
    relation: (1) per-type sum / sum-of-squares as exact integer cents
    (map-side combinable into 5 rows), (2) the 5-row stats broadcast back
    for the per-row z-score. All float math is single IEEE expressions of
    exact integers (sqrt is correctly rounded per IEEE-754), so the oracle
    reproduces it bit-for-bit — no float accumulation anywhere.

    Cents scale bounds sumsq at ~2.4e9 per row — exact in int64 to ~1e9
    rows per type; beyond that the partial sums widen to decimal(38,0).
    """
    e = _events(spark, sf_dir).select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"))
    stats = (e.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("c").alias("s"),
                   F.sum(F.col("c") * F.col("c")).alias("ss")))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    var = (F.col("ss").cast("double") - sd * sd / nd) / nd
    stats = stats.select("event_type", "n", "s",
                         F.sqrt(var).alias("std"), (sd / nd).alias("mean"))
    z = F.when(F.col("std") > 0.0,
               (F.col("c").cast("double") - F.col("mean")) / F.col("std"))\
         .otherwise(F.lit(0.0))
    scored = e.join(F.broadcast(stats), "event_type").select(
        "event_type", "n", F.abs(z).alias("az"))
    return (scored.groupBy("event_type")
                  .agg(F.first("n").alias("n_events"),
                       F.sum(F.when(F.col("az") > Z_CUT, 1).otherwise(0))
                        .alias("n_anomalies"),
                       F.round(F.max("az"), 4).alias("max_abs_z")))


SQL_EVENTS_ANOMALY_ZSCORE = f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
stats AS (
  SELECT event_type, count(*) AS n, sum(c) AS s,
         sum(c * c) AS ss
  FROM e GROUP BY 1
),
st AS (
  SELECT event_type, n,
         sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / n::DOUBLE)
           AS std,
         s::DOUBLE / n::DOUBLE AS mean
  FROM stats
),
scored AS (
  SELECT e.event_type, st.n,
         abs(CASE WHEN st.std > 0.0
                  THEN (e.c::DOUBLE - st.mean) / st.std ELSE 0.0 END) AS az
  FROM e JOIN st ON e.event_type = st.event_type
)
SELECT event_type, any_value(n) AS n_events,
       CAST(sum(CASE WHEN az > {Z_CUT} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       round(max(az), 4) AS max_abs_z
FROM scored GROUP BY 1
"""


# ------------------------------------------------- BPE merge induction

BPE_TOPK = 20


def q_bpe_first_merges(spark, sf_dir):
    """First round of BPE vocabulary induction: the 20 most frequent
    adjacent character pairs over the corpus vocabulary, weighted by word
    frequency — the inner-loop statistic a tokenizer trainer computes.

    Scale shape: pair counting runs on the DISTINCT-word relation (the
    vocabulary — orders of magnitude smaller than the corpus), carrying
    each word's corpus count as the weight; the corpus itself is touched
    once by the word-count aggregation. ASCII-only words keep substring
    semantics identical across engines.
    """
    words = (_docs(spark, sf_dir)
             .select(F.explode(text.tokens(F.col("text"))).alias("t"))
             .select(F.lower("t").alias("w"))
             .where(F.col("w").rlike("^[a-z]{2,}$"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
        )).alias("pair"), "wc")
    return (pairs.groupBy("pair")
                 .agg(F.sum("wc").alias("pair_count"))
                 .orderBy(F.desc("pair_count"), "pair")
                 .limit(BPE_TOPK))


SQL_BPE_FIRST_MERGES = f"""
WITH toks AS (
  SELECT lower(t) AS w
  FROM documents,
       unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END) u(t)
  WHERE regexp_matches(lower(t), '^[a-z]{{2,}}$')
),
words AS (
  SELECT w, count(*) AS wc FROM toks GROUP BY 1
),
pairs AS (
  SELECT p AS pair, wc
  FROM words,
       unnest(list_transform(generate_series(1, length(w) - 1),
                             i -> substr(w, i, 2))) u(p)
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs GROUP BY 1
ORDER BY pair_count DESC, pair LIMIT {BPE_TOPK}
"""


# ----------------------------------------- BPE induction, multi-round

BPE_ROUNDS = 3


def q_bpe_merge_rounds(spark, sf_dir):
    """{BPE_ROUNDS} rounds of actual BPE vocabulary induction: each
    round counts adjacent SYMBOL pairs over the (distinct-word × corpus
    frequency) relation, picks the argmax merge (tie-break lexicographic),
    and APPLIES it to every word before the next round — the real
    tokenizer-trainer loop, not just round-1 statistics
    (q_bpe_first_merges).

    Iterative-with-data-transformation shape: unlike PageRank (static
    edges), each round rewrites the symbolized vocabulary. The rewrite
    is one map-side string replace (space-delimited symbols make the
    merge a literal " a b " → " ab " substitution, greedy left-to-right
    on both engines); pair counting stays on the vocabulary relation,
    never the corpus. The per-round argmax is a 1-row TakeOrdered — the
    merge table is the only thing that ever reaches the driver.
    """
    words = (_docs(spark, sf_dir)
             .select(F.explode(text.tokens(F.col("text"))).alias("t"))
             .select(F.lower("t").alias("w"))
             .where(F.col("w").rlike("^[a-z]{2,}$"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
             .select(F.concat(F.lit(" "),
                              F.regexp_replace("w", "(.)", "$1 "))
                      .alias("s"), "wc")
             .persist())

    def pair_counts(df):
        prs = F.expr(
            "transform(sequence(1, size(split(trim(s), ' ')) - 1), "
            "i -> concat(element_at(split(trim(s), ' '), i), ' ', "
            "element_at(split(trim(s), ' '), i + 1)))")
        return (df.select(F.explode(prs).alias("pair"), "wc")
                  .groupBy("pair").agg(F.sum("wc").alias("pair_count")))

    cur = words
    outs = []
    cached = [words]
    for r in range(1, BPE_ROUNDS + 1):
        counts = pair_counts(cur)
        top = (counts.orderBy(F.desc("pair_count"), F.asc("pair"))
                     .limit(1)
                     .select(F.lit(r).cast("long").alias("round"),
                             "pair",
                             F.regexp_replace("pair", " ", "")
                              .alias("merged"),
                             "pair_count"))
        outs.append(top)
        best = top.collect()[0]
        a_sym, b_sym = best["pair"].split(" ")
        merged = best["merged"]
        # Canonical greedy left-to-right merge as a fold over the symbol
        # list (a plain " a b " → " ab " replace consumes the shared
        # delimiter and merges only every other pair in overlapping runs
        # like "o o o o"). The accumulator keeps the " sym sym " shape,
        # so "acc ends with ' a '" tests exactly the previous UNMERGED
        # symbol — a freshly merged "ab" can never chain (BPE applies one
        # rule per round). Symbols are [a-z]+ only (filtered above), so
        # inlining them in the expression is literal-safe.
        apply_merge = (
            f"aggregate(split(trim(s), ' '), ' ', (acc, x) -> "
            f"CASE WHEN x = '{b_sym}' AND endswith(acc, ' {a_sym} ') "
            f"THEN concat(left(acc, length(acc) - {len(a_sym) + 1}), "
            f"'{merged} ') "
            f"ELSE concat(acc, x, ' ') END)")
        nxt = cur.select(F.expr(apply_merge).alias("s"), "wc")
        # Persist each round's vocabulary so round r+1 does not recount
        # round r's plan.
        nxt = nxt.persist()
        cached.append(nxt)
        cur = nxt
    out = outs[0]
    for t in outs[1:]:
        out = out.unionAll(t)
    from photon_spark.functions.dedup import _own_cache
    return _own_cache(out, cached)


def _sql_bpe_rounds() -> str:
    words = """
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, wc FROM (
    SELECT w, count(*) AS wc FROM (
      SELECT lower(t) AS w
      FROM documents,
           unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END) u(t)
      WHERE regexp_matches(lower(t), '^[a-z]{2,}$')
    ) GROUP BY 1
  )"""
    ctes = [f"w0 AS ({words})"]
    sels = []
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""p{r} AS (
  SELECT u.p AS pair, CAST(sum(wc) AS BIGINT) AS pair_count
  FROM {prev},
       unnest(list_transform(
         generate_series(1, len(string_split(trim(s), ' ')) - 1),
         i -> string_split(trim(s), ' ')[i] || ' '
              || string_split(trim(s), ' ')[i + 1])) u(p)
  GROUP BY 1
)""")
        ctes.append(f"""b{r} AS (
  SELECT {r}::BIGINT AS round, pair, replace(pair, ' ', '') AS merged,
         pair_count
  FROM p{r} ORDER BY pair_count DESC, pair ASC LIMIT 1
)""")
        if r < BPE_ROUNDS:
            # Same canonical fold as the Spark side (RE2 has no
            # lookahead, so a regex can't do this in one pass).
            ctes.append(f"""w{r} AS (
  SELECT list_reduce(
           list_prepend(' ', string_split(trim(s), ' ')),
           (acc, x) -> CASE
             WHEN x = mb.bsym AND ends_with(acc, ' ' || mb.asym || ' ')
             THEN left(acc, length(acc) - length(mb.asym) - 1)
                  || mb.merged || ' '
             ELSE acc || x || ' ' END) AS s, wc
  FROM {prev},
       (SELECT string_split(pair, ' ')[1] AS asym,
               string_split(pair, ' ')[2] AS bsym, merged
        FROM b{r}) mb
)""")
        sels.append(f"SELECT * FROM b{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


# -------------------------------------------- event transition matrix

def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), with exact transition
    counts — the sequence statistic behind next-action models and
    session simulators.

    Plan: ONE keyed window (user, ordered by ts,event_id) produces the
    lag pair map-side per user partition; counts collapse in a 25-key
    aggregate; row totals broadcast back. The probability is one
    division of exact integers, 6dp.
    """
    from pyspark.sql import Window
    e = _events(spark, sf_dir).select("user_id", "ts", "event_id",
                                      "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("next_type",
                          F.lead("event_type").over(w))
              .where(F.col("next_type").isNotNull())
              .groupBy(F.col("event_type").alias("from_type"),
                       F.col("next_type").alias("to_type"))
              .agg(F.count(F.lit(1)).alias("n")))
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (pairs.join(F.broadcast(totals), "from_type")
                 .select("from_type", "to_type", "n", "row_total",
                         F.round(F.col("n").cast("double")
                                 / F.col("row_total").cast("double"), 6)
                          .alias("p"))
                 .orderBy("from_type", "to_type"))


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id)
           AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
  FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n, t.row_total,
       round(p.n::DOUBLE / t.row_total::DOUBLE, 6) AS p
FROM pairs p JOIN totals t ON t.from_type = p.from_type
ORDER BY 1, 2
"""


# ------------------------------------------------- timeline gap filling

#: 2024-01-01 00:00:00 UTC — hour-bucket origin (same epoch the layout
#: audit uses)
T0_NS = 1_704_067_200_000_000_000
#: gate samples every GAPFILL_MOD-th user (the full transform is the
#: operator; the gate bounds its output)
GAPFILL_MOD = 7


def q_events_gap_fill(spark, sf_dir):
    """Timeline densification + forward fill: each sampled user's hourly
    activity from their first to their last active hour, with MISSING
    hours materialized (n_events = 0) and the last known hourly spend
    carried forward — the resample/ffill step every per-entity
    time-series feature pipeline runs before windowed models.

    Plan: one (user, hour) aggregate collapses the event log; the spine
    is a per-user `sequence(min_hour, max_hour)` explode (rows bounded
    by each user's own span — never a global calendar cross-join); the
    left join and the forward-fill window both ride the same user-keyed
    exchange. Money stays exact: cents are summed as longs; the only
    doubles are final single divisions rounded to 2dp on both engines.
    """
    e = _events(spark, sf_dir).where(
        F.col("user_id") % GAPFILL_MOD == 0)
    hourly = (e.select("user_id",
                       F.expr(f"(ts - {T0_NS}) div {HOUR_NS}")
                        .alias("hour"),
                       F.round(F.col("value") * 100).cast("long")
                        .alias("cents"))
               .groupBy("user_id", "hour")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum("cents").alias("cents")))
    span = hourly.groupBy("user_id").agg(F.min("hour").alias("h0"),
                                         F.max("hour").alias("h1"))
    spine = span.select("user_id",
                        F.explode(F.sequence("h0", "h1")).alias("hour"))
    j = (spine.join(hourly, ["user_id", "hour"], "left"))
    w = (Window.partitionBy("user_id").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ff = F.last("cents", ignorenulls=True).over(w)
    return j.select(
        "user_id", "hour",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.round(F.coalesce("cents", F.lit(0)) / 100.0, 2).alias("spend"),
        F.round(ff / 100.0, 2).alias("last_active_spend"),
        (F.col("n_events").isNull()).cast("long").alias("is_gap"))


SQL_EVENTS_GAP_FILL = f"""
WITH hourly AS (
  SELECT user_id, (epoch_ns(ts) - {T0_NS}) // {HOUR_NS} AS hour,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE user_id % {GAPFILL_MOD} = 0
  GROUP BY 1, 2
), span AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM span
)
SELECT s.user_id, s.hour,
       CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
       round(coalesce(h.cents, 0) / 100.0, 2) AS spend,
       round(last_value(h.cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS UNBOUNDED PRECEDING) / 100.0, 2)
         AS last_active_spend,
       CAST(CASE WHEN h.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_gap
FROM spine s
LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
"""


# ----------------------------------------------- watermark lateness audit

#: the watermark delay policy under audit (10 minutes)
WATERMARK_DELAY_NS = 600_000_000_000


def q_watermark_late_audit(spark, sf_dir):
    """Out-of-orderness audit for watermark sizing: replay each stream in
    ARRIVAL order (event_id — photon's order_id is assigned at ingest,
    streams.clj:296-301, so arrival order is the stream order) and
    measure every event's lateness against the running event-time
    high-water mark. Reports, per stream: how many events arrive behind
    the max-seen event time at all, how many a
    {WATERMARK_DELAY_NS // 1_000_000_000}s watermark would DROP, and the
    worst lateness — exactly the evidence that decides
    `withWatermark`'s delay before a streaming job ships.

    Plan: one stream-keyed window (running max over the preceding
    frame), then a per-stream aggregate on the same exchange. Integer ns
    end-to-end; the drop rate is one final division."""
    e = _events(spark, sf_dir).select("event_type", "event_id", "ts")
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    hwm = F.max("ts").over(w)
    late_ns = F.greatest(F.coalesce(hwm - F.col("ts"), F.lit(0)),
                         F.lit(0))
    d = e.select(F.col("event_type").alias("stream_name"),
                 late_ns.alias("late_ns"))
    return (d.groupBy("stream_name")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum((F.col("late_ns") > 0).cast("long"))
                   .alias("n_out_of_order"),
                  F.sum((F.col("late_ns") > WATERMARK_DELAY_NS)
                        .cast("long")).alias("n_dropped"),
                  F.max("late_ns").alias("max_late_ns"),
                  F.round(F.sum((F.col("late_ns") > WATERMARK_DELAY_NS)
                                .cast("long")) / F.count(F.lit(1)), 6)
                   .alias("drop_rate")))


SQL_WATERMARK_LATE_AUDIT = f"""
WITH d AS (
  SELECT event_type AS stream_name,
         greatest(coalesce(
           max(epoch_ns(ts)) OVER (PARTITION BY event_type
                                   ORDER BY event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
           - epoch_ns(ts), 0), 0) AS late_ns
  FROM events
)
SELECT stream_name, count(*) AS n_events,
       CAST(sum(CASE WHEN late_ns > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_out_of_order,
       CAST(sum(CASE WHEN late_ns > {WATERMARK_DELAY_NS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       max(late_ns) AS max_late_ns,
       round(sum(CASE WHEN late_ns > {WATERMARK_DELAY_NS}
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS drop_rate
FROM d GROUP BY 1
"""


# --------------------------------------------------- changelog compaction

def q_changelog_compaction(spark, sf_dir):
    """Latest-record-wins compaction: read the event log as a CDC
    changelog keyed by (user_id, event_type) — each event supersedes the
    key's previous state — and emit every key's CURRENT record plus how
    many versions it compacted away. This is the MERGE/upsert-compaction
    semantics of a Delta/Hudi-style table, expressed as a query: the
    state photon's keyed projections hold live (streams.clj:125-145) is
    exactly this relation's value column.

    Plan: ONE keyed shuffle serves both the rank and the version count
    (same window spec family). Note the unordered count(*) window must
    see every row of its key, so the rn = 1 filter canNOT push below it
    as a WindowGroupLimit — both windows evaluate over the full key
    group, then the filter keeps the top row. Version order is
    (ts, event_id) with the id tie-break — total, so compaction is
    deterministic. Money follows the repo's integer-cents pattern (cents
    long at scan, one divide+round at output) so Spark's BigDecimal
    HALF_UP and DuckDB's round can never disagree on halfway doubles."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    wk = Window.partitionBy("user_id", "event_type")
    w = wk.orderBy(F.desc("ts"), F.desc("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
             .withColumn("n_versions", F.count(F.lit(1)).over(wk))
             .where(F.col("rn") == 1)
             .select("user_id", "event_type",
                     F.col("event_id").alias("last_event_id"),
                     F.col("ts").alias("last_ts_ns"),
                     F.round(F.col("cents") / 100.0, 2)
                      .alias("last_value"),
                     F.col("n_versions").cast("long").alias("n_versions"),
                     (F.col("n_versions") - 1).cast("long")
                      .alias("n_superseded")))


SQL_CHANGELOG_COMPACTION = """
SELECT user_id, event_type, last_event_id, last_ts_ns, last_value,
       n_versions, n_versions - 1 AS n_superseded
FROM (
  SELECT user_id, event_type, event_id AS last_event_id,
         epoch_ns(ts) AS last_ts_ns,
         round(CAST(round(value * 100) AS BIGINT) / 100.0, 2)
           AS last_value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_ns(ts) DESC, event_id DESC)
           AS rn,
         CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
           AS n_versions
  FROM events)
WHERE rn = 1
"""


# ---------------------------------------------------- schema drift audit

WEEK_NS = 7 * 24 * 3_600_000_000_000


def q_schema_drift_audit(spark, sf_dir):
    """Schema drift over time: for every (stream, payload field), the
    week it first/last appeared, how many weeks it was present, and
    whether it arrived LATE (after the stream's own first week) — the
    governance twin of the gated schema-inference projection
    (default_projs.clj:8-26 infers what fields exist; this audits WHEN
    they appeared, which is what breaks downstream consumers). A field
    with late_arrival = 1 is a producer-side schema change nobody
    declared.

    Plan: one pass explodes top-level JSON keys (json_object_keys —
    JVM-side, no UDF), one (stream, field) aggregate, and a
    5-row per-stream aggregate broadcast back. Payload text never
    shuffles — only (stream, week, key) triples."""
    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("stream_name"),
        F.expr(f"(ts - {T0_NS}) div {WEEK_NS}").alias("week"),
        "props")
    keys = e.select("stream_name", "week",
                    F.explode(F.json_object_keys("props"))
                     .alias("field_path"))
    per = (keys.groupBy("stream_name", "field_path")
               .agg(F.min("week").alias("first_week"),
                    F.max("week").alias("last_week"),
                    F.count_distinct("week").alias("n_weeks"),
                    F.count(F.lit(1)).alias("n_events_with_field")))
    s0 = (keys.groupBy("stream_name")
              .agg(F.min("week").alias("stream_first_week"),
                   F.count_distinct("week").alias("stream_weeks")))
    return (per.join(F.broadcast(s0), "stream_name")
               .select("stream_name", "field_path", "first_week",
                       "last_week", "n_weeks", "n_events_with_field",
                       "stream_weeks",
                       (F.col("first_week") > F.col("stream_first_week"))
                       .cast("long").alias("late_arrival")))


SQL_SCHEMA_DRIFT_AUDIT = f"""
WITH keys AS (
  SELECT event_type AS stream_name,
         (epoch_ns(ts) - {T0_NS}) // {WEEK_NS} AS week,
         unnest(json_keys(props)) AS field_path
  FROM events
), per AS (
  SELECT stream_name, field_path,
         min(week) AS first_week, max(week) AS last_week,
         CAST(count(DISTINCT week) AS BIGINT) AS n_weeks,
         count(*) AS n_events_with_field
  FROM keys GROUP BY 1, 2
), s0 AS (
  SELECT stream_name, min(week) AS stream_first_week,
         CAST(count(DISTINCT week) AS BIGINT) AS stream_weeks
  FROM keys GROUP BY 1
)
SELECT p.stream_name, p.field_path, p.first_week, p.last_week,
       p.n_weeks, p.n_events_with_field, s.stream_weeks,
       CAST(CASE WHEN p.first_week > s.stream_first_week
            THEN 1 ELSE 0 END AS BIGINT) AS late_arrival
FROM per p JOIN s0 s USING (stream_name)
"""


# ------------------------------------------------ session_window parity

SESSION_GAP_US = 1_800_000_000  # 30 minutes in µs


def q_session_window_stats(spark, sf_dir):
    """Spark's native ``session_window`` operator cross-validated
    against the classic gaps-and-islands SQL: per (user, session) —
    first/last event time and event count, sessions merged while
    consecutive events are ≤ 30 min apart (boundary pinned empirically:
    diff == gap MERGES, diff > gap breaks; the oracle encodes exactly
    that). This is the operator the streaming session_agg
    (streaming/windows.py) runs under a watermark — gating its batch
    form proves the session semantics against an engine that has no
    session_window at all.

    Both engines work at µs precision (the testdata's ns timestamps
    truncate identically), and outputs are min/max EVENT times, not the
    window's gap-extended end — conventions that cannot drift. One keyed
    shuffle; session assignment is Spark-native state-free batch
    grouping."""
    e = _events(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000").alias("us"))
    ev = e.select("user_id", "us",
                  F.timestamp_micros(F.col("us")).alias("et"))
    return (ev.groupBy(F.session_window("et", "30 minutes").alias("w"),
                       "user_id")
              .agg(F.min("us").alias("session_start_us"),
                   F.max("us").alias("session_last_us"),
                   F.count(F.lit(1)).alias("n_events"))
              .select("user_id", "session_start_us", "session_last_us",
                      "n_events"))


SQL_SESSION_WINDOW_STATS = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
), o AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {SESSION_GAP_US}
              OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(us) AS session_start_us, max(us) AS session_last_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_session_window_stats_salted(spark, sf_dir):
    """The SAME session relation as ``session_window_stats`` built
    through the salted gaps-and-islands kernel
    (skew.salted_sessionize) instead of Spark's native
    ``session_window`` — the hot-key fallback for the second window
    family the skew probes named: a user holding 40% of the log
    otherwise sorts its whole history in the ONE task its session
    merge runs in.

    The kernel costs one (key, ts-bucket) window pass over the data
    plus metadata-sized stitching (per-bucket first/last ts decide
    whether a bucket's provisional first break was real; offsets are a
    ≤B-row running sum per key) — islands spanning bucket boundaries
    glue exactly. Gated against the IDENTICAL oracle as the native
    row, so the hash gate itself proves three-way agreement: Spark
    session_window ≡ salted two-pass ≡ DuckDB gaps-and-islands SQL.
    """
    from photon_spark.functions.skew import salted_sessionize
    e = _events(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000").alias("us"))
    s = salted_sessionize(e, ["user_id"], "us",
                          gap_ns=SESSION_GAP_US)
    return (s.groupBy("user_id", "session_idx")
             .agg(F.min("us").alias("session_start_us"),
                  F.max("us").alias("session_last_us"),
                  F.count(F.lit(1)).alias("n_events"))
             .select("user_id", "session_start_us", "session_last_us",
                     "n_events"))


# ---------------------------------------------------- SCD type-2 history

def q_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2: turn the changelog into the
    full VERSION HISTORY of every (user_id, event_type) key — each
    record becomes a validity interval [valid_from, valid_to) that
    closes when the next version arrives; the newest version stays open
    (valid_to NULL, is_current=1). This is the dimension-table build
    every warehouse does for as-of joins, and the relation
    events_asof_join would probe with BETWEEN instead of a window.

    Plan: ONE keyed shuffle serves both windows (lead and row_number
    share the (key, ts, event_id) sort). Versions are numbered from 1 in
    arrival order; duration is exact ns integer arithmetic; money
    follows the integer-cents pattern."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    w = (Window.partitionBy("user_id", "event_type")
               .orderBy("ts", "event_id"))
    nxt = F.lead("ts").over(w)
    return (e.withColumn("version_n", F.row_number().over(w))
             .withColumn("valid_to_ns", nxt)
             .select("user_id", "event_type",
                     F.col("version_n").cast("long").alias("version_n"),
                     F.col("event_id").alias("src_event_id"),
                     F.col("ts").alias("valid_from_ns"),
                     "valid_to_ns",
                     (F.col("valid_to_ns") - F.col("ts"))
                      .alias("valid_for_ns"),
                     F.when(F.col("valid_to_ns").isNull(), 1).otherwise(0)
                      .cast("long").alias("is_current"),
                     F.round(F.col("cents") / 100.0, 2).alias("value")))


SQL_SCD2_HISTORY = """
SELECT user_id, event_type,
       CAST(row_number() OVER w AS BIGINT) AS version_n,
       event_id AS src_event_id,
       epoch_ns(ts) AS valid_from_ns,
       lead(epoch_ns(ts)) OVER w AS valid_to_ns,
       lead(epoch_ns(ts)) OVER w - epoch_ns(ts) AS valid_for_ns,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_current,
       round(CAST(round(value * 100) AS BIGINT) / 100.0, 2) AS value
FROM events
WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY epoch_ns(ts), event_id)
"""


#: time-range fan-out of the salted SCD2 build — each key's history
#: spreads over ≤ this many tasks instead of exactly one
SCD2_SALT_BUCKETS = 16


def q_scd2_history_salted(spark, sf_dir):
    """The SAME SCD2 relation as ``scd2_history`` built through the
    salted two-pass hot-key window kernel (skew.bucketed_key_window) —
    the fallback that removes the one-task-per-key ceiling: a key
    holding 40% of the changelog sorts ~1/{SCD2_SALT_BUCKETS} of its
    history per task instead of all of it in one.

    Gated against the IDENTICAL oracle as the plain row, so the hash
    gate itself proves the two-pass stitch (range-bucket by ts, local
    row_number/lead per (key, bucket), metadata-sized boundary handoff)
    is value-identical — the row-identity contract SCALE.md's
    skewed-key-window section documents. Cost at uniform keys is the
    measured ~2× premium (one extra keyed shuffle + the summary join);
    the payoff regime is a key whose history exceeds an executor's
    sort budget, where the plain form stalls a stage forever.
    """
    from photon_spark.functions.skew import bucketed_key_window
    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    g = bucketed_key_window(e, ["user_id", "event_type"],
                            ["ts", "event_id"], ["ts"],
                            n_buckets=SCD2_SALT_BUCKETS)
    return g.select("user_id", "event_type",
                    F.col("_rn").cast("long").alias("version_n"),
                    F.col("event_id").alias("src_event_id"),
                    F.col("ts").alias("valid_from_ns"),
                    F.col("_next_ts").alias("valid_to_ns"),
                    (F.col("_next_ts") - F.col("ts"))
                     .alias("valid_for_ns"),
                    F.when(F.col("_next_ts").isNull(), 1).otherwise(0)
                     .cast("long").alias("is_current"),
                    F.round(F.col("cents") / 100.0, 2).alias("value"))


# ------------------------------------------------------- upsert merge

#: MERGE window: base snapshot is state before Jan 3; the incoming batch
#: is the [Jan 3, Jan 6) changelog slice. Epoch-ns, UTC.
_MERGE_CUT_NS = 1_704_240_000 * 1_000_000_000
_MERGE_END_NS = 1_704_499_200 * 1_000_000_000


def q_upsert_merge(spark, sf_dir):
    """MERGE INTO semantics (Delta/Hudi/Iceberg's upsert statement)
    expressed as a pure query: merge a bounded changelog batch
    ([Jan 3, Jan 6) events) into the base snapshot (latest state per
    (user_id, event_type) key before Jan 3) and emit the merge
    changelog — every surviving key with its merge_action:

    - ``keep``    key untouched by the batch (base values)
    - ``insert``  key new in the batch
    - ``update``  batch supersedes base
    - ``delete``  batch's latest record is a tombstone (synthetic delete
      marker: integer cents divisible by 10) for an existing key — the
      row carries the base values it removes; a tombstone for an ABSENT
      key emits nothing, exactly like MERGE's unmatched DELETE.

    Plan: ONE keyed shuffle, NO join and NO window — both sides compact
    in the same partial-then-final aggregate via null-skipping max over
    (ts, event_id)-led structs (max_by with a total deterministic order),
    so base and batch state collapse map-side before anything moves. The
    full-outer-join formulation this replaces would shuffle the log
    twice; here merge cost is one pass over the changelog — the shape
    that makes continuous CDC compaction viable at 100 TB."""
    from photon_spark.queries import _t_pruned
    e = (_t_pruned(spark, sf_dir, "events",
                   {"ts": (None, _MERGE_END_NS)})
         .select("user_id", "event_type", "event_id", "ts",
                 F.round(F.col("value") * 100).cast("long").alias("cents"),
                 (F.col("ts") >= _MERGE_CUT_NS).alias("hot")))
    rec = F.struct("ts", "event_id", "cents")
    g = (e.groupBy("user_id", "event_type")
          .agg(F.max(F.when(~F.col("hot"), rec)).alias("b"),
               F.max(F.when(F.col("hot"), rec)).alias("h")))
    # NULL-safe: a hot record with NULL value is NOT a tombstone (the
    # oracle's WHERE would otherwise drop the row while the engine
    # inserts it — a latent parity break on NULL-valued events)
    tomb = F.coalesce(F.col("h.cents") % 10 == 0, F.lit(False))
    action = (F.when(F.col("h").isNull(), "keep")
               .when(F.col("b").isNull() & tomb, None)
               .when(F.col("b").isNull(), "insert")
               .when(tomb, "delete")
               .otherwise("update"))
    src = F.when(action.isin("keep", "delete"), F.col("b")) \
           .otherwise(F.col("h"))
    return (g.withColumn("merge_action", action)
             .where(F.col("merge_action").isNotNull())
             .select("user_id", "event_type", "merge_action",
                     src.getField("event_id").alias("last_event_id"),
                     src.getField("ts").alias("last_ts_ns"),
                     F.round(src.getField("cents") / 100.0, 2)
                      .alias("last_value")))


def _single_live_tempdir(owner, prefix: str) -> str:
    """Per-call tempdir under the SINGLE-LIVE-RESULT contract shared by
    every durable-table gate query (PairTable, CdcMergeTable): frees the
    owner function's PREVIOUS dir — bounding disk to one extra copy
    across bench warm-ups and gate re-runs — and registers
    interpreter-exit cleanup. Only the most recent returned relation
    stays readable; a plan-then-execute loop must materialize each
    result before calling again."""
    import atexit
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    prev = getattr(owner, "_prev_dir", None)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    owner._prev_dir = base
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def _cdc_changelog_rel(spark, sf_dir):
    """The CDC fixture changelog shared by the gated CdcMergeTable
    queries: events as latest-wins records keyed by (user_id,
    event_type) ordered by (ts, event_id), integer cents, NULL-safe
    synthetic tombstone (cents divisible by 10)."""
    from photon_spark.queries import _t

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return ev.withColumn(
        "is_tombstone",
        F.coalesce(F.col("cents") % 10 == 0, F.lit(False)))


def _apply_concurrent(*applies):
    """Run INDEPENDENT CdcMergeTable batch applies concurrently
    (guide §2.6 — overlap independent jobs): each apply compacts its
    own changelog slice and lands it in its own ``batch=<id>``
    partition (separate output dirs, separate commit protocols), and
    the merged state is an order-free argmax, so inter-apply order was
    never part of any row's semantics. Compactions are NOT eligible —
    ``apply_batch`` itself refuses to run under a compaction lease, so
    every ``compact()`` stays a barrier between concurrent groups."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(applies)) as pool:
        futs = [pool.submit(a) for a in applies]
        for f in futs:
            f.result()


def q_cdc_merge_state(spark, sf_dir):
    """The DURABLE continuous-merge table (streaming/cdc.CdcMergeTable)
    under the hash gate — the PairTable treatment applied to warehouse
    CDC: build the table in a per-call tempdir from three
    deterministically-sliced changelog batches (event_id % 3, so batch
    order is arbitrary with respect to event time — late data by
    construction), run a MINOR COMPACTION after the second batch (the
    read path must cross a committed manifest fold AND a post-fold
    batch partition), then return ``state()``. The oracle is ONE
    argmax over the whole changelog with tombstone winners dropped —
    a hash match certifies, cross-engine, that batch boundaries,
    the fold, and the manifest commit are all invisible to the merged
    state (the associativity the round-8 rename-free protocol rests
    on). SINGLE-LIVE-RESULT CONTRACT (see _single_live_tempdir)."""
    from photon_spark.streaming.cdc import CdcMergeTable

    ev = _cdc_changelog_rel(spark, sf_dir)
    base = _single_live_tempdir(q_cdc_merge_state, "photon_cdcstate_")
    t = CdcMergeTable(spark, base, ["user_id", "event_type"],
                      ["ts", "event_id"])
    _apply_concurrent(
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 0), 0),
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 1), 1))
    t.compact()
    t.apply_batch(ev.where(F.col("event_id") % 3 == 2), 2)
    return t.state()


def q_cdc_time_travel(spark, sf_dir):
    """CdcMergeTable TIME TRAVEL under the hash gate, across a fold
    boundary: apply batches 0 and 1 (event_id % 3 slices), run a minor
    compaction (fold tag = 1), apply batch 2 on top, then ask for the
    state AS OF batch 1 — an as-of read served ENTIRELY by the manifest
    fold (batch 2 must be invisible; partition pruning means its dir is
    never even listed into the scan). The oracle recomputes the same
    boundary from the raw changelog: argmax over events with
    event_id % 3 != 2, tombstone winners dropped. A hash match
    certifies cross-engine that the fold preserves per-record history
    exactly at its tag — the guarantee `state_at` sells.

    SINGLE-LIVE-RESULT CONTRACT (see _single_live_tempdir)."""
    from photon_spark.streaming.cdc import CdcMergeTable

    ev = _cdc_changelog_rel(spark, sf_dir)
    base = _single_live_tempdir(q_cdc_time_travel, "photon_cdctt_")
    t = CdcMergeTable(spark, base, ["user_id", "event_type"],
                      ["ts", "event_id"])
    _apply_concurrent(
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 0), 0),
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 1), 1))
    t.compact()                       # folds 0..1; manifest tag = 1
    t.apply_batch(ev.where(F.col("event_id") % 3 == 2), 2)
    return t.state_at(1)


SQL_CDC_TIME_TRAVEL = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 3 != 2
), w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_ns DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_type, ts_ns AS ts, event_id, cents
FROM w WHERE rn = 1 AND NOT coalesce(cents % 10 = 0, FALSE)
"""


SQL_CDC_MERGE_STATE = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_ns DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_type, ts_ns AS ts, event_id, cents
FROM w WHERE rn = 1 AND NOT coalesce(cents % 10 = 0, FALSE)
"""


def q_cdc_stream_merge_state(spark, sf_dir):
    """The LAST pytest-only CDC surface promoted under the hash gate:
    the CdcMergeTable built by an ACTUAL Structured Streaming run —
    readStream over a three-file changelog source (maxFilesPerTrigger=1
    → three real foreachBatch micro-batches with checkpointed ids),
    drained once (streaming.tuning.drain), THEN one injected
    at-least-once REPLAY (a whole slice re-applied under an already-used
    batch id) — and its
    ``state()`` hash-checked against the same one-argmax DuckDB oracle
    as the batch-built ``cdc_merge_state``. A hash match certifies that
    micro-batch boundaries, the streaming engine's file-to-batch
    assignment (source file order is whatever the engine picks — the
    argmax is order-free by design), the checkpointed id space and a
    verbatim replay are ALL invisible to the merged state.

    SINGLE-LIVE-RESULT CONTRACT (see _single_live_tempdir)."""
    import os

    from photon_spark.streaming.cdc import CdcMergeTable

    ev = _cdc_changelog_rel(spark, sf_dir)
    base = _single_live_tempdir(q_cdc_stream_merge_state,
                                "photon_cdcstream_")
    src = os.path.join(base, "src")
    # three source files -> three micro-batches (the shaped changelog
    # is pre-written so the stream reads plain epoch-ns longs). ONE
    # write job: partitionBy lands each event_id%3 slice in its own
    # file under _slice=k/ — the previous three append jobs scanned
    # the changelog once per slice (guide §6: 3 scans -> 1). The
    # stream reads with recursiveFileLookup, so _slice never becomes
    # a column and each leaf file is one micro-batch, exactly as the
    # three flat files were.
    (ev.withColumn("_slice", F.col("event_id") % 3)
       .coalesce(1).write.partitionBy("_slice").parquet(src))
    t = CdcMergeTable(spark, os.path.join(base, "table"),
                      ["user_id", "event_type"], ["ts", "event_id"])
    # batch-side shuffle partitions sized from the changelog volume:
    # the merge is associative, so the state is partition-count invariant
    drain(spark.readStream.schema(ev.schema)
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream.foreachBatch(t.foreach_batch())
          .option("checkpointLocation", os.path.join(base, "ckpt")),
          spark, src, timeout_sec=300)
    # two injected at-least-once replays, hash-invariant by argmax:
    # (1) VERBATIM same-id replay — batch 0 re-applies its own content
    # (a crashed-and-retried foreachBatch clobbers its own partition;
    # the content is read back from the partition because the engine,
    # not this query, chose which file became batch 0);
    # (2) restarted-id-space replay — an already-folded slice re-lands
    # under a NEW id (a producer whose checkpoint was wiped), and its
    # verbatim duplicates collapse under the argmax
    b0 = spark.read.parquet(os.path.join(base, "table", "batch=0"))
    t.apply_batch(b0, 0)
    t.apply_batch(ev.where(F.col("event_id") % 3 == 1), 3)
    return t.state()


SQL_UPSERT_MERGE = """
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents,
         ts >= TIMESTAMP '2024-01-03' AS hot
  FROM events
  WHERE ts < TIMESTAMP '2024-01-06'
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type, hot
                               ORDER BY ts_ns DESC, event_id DESC) AS rn
  FROM e
), b AS (SELECT * FROM ranked WHERE rn = 1 AND NOT hot),
   h AS (SELECT * FROM ranked WHERE rn = 1 AND hot)
SELECT coalesce(b.user_id, h.user_id) AS user_id,
       coalesce(b.event_type, h.event_type) AS event_type,
       CASE WHEN h.user_id IS NULL THEN 'keep'
            WHEN b.user_id IS NULL THEN 'insert'
            WHEN coalesce(h.cents % 10 = 0, false) THEN 'delete'
            ELSE 'update' END AS merge_action,
       CASE WHEN h.user_id IS NULL OR (b.user_id IS NOT NULL
                 AND coalesce(h.cents % 10 = 0, false))
            THEN b.event_id ELSE h.event_id END AS last_event_id,
       CASE WHEN h.user_id IS NULL OR (b.user_id IS NOT NULL
                 AND coalesce(h.cents % 10 = 0, false))
            THEN b.ts_ns ELSE h.ts_ns END AS last_ts_ns,
       round(CASE WHEN h.user_id IS NULL OR (b.user_id IS NOT NULL
                       AND coalesce(h.cents % 10 = 0, false))
                  THEN b.cents ELSE h.cents END / 100.0, 2) AS last_value
FROM b FULL JOIN h
  ON b.user_id = h.user_id AND b.event_type = h.event_type
WHERE NOT (b.user_id IS NULL AND coalesce(h.cents % 10 = 0, false))
"""


QUERIES = {
    "events_sessionize": q_events_sessionize,
    "session_window_stats": q_session_window_stats,
    "session_window_stats_salted": q_session_window_stats_salted,
    "events_rate_window": q_events_rate_window,
    "stratified_sample": q_stratified_sample,
    "token_topk": q_token_topk,
    "rare_token_rate": q_rare_token_rate,
    "contamination_check": q_contamination_check,
    "bigram_lift_topk": q_bigram_lift_topk,
    "quality_quantiles_by_lang": q_quality_quantiles_by_lang,
    "events_funnel": q_events_funnel,
    "events_sliding_window": q_events_sliding_window,
    "events_rolling_stats": q_events_rolling_stats,
    "events_anomaly_zscore": q_events_anomaly_zscore,
    "bpe_first_merges": q_bpe_first_merges,
    "event_transition_matrix": q_event_transition_matrix,
    "bpe_merge_rounds": q_bpe_merge_rounds,
    "vocab_coverage_audit": q_vocab_coverage_audit,
    "session_packing": q_session_packing,
    "events_hour_window_features": q_events_hour_window_features,
    "events_gap_fill": q_events_gap_fill,
    "watermark_late_audit": q_watermark_late_audit,
    "changelog_compaction": q_changelog_compaction,
    "schema_drift_audit": q_schema_drift_audit,
    "upsert_merge": q_upsert_merge,
    "scd2_history": q_scd2_history,
    "scd2_history_salted": q_scd2_history_salted,
    "cdc_stream_merge_state": q_cdc_stream_merge_state,
    "cdc_merge_state": q_cdc_merge_state,
    "cdc_time_travel": q_cdc_time_travel,
}

ORACLES = {
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "session_window_stats": SQL_SESSION_WINDOW_STATS,
    "session_window_stats_salted": SQL_SESSION_WINDOW_STATS,
    "events_rate_window": SQL_EVENTS_RATE_WINDOW,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "token_topk": _sql_token_topk(),
    "rare_token_rate": _sql_rare_token_rate(),
    "contamination_check": _sql_contamination_check(),
    "bigram_lift_topk": _sql_bigram_lift_topk(),
    "quality_quantiles_by_lang": _sql_quality_quantiles(),
    "events_funnel": SQL_EVENTS_FUNNEL,
    "events_sliding_window": SQL_EVENTS_SLIDING_WINDOW,
    "events_rolling_stats": SQL_EVENTS_ROLLING_STATS,
    "events_anomaly_zscore": SQL_EVENTS_ANOMALY_ZSCORE,
    "bpe_first_merges": SQL_BPE_FIRST_MERGES,
    "event_transition_matrix": SQL_EVENT_TRANSITION_MATRIX,
    "bpe_merge_rounds": _sql_bpe_rounds(),
    "vocab_coverage_audit": _sql_vocab_coverage_audit(),
    "session_packing": SQL_SESSION_PACKING,
    "events_hour_window_features": SQL_EVENTS_HOUR_WINDOW_FEATURES,
    "events_gap_fill": SQL_EVENTS_GAP_FILL,
    "watermark_late_audit": SQL_WATERMARK_LATE_AUDIT,
    "changelog_compaction": SQL_CHANGELOG_COMPACTION,
    "schema_drift_audit": SQL_SCHEMA_DRIFT_AUDIT,
    "upsert_merge": SQL_UPSERT_MERGE,
    "scd2_history": SQL_SCD2_HISTORY,
    "scd2_history_salted": SQL_SCD2_HISTORY,
    "cdc_merge_state": SQL_CDC_MERGE_STATE,
    "cdc_stream_merge_state": SQL_CDC_MERGE_STATE,
    "cdc_time_travel": SQL_CDC_TIME_TRAVEL,
}


# ---------------------------------------------- linear attribution

_ATTR_WINDOW_NS = 7 * 86_400 * 1_000_000_000


def q_linear_attribution(spark, sf_dir):
    """Multi-touch LINEAR attribution — the funnel's missing sibling
    (events_funnel is first-touch): every view by the same user in the
    7 days before a purchase shares that purchase's value equally.
    Output is the touch-count distribution: purchases, gross value and
    per-touch credit by n_touch (n_touch=0 = unattributable purchases,
    credit NULL on both engines).

    Plan: ONE user-keyed shuffle joins purchases to views; the 7-day
    bound is a pure ns-long residual, so per-user state bounds the join
    (views per user, never the cross of event types). The first
    aggregate collapses to one row per purchase map-side; the n_touch
    rollup is ~tens of rows. Money stays integer cents until ONE
    double division per group (sum is exact in double far beyond this
    magnitude)."""
    e = _events(spark, sf_dir)
    p = (e.where(F.col("event_type") == "purchase")
          .select("event_id", "user_id", F.col("ts").alias("pts"),
                  F.round(F.col("value") * 100).cast("long")
                   .alias("cents")))
    v = (e.where(F.col("event_type") == "view")
          .select(F.col("user_id").alias("v_user"),
                  F.col("ts").alias("vts")))
    j = p.join(v, (p.user_id == v.v_user)
               & (v.vts <= p.pts)
               & (v.vts > p.pts - F.lit(_ATTR_WINDOW_NS)), "left")
    per_p = (j.groupBy("event_id", "cents")
              .agg(F.count("vts").alias("n_touch")))
    return (per_p.groupBy("n_touch")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.round(F.sum("cents") / 100.0, 2).alias("gross_value"),
                 F.when(F.col("n_touch") > 0,
                        F.round(F.sum("cents").cast("double")
                                / (100.0 * F.col("n_touch")), 2))
                  .alias("credit_per_touch")))


SQL_LINEAR_ATTRIBUTION = f"""
WITH p AS (
  SELECT event_id, user_id, epoch_ns(ts) AS pts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
v AS (
  SELECT user_id AS v_user, epoch_ns(ts) AS vts FROM events
  WHERE event_type = 'view'),
t AS (
  SELECT p.event_id, p.cents, count(v.vts) AS n_touch
  FROM p LEFT JOIN v ON p.user_id = v.v_user
    AND v.vts <= p.pts AND v.vts > p.pts - {_ATTR_WINDOW_NS}::BIGINT
  GROUP BY 1, 2)
SELECT n_touch, count(*) AS n_purchases,
       round(sum(cents) / 100.0, 2) AS gross_value,
       CASE WHEN n_touch > 0
            THEN round(sum(cents)::DOUBLE / (100.0 * n_touch), 2)
       END AS credit_per_touch
FROM t GROUP BY 1
"""

QUERIES["linear_attribution"] = q_linear_attribution
ORACLES["linear_attribution"] = SQL_LINEAR_ATTRIBUTION


# ----------------------------------------- CDC multi-writer merge

#: half-open ns upper bound (2024-01-06 UTC) shared with the SQL twin
_CDC_MW_HI_NS = 1704499200 * 10**9


def q_cdc_multi_writer_state(spark, sf_dir):
    """TWO independent producers feeding ONE durable CdcMergeTable —
    the deployment shape where two foreachBatch sinks with their own
    checkpoints both emit batch ids 0,1,2,…: each writer handle is
    constructed with its (writer_id, n_writers) sub-range, so ids
    namespace as ``id*2 + writer`` and neither producer can clobber
    the other's partitions. The changelog (bounded to the first five
    days, scan-prunable) splits by ``event_id % 4`` into four slices;
    writer 0 owns slices 0/2 as its local batches 0/1, writer 1 owns
    1/3 — applied interleaved, with a COMPACTION between rounds run by
    writer 0 while writer 1 still has a batch outstanding. The oracle
    is one argmax over the bounded changelog, blind to writers,
    batches, and the fold: a hash match certifies the namespaced id
    space keeps multi-writer ingest exactly as mergeable as
    single-writer (the guarantee the sub-range design sells).
    SINGLE-LIVE-RESULT CONTRACT (see _single_live_tempdir)."""
    from photon_spark.streaming.cdc import CdcMergeTable

    ev = (_cdc_changelog_rel(spark, sf_dir)
          .where(F.col("ts") < F.lit(_CDC_MW_HI_NS)))
    base = _single_live_tempdir(q_cdc_multi_writer_state,
                                "photon_cdcmw_")
    w0 = CdcMergeTable(spark, base, ["user_id", "event_type"],
                       ["ts", "event_id"], writer_id=0, n_writers=2)
    w1 = CdcMergeTable(spark, base, ["user_id", "event_type"],
                       ["ts", "event_id"], writer_id=1, n_writers=2)
    # the two producers genuinely run CONCURRENTLY (the deployment
    # shape the docstring sells); compact() stays a barrier because
    # apply_batch refuses a held lease
    _apply_concurrent(
        lambda: w0.apply_batch(ev.where(F.col("event_id") % 4 == 0), 0),
        lambda: w1.apply_batch(ev.where(F.col("event_id") % 4 == 1), 0))
    w0.compact()                       # folds global 0..1
    _apply_concurrent(
        lambda: w0.apply_batch(ev.where(F.col("event_id") % 4 == 2), 1),
        lambda: w1.apply_batch(ev.where(F.col("event_id") % 4 == 3), 1))
    return w0.state()


SQL_CDC_MULTI_WRITER_STATE = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts < TIMESTAMP '2024-01-06'
), w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_ns DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_type, ts_ns AS ts, event_id, cents
FROM w WHERE rn = 1 AND NOT coalesce(cents % 10 = 0, FALSE)
"""

QUERIES["cdc_multi_writer_state"] = q_cdc_multi_writer_state
ORACLES["cdc_multi_writer_state"] = SQL_CDC_MULTI_WRITER_STATE


# ------------------------------------------- vocabulary growth curve

def q_vocab_growth_curve(spark, sf_dir):
    """HEAPS-LAW vocabulary-growth audit — the corpus statistic a
    tokenizer budget decision reads: split the corpus into ten
    deterministic deciles by doc_id, and per decile report token mass,
    NEW vocabulary types first seen there, and the cumulative curves.
    A vocabulary still growing linearly at decile 10 means the corpus
    is nowhere near lexical saturation (more data keeps buying new
    types); a flattening curve justifies freezing the vocab.

    Scale shape: the prefix-cumulative "distinct types so far" is NOT
    recomputed per prefix (that would be 10 distinct-aggregations over
    the token stream) — each type's FIRST decile is one min-aggregate
    over the (token) key, then every curve is an integer cumsum over
    the ten-row rollup. The token stream is read once; two keyed
    shuffles total (token-level min, decile-level counts), both with
    map-side combine; the window runs over 10 rows on the driver-side
    scale, never over data."""
    d = _docs(spark, sf_dir)
    n = d.agg(F.max("doc_id")).first()[0] + 1  # dense ids: corpus size
    # integer division on BOTH engines: DuckDB CAST(double AS BIGINT)
    # ROUNDS where Spark truncates, so never bucket through a double
    dec = F.least(F.lit(9), F.expr(f"(doc_id * 10) div {n}")).alias("decile")
    toks = (d.select(dec, F.explode(
                F.transform(text.tokens("text"),
                            lambda t: F.lower(t))).alias("tok")))
    per_dec = (toks.groupBy("decile")
                   .agg(F.count(F.lit(1)).alias("n_tokens")))
    first_seen = (toks.groupBy("tok")
                      .agg(F.min("decile").alias("decile"))
                      .groupBy("decile")
                      .agg(F.count(F.lit(1)).alias("new_types")))
    docs_per = d.select(dec).groupBy("decile") \
                .agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (per_dec.join(first_seen, "decile", "left")
                   .join(docs_per, "decile")
                   .select("decile", "n_docs", "n_tokens",
                           F.coalesce("new_types", F.lit(0))
                            .alias("new_types"))
                   .withColumn("cum_tokens",
                               F.sum("n_tokens").over(w).cast("long"))
                   .withColumn("cum_types",
                               F.sum("new_types").over(w).cast("long")))


def _sql_vocab_growth_curve() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH n AS (
  SELECT max(doc_id) + 1 AS n FROM documents
), d AS (
  SELECT doc_id, least(9, (doc_id * 10) // (SELECT n FROM n)) AS decile,
         {_SQL_TOKS} AS t
  FROM documents
), toks AS (
  SELECT decile, lower(unnest(t)) AS tok FROM d
), per_dec AS (
  SELECT decile, count(*) AS n_tokens FROM toks GROUP BY 1
), first_seen AS (
  SELECT decile, count(*) AS new_types FROM (
    SELECT tok, min(decile) AS decile FROM toks GROUP BY 1
  ) GROUP BY 1
), docs_per AS (
  SELECT decile, count(*) AS n_docs FROM d GROUP BY 1
)
SELECT p.decile, dp.n_docs, p.n_tokens,
       coalesce(f.new_types, 0) AS new_types,
       CAST(sum(p.n_tokens) OVER (ORDER BY p.decile) AS BIGINT)
         AS cum_tokens,
       CAST(sum(coalesce(f.new_types, 0)) OVER (ORDER BY p.decile)
            AS BIGINT) AS cum_types
FROM per_dec p
LEFT JOIN first_seen f USING (decile)
JOIN docs_per dp USING (decile)
"""


QUERIES["vocab_growth_curve"] = q_vocab_growth_curve
ORACLES["vocab_growth_curve"] = _sql_vocab_growth_curve()


# ----------------------------------------- CDC snapshot state diff

def q_cdc_state_diff(spark, sf_dir):
    """WHAT CHANGED between two committed points of the durable merge
    table — the table-history question (Delta's DESCRIBE HISTORY +
    diff) answered from CdcMergeTable's time travel: build the table
    from three batches with the FOLD SITTING EXACTLY ON the old
    boundary (compact after batch 0, so state_at(0) is served entirely
    by the manifest fold while state_at(2) reads fold + two live
    batches), then diff state_at(0)
    against state_at(2) per (event_type): keys inserted, updated,
    deleted, unchanged, with exact integer cents deltas. The oracle
    recomputes both boundary states straight from the raw changelog
    (argmax over event_id % 3 == 0, argmax over all, tombstone winners
    dropped) and diffs them blind to batches, folds, and the manifest.

    Scale: each state_at is the manifest fold + O(post-fold batches);
    the diff is one full-outer join on the key columns shipping
    (key, ts, cents) triples — fingerprint-sized rows, the corpus
    never moves. Output is the per-event_type rollup.
    SINGLE-LIVE-RESULT CONTRACT (see _single_live_tempdir)."""
    from photon_spark.streaming.cdc import CdcMergeTable

    ev = _cdc_changelog_rel(spark, sf_dir)
    base = _single_live_tempdir(q_cdc_state_diff, "photon_cdcdiff_")
    t = CdcMergeTable(spark, base, ["user_id", "event_type"],
                      ["ts", "event_id"])
    t.apply_batch(ev.where(F.col("event_id") % 3 == 0), 0)
    t.compact()                       # fold tag = 0: the old boundary
    _apply_concurrent(
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 1), 1),
        lambda: t.apply_batch(ev.where(F.col("event_id") % 3 == 2), 2))
    old = t.state_at(0).select(
        F.col("user_id").alias("u"), F.col("event_type").alias("et"),
        F.col("event_id").alias("old_event_id"),
        F.col("cents").alias("old_cents"))
    new = t.state_at(2).select(
        F.col("user_id").alias("u"), F.col("event_type").alias("et"),
        F.col("event_id").alias("new_event_id"),
        F.col("cents").alias("new_cents"))
    j = old.join(new, ["u", "et"], "full_outer")
    status = (F.when(F.col("old_event_id").isNull(), "inserted")
               .when(F.col("new_event_id").isNull(), "deleted")
               .when(F.col("old_event_id") != F.col("new_event_id"),
                     "updated")
               .otherwise("unchanged"))
    delta = (F.coalesce(F.col("new_cents"), F.lit(0))
             - F.coalesce(F.col("old_cents"), F.lit(0)))
    return (j.groupBy(F.col("et").alias("event_type"),
                      status.alias("status"))
             .agg(F.count(F.lit(1)).alias("n_keys"),
                  F.sum(delta).alias("cents_delta")))


SQL_CDC_STATE_DIFF = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), s0 AS (
  SELECT user_id, event_type, event_id, cents FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM ev WHERE event_id % 3 = 0)
  WHERE rn = 1 AND NOT coalesce(cents % 10 = 0, FALSE)
), s2 AS (
  SELECT user_id, event_type, event_id, cents FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM ev)
  WHERE rn = 1 AND NOT coalesce(cents % 10 = 0, FALSE)
)
SELECT coalesce(s2.event_type, s0.event_type) AS event_type,
       CASE WHEN s0.user_id IS NULL THEN 'inserted'
            WHEN s2.user_id IS NULL THEN 'deleted'
            WHEN s0.event_id != s2.event_id THEN 'updated'
            ELSE 'unchanged' END AS status,
       count(*) AS n_keys,
       CAST(sum(coalesce(s2.cents, 0) - coalesce(s0.cents, 0)) AS BIGINT)
         AS cents_delta
FROM s0 FULL OUTER JOIN s2
  ON s0.user_id = s2.user_id AND s0.event_type = s2.event_type
GROUP BY 1, 2
"""

QUERIES["cdc_state_diff"] = q_cdc_state_diff
ORACLES["cdc_state_diff"] = SQL_CDC_STATE_DIFF


# ---------------------------------------------- Zipf-law deviation audit

#: rank depth of the Zipf fit (the synthetic vocab is ~31 tokens)
ZIPF_TOPN = 30


def q_zipf_deviation_audit(spark, sf_dir):
    """ZIPF-LAW adherence audit per language — the companion diagnostic
    to the Heaps-law vocabulary curve (vocab_growth_curve): a natural
    corpus has freq(rank) ≈ f1/rank, and a per-language deviation from
    that line is the classic signal of templated/machine-generated text
    slipping into one language bucket. Per (lang, rank ≤ 30): the token,
    its frequency, and the Zipf ratio freq·rank/f1 (1.0 = perfectly
    Zipfian); per language the summary statistic
    MAD_zipf = Σ|freq·rank − f1| / (f1·N) — a 6dp mean absolute
    deviation from the ideal curve.

    Everything stays exact-integer (freq·rank and |freq·rank − f1| are
    integer sums) until the two final divisions, so the gate holds with
    no float tolerance — an OLS-on-logs fit would re-associate float
    sums and could never be hash-gated.

    Plan: tokens collapse to (lang, tok) counts map-side before the one
    keyed shuffle; the rank window and both aggregates run on the
    distinct-vocabulary relation (|vocab|·|langs| rows, not the token
    stream); rank ≤ N gets the WindowGroupLimit pushdown, so only ≤ N
    rows per language per map partition shuffle at 100 TB.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("lang", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("tok"))
    ranked = (counts.withColumn("rank", F.row_number().over(w).cast("long"))
                    .where(F.col("rank") <= ZIPF_TOPN))
    summary = (ranked.groupBy("lang")
               .agg(F.max(F.when(F.col("rank") == 1, F.col("freq")))
                     .alias("f1"),
                    F.count(F.lit(1)).alias("n_ranks")))
    dev = (ranked.join(F.broadcast(summary), "lang")
                 .withColumn("abs_dev",
                             F.abs(F.col("freq") * F.col("rank")
                                   - F.col("f1"))))
    mad = (dev.groupBy("lang")
              .agg(F.round(F.sum("abs_dev")
                           / (F.max("f1") * F.max("n_ranks")), 6)
                    .alias("lang_zipf_mad")))
    return (dev.join(F.broadcast(mad), "lang")
               .select("lang", "rank", "tok", "freq",
                       F.round(F.col("freq") * F.col("rank") / F.col("f1"),
                               6).alias("zipf_ratio"),
                       "lang_zipf_mad"))


def _sql_zipf_deviation() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH toks AS (
  SELECT lang, lower(unnest({_SQL_TOKS})) AS tok FROM documents
), counts AS (
  SELECT lang, tok, count(*) AS freq FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT lang, tok, freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY freq DESC, tok ASC) AS rank
  FROM counts QUALIFY rank <= {ZIPF_TOPN}
), summary AS (
  SELECT lang, max(CASE WHEN rank = 1 THEN freq END) AS f1,
         count(*) AS n_ranks
  FROM ranked GROUP BY 1
), dev AS (
  SELECT r.lang, r.rank, r.tok, r.freq, s.f1, s.n_ranks,
         abs(r.freq * r.rank - s.f1) AS abs_dev
  FROM ranked r JOIN summary s USING (lang)
), mad AS (
  SELECT lang, round(sum(abs_dev) * 1.0 / (max(f1) * max(n_ranks)), 6)
           AS lang_zipf_mad
  FROM dev GROUP BY 1
)
SELECT d.lang, d.rank, d.tok, d.freq,
       round(d.freq * d.rank * 1.0 / d.f1, 6) AS zipf_ratio,
       m.lang_zipf_mad
FROM dev d JOIN mad m USING (lang)
"""


QUERIES["zipf_deviation_audit"] = q_zipf_deviation_audit
ORACLES["zipf_deviation_audit"] = _sql_zipf_deviation()


# ------------------------------------------ conjunctive posting search

#: global-frequency ranks whose tokens form the conjunctive query, and
#: the number of hits returned
CONJ_RANKS, CONJ_TOPK = (5, 10, 15), 20


def q_conjunctive_search_topk(spark, sf_dir):
    """CONJUNCTIVE (AND) search over an inverted index — the retrieval
    primitive BM25 ranking (bm25_topk) does not cover: given a 3-term
    query, return only documents containing ALL terms, ranked by total
    term frequency. The query terms are data-derived deterministically
    (the tokens at global frequency ranks 5/10/15, tie-broken on the
    token) so the query discriminates at every scale factor.

    Plan: the posting relation (doc, token, tf) collapses map-side
    before its one shuffle; the 3-row query-term set BROADCASTS into a
    hash semi-side join (posting lists never pairwise-join each other —
    intersection is a doc-keyed count(distinct)=k aggregate, the
    standard distributed AND); the final top-k is orderBy+limit, which
    Catalyst executes as TakeOrderedAndProject (per-partition top-k +
    merge, no global sort). At 100 TB nothing but (doc, tf) pairs for
    matching docs ever shuffles.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    postings = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"))
    vocab = postings.groupBy("tok").agg(F.sum("tf").alias("n"))
    # bound the relation FIRST (TakeOrderedAndProject: per-partition
    # top-k + merge), so the unpartitioned rank window only ever sees
    # max(CONJ_RANKS) rows — never the full vocabulary
    wv = Window.orderBy(F.desc("n"), F.asc("tok"))
    terms = (vocab.orderBy(F.desc("n"), F.asc("tok"))
                  .limit(max(CONJ_RANKS))
                  .withColumn("r", F.row_number().over(wv))
                  .where(F.col("r").isin(*CONJ_RANKS))
                  .select("tok"))
    hits = (postings.join(F.broadcast(terms), "tok")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_terms"),
                         F.sum("tf").alias("tf_total"))
                    .where(F.col("n_terms") == len(CONJ_RANKS))
                    .select("doc_id", "tf_total")
                    .orderBy(F.desc("tf_total"), F.asc("doc_id"))
                    .limit(CONJ_TOPK))
    wr = Window.orderBy(F.desc("tf_total"), F.asc("doc_id"))
    return hits.withColumn("rank", F.row_number().over(wr).cast("long"))


def _sql_conjunctive_search() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    ranks = ", ".join(str(r) for r in CONJ_RANKS)
    return f"""
WITH toks AS (
  SELECT doc_id, lower(unnest({_SQL_TOKS})) AS tok FROM documents
), postings AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT tok, sum(tf) AS n FROM postings GROUP BY 1
), terms AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
    FROM vocab) WHERE r IN ({ranks})
), hits AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
  FROM postings JOIN terms USING (tok)
  GROUP BY doc_id HAVING count(*) = {len(CONJ_RANKS)}
)
SELECT doc_id, tf_total,
       row_number() OVER (ORDER BY tf_total DESC, doc_id ASC) AS rank
FROM hits
QUALIFY rank <= {CONJ_TOPK}
"""


QUERIES["conjunctive_search_topk"] = q_conjunctive_search_topk
ORACLES["conjunctive_search_topk"] = _sql_conjunctive_search()


# --------------------------------------------------- phrase search

PHRASE_TOPK = 20


def q_phrase_search_topk(spark, sf_dir):
    """PHRASE search over a POSITIONAL inverted index — the third
    retrieval primitive after ranked (bm25_topk) and conjunctive
    (conjunctive_search_topk): documents containing the query tokens
    CONSECUTIVELY, ranked by occurrence count. The query phrase is
    data-derived deterministically (the corpus's most frequent
    trigram, tie-broken lexicographically) so it discriminates at
    every scale factor.

    Plan — index-serving economics, not scan economics: the positional
    posting relation (doc, pos, tok) is what a real engine has ALREADY
    materialized once per corpus; the phrase lookup semi-filters it to
    the three query tokens via a broadcast 1-row phrase (each filtered
    leg is posting-list-sized, never corpus-sized), then intersects
    adjacent positions with two (doc, pos)-keyed hash equi-joins —
    the standard positional-AND. At 100 TB only the three posting
    lists shuffle; the trigram census that derives the query is
    map-side array arithmetic (no join), and the final top-k is
    TakeOrderedAndProject. The tiny rank window sits above a
    {PHRASE_TOPK}-row limit (bounded by construction)."""
    d = _docs(spark, sf_dir)
    arr = F.transform(text.tokens("text"), lambda t: F.lower(t))
    da = d.select("doc_id", arr.alias("a"))
    tri = (da.where(F.size("a") >= 3)
             .select(F.explode(F.transform(
                 F.sequence(F.lit(0), F.size("a") - 3),
                 lambda i: F.struct(F.col("a")[i].alias("t1"),
                                    F.col("a")[i + 1].alias("t2"),
                                    F.col("a")[i + 2].alias("t3"))))
                 .alias("g"))
             .select("g.t1", "g.t2", "g.t3"))
    ph = (tri.groupBy("t1", "t2", "t3")
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"),
                      F.asc("t3"))
             .limit(1).select("t1", "t2", "t3"))
    pos = da.select("doc_id", F.posexplode("a").alias("pos", "tok"))
    m1 = (pos.join(F.broadcast(ph), pos.tok == F.col("t1"))
             .select("doc_id", "pos", "t2", "t3"))
    p2 = pos.select(F.col("doc_id").alias("d2"),
                    F.col("pos").alias("pos2"),
                    F.col("tok").alias("tok2"))
    p3 = pos.select(F.col("doc_id").alias("d3"),
                    F.col("pos").alias("pos3"),
                    F.col("tok").alias("tok3"))
    m2 = (m1.join(p2, (F.col("doc_id") == F.col("d2"))
                  & (F.col("pos2") == F.col("pos") + 1)
                  & (F.col("tok2") == F.col("t2")))
            .select("doc_id", "pos", "t3"))
    m3 = (m2.join(p3, (F.col("doc_id") == F.col("d3"))
                  & (F.col("pos3") == F.col("pos") + 2)
                  & (F.col("tok3") == F.col("t3")))
            .select("doc_id"))
    hits = (m3.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_occurrences"))
              .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
              .limit(PHRASE_TOPK))
    wr = Window.orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
    return (hits.withColumn("rank",
                            F.row_number().over(wr).cast("long"))
                .crossJoin(F.broadcast(ph.select(
                    F.concat_ws(" ", "t1", "t2", "t3")
                     .alias("phrase")))))


def _sql_phrase_search() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH da AS (
  SELECT doc_id, list_transform({_SQL_TOKS}, t -> lower(t)) AS a
  FROM documents
), tri AS (
  -- constant-bound series (lateral len() is unsupported); 512 exceeds
  -- any fixture doc's token count, the WHERE keeps it exact
  SELECT a[g.i] AS t1, a[g.i + 1] AS t2, a[g.i + 2] AS t3
  FROM da CROSS JOIN generate_series(1, 512) g(i)
  WHERE g.i <= len(a) - 2
), ph AS (
  SELECT t1, t2, t3 FROM tri
  GROUP BY 1, 2, 3
  ORDER BY count(*) DESC, t1 ASC, t2 ASC, t3 ASC
  LIMIT 1
), pos AS (
  SELECT doc_id, g.i - 1 AS pos, a[g.i] AS tok
  FROM da CROSS JOIN generate_series(1, 512) g(i)
  WHERE g.i <= len(a)
), hits AS (
  SELECT p1.doc_id, count(*) AS n_occurrences
  FROM pos p1
  JOIN ph ON p1.tok = ph.t1
  JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
             AND p2.tok = ph.t2
  JOIN pos p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
             AND p3.tok = ph.t3
  GROUP BY 1
  ORDER BY n_occurrences DESC, p1.doc_id ASC
  LIMIT {PHRASE_TOPK}
)
SELECT doc_id, n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, doc_id ASC)
         AS rank,
       (SELECT t1 || ' ' || t2 || ' ' || t3 FROM ph) AS phrase
FROM hits
"""


QUERIES["phrase_search_topk"] = q_phrase_search_topk
ORACLES["phrase_search_topk"] = _sql_phrase_search()


# ------------------------------------------------ interval union / coverage

#: deterministic interval length: (event_id mod 7 + 1) seconds
IU_SEC_NS = 1_000_000_000


def q_events_interval_union(spark, sf_dir):
    """INTERVAL UNION per user — the overlapping-interval coverage
    measure (total busy time, number of disjoint busy islands, longest
    island) that sessionization's gap rule cannot express: here
    intervals carry explicit durations ((event_id mod 7 + 1) s — the
    deterministic stand-in for a payload duration column) and merge
    whenever they OVERLAP, the classic gaps-and-islands union. Touching
    intervals (next start == running max end) merge too.

    Plan: ONE user-keyed shuffle serves the whole query — the island
    flag is a strictly-prior running max (ROWS … 1 PRECEDING), the
    island id its running sum, and both the per-island and per-user
    rollups collapse map-side under the same partitioning. All
    arithmetic is integer epoch-ns, so the gate is exact.
    """
    e = _events(spark, sf_dir)
    iv = e.select(
        "user_id", F.col("event_id").alias("eid"),
        F.col("ts").alias("start_ns"),
        (F.col("ts") + (F.col("event_id") % 7 + 1) * IU_SEC_NS)
         .alias("end_ns"))
    order = [F.asc("start_ns"), F.asc("eid")]
    w_prev = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("start_ns") > F.coalesce(F.max("end_ns").over(w_prev),
                                              F.lit(-1)), 1).otherwise(0))
    islands = (flagged.withColumn("island",
                                  F.sum("new_island").over(w_run))
                      .groupBy("user_id", "island")
                      .agg(F.count(F.lit(1)).alias("n_events"),
                           (F.max("end_ns") - F.min("start_ns"))
                            .alias("covered_ns")))
    return (islands.groupBy("user_id")
                   .agg(F.count(F.lit(1)).alias("n_islands"),
                        F.sum("n_events").alias("n_events"),
                        F.sum("covered_ns").alias("covered_ns"),
                        F.max("covered_ns").alias("max_island_ns")))


SQL_EVENTS_INTERVAL_UNION = f"""
WITH iv AS (
  SELECT user_id, event_id AS eid, epoch_ns(ts) AS start_ns,
         epoch_ns(ts) + (event_id % 7 + 1) * {IU_SEC_NS} AS end_ns
  FROM events
), flagged AS (
  SELECT user_id, eid, start_ns, end_ns,
         CASE WHEN start_ns > coalesce(
                max(end_ns) OVER (PARTITION BY user_id
                                  ORDER BY start_ns, eid
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT user_id,
         sum(new_island) OVER (PARTITION BY user_id
                               ORDER BY start_ns, eid
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island,
         start_ns, end_ns
  FROM flagged
), agg AS (
  SELECT user_id, island, count(*) AS n_events,
         max(end_ns) - min(start_ns) AS covered_ns
  FROM isl GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_islands,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(covered_ns) AS BIGINT) AS covered_ns,
       CAST(max(covered_ns) AS BIGINT) AS max_island_ns
FROM agg GROUP BY 1
"""

QUERIES["events_interval_union"] = q_events_interval_union
ORACLES["events_interval_union"] = SQL_EVENTS_INTERVAL_UNION


# ------------------------------------------- exact group percentiles

#: exact order-statistic ranks: k_q = floor((n-1)·q) + 1
PCTL_QS = ((50, "p50_cents"), (95, "p95_cents"), (99, "p99_cents"))


def _exact_pctl_sel(val_col: str, qs):
    """Conditional-aggregation selectors for EXACT order statistics:
    given a relation carrying ``rn`` (row_number in value order within
    the group) and ``n`` (group count), lift out the value at rank
    k_q = floor((n−1)·q) + 1 for each (q, alias) pair. ``div`` (integer
    division), not ``/``: (n−1)·q/100 as a double can land one ulp
    below an exact boundary and floor() then picks rank k−1. Shared by
    events_value_percentiles and funnel_time_to_convert so the rank
    rule cannot drift between them."""
    return [F.max(F.when(
                F.col("rn") == F.expr(f"((n - 1) * {q}) div 100") + 1,
                F.col(val_col))).alias(alias)
            for q, alias in qs]


def q_events_value_percentiles(spark, sf_dir):
    """EXACT per-group percentiles (p50/p95/p99 of the purchase value in
    cents) by order-statistic selection — the ground-truth counterpart
    of the mergeable-sketch quantiles (quality_histogram_quantiles):
    a sketch answers at 100 TB with bounded error; this operator is the
    exact readout you run on a group's full sorted order, and the pair
    lets a pipeline VALIDATE its sketch error on any slice. Rank
    k_q = floor((n−1)·q) + 1 (the lower order statistic) is pure
    integer math, so the relation is hash-exact — no interpolation,
    no float ranks.

    Plan: ONE event_type-keyed shuffle serves both windows (row_number
    and the group count share the partitioning); the k-th values lift
    out via conditional aggregation, collapsing map-side. Exact
    selection pays a per-group sort by contract — for groups too large
    to sort, the documented scale path is the sketch twin or a two-pass
    count-bucket selection.
    """
    e = _events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    rows = e.select("event_type", cents.alias("cents"), "event_id")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = (rows.withColumn("rn", F.row_number().over(w))
                  .withColumn("n", F.count(F.lit(1)).over(wn)))
    sel = _exact_pctl_sel("cents", PCTL_QS)
    return (ranked.groupBy("event_type")
                  .agg(F.max("n").cast("long").alias("n_events"),
                       F.min("cents").alias("min_cents"),
                       *sel,
                       F.max("cents").alias("max_cents")))


SQL_EVENTS_VALUE_PERCENTILES = """
WITH rows_ AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         event_id
  FROM events
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM rows_
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
       min(cents) AS min_cents,
       max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN cents END)
         AS p50_cents,
       max(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN cents END)
         AS p95_cents,
       max(CASE WHEN rn = (n - 1) * 99 // 100 + 1 THEN cents END)
         AS p99_cents,
       max(cents) AS max_cents
FROM ranked GROUP BY 1
"""

QUERIES["events_value_percentiles"] = q_events_value_percentiles
ORACLES["events_value_percentiles"] = SQL_EVENTS_VALUE_PERCENTILES


# --------------------------------------------- user growth accumulation

def q_user_growth_accumulation(spark, sf_dir):
    """USER GROWTH CURVE — new users per day and the cumulative distinct
    user count, the canonical "cumulative COUNT(DISTINCT) over time"
    that naive SQL cannot express without re-scanning every prefix:
    a user is NEW on min(day(ts)); per-day arrivals then accumulate
    with one running sum. Also emits the day's total actives so the
    new/returning split reads off directly.

    Plan: per-user min-day is ONE keyed aggregate (map-side combine
    collapses each user's events before the shuffle); daily actives is
    a second independent aggregate of (user, day) distincts; the
    running sum is a window over the |days| relation — bounded by the
    calendar, never the event count. All integer epoch-ns day keys.
    """

    e = _events(spark, sf_dir)
    day = (F.col("ts") - F.col("ts") % 86_400_000_000_000).alias("day_ns")
    firsts = (e.select("user_id", day)
               .groupBy("user_id").agg(F.min("day_ns").alias("first_day"))
               .groupBy(F.col("first_day").alias("day_ns"))
               .agg(F.count(F.lit(1)).alias("new_users")))
    actives = (e.select("user_id", day).distinct()
                .groupBy("day_ns")
                .agg(F.count(F.lit(1)).alias("active_users")))
    w = Window.orderBy("day_ns").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    return (actives.join(firsts, "day_ns", "left")
                   .withColumn("new_users",
                               F.coalesce("new_users", F.lit(0)))
                   .withColumn("cum_users", F.sum("new_users").over(w))
                   .select("day_ns", "new_users", "active_users",
                           "cum_users",
                           (F.col("active_users") - F.col("new_users"))
                            .alias("returning_users")))


SQL_USER_GROWTH_ACCUMULATION = """
WITH ud AS (
  SELECT DISTINCT user_id,
         epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day_ns
  FROM events
), firsts AS (
  SELECT first_day AS day_ns, count(*) AS new_users
  FROM (SELECT user_id, min(day_ns) AS first_day FROM ud GROUP BY 1)
  GROUP BY 1
), actives AS (
  SELECT day_ns, count(*) AS active_users FROM ud GROUP BY 1
)
SELECT a.day_ns, CAST(coalesce(f.new_users, 0) AS BIGINT) AS new_users,
       CAST(a.active_users AS BIGINT) AS active_users,
       CAST(sum(coalesce(f.new_users, 0))
            OVER (ORDER BY a.day_ns
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users,
       CAST(a.active_users - coalesce(f.new_users, 0) AS BIGINT)
         AS returning_users
FROM actives a LEFT JOIN firsts f USING (day_ns)
"""

QUERIES["user_growth_accumulation"] = q_user_growth_accumulation
ORACLES["user_growth_accumulation"] = SQL_USER_GROWTH_ACCUMULATION


# ------------------------------------------------ rolling active users

#: trailing window width in days
RAU_DAYS = 7


def q_rolling_active_users(spark, sf_dir):
    """ROLLING 7-DAY ACTIVE USERS — the sliding COUNT(DISTINCT) that
    has no direct window form in ANY engine (distinct does not
    decompose over frames): each (user, day) activity row EXPANDS into
    the {RAU_DAYS} trailing windows it is visible in, dedup within
    window makes a user count once however active, and one keyed
    aggregate counts per window-end day. The WAU/MAU machinery, and
    the standard distributed rewrite of sliding-distinct.

    Plan: the expansion factor is the CONSTANT window width (×7 on the
    already user-day-collapsed relation, never on raw events), dedup +
    count collapse in the same keyed exchange, and the calendar of
    full-trailing-week window ends enumerates from a 1-row bounds
    aggregate — so a dead week reports wau=0 instead of silently
    missing. At 100 TB the cost is 7·|user-days| shuffle rows —
    linear, no re-scan per window.
    """
    e = _events(spark, sf_dir)
    day_ns = 86_400_000_000_000
    day = (F.col("ts") - F.col("ts") % day_ns).alias("day_ns")
    ud = e.select("user_id", day).distinct()
    k = F.explode(F.sequence(F.lit(0), F.lit(RAU_DAYS - 1))).alias("k")
    expanded = ud.select("user_id", "day_ns", k).select(
        "user_id",
        (F.col("day_ns") + F.col("k") * F.lit(day_ns)).alias("win_end"))
    bounds = ud.agg(F.min("day_ns").alias("lo"), F.max("day_ns").alias("hi"))
    # enumerate every in-range window end from the bounds, so a trailing
    # week with ZERO activity reports wau=0 instead of a missing row —
    # a silent gap would mask exactly the outage shape
    # events_downtime_gaps exists to surface
    # Spark's sequence(start, stop) THROWS on start > stop (DuckDB's
    # generate_series returns empty), so a dataset spanning fewer than
    # RAU_DAYS distinct days must short-circuit to an empty calendar
    # instead of crashing — matching the oracle on short spans
    start = F.col("lo") + F.lit((RAU_DAYS - 1) * day_ns)
    seq = F.when(start <= F.col("hi"),
                 F.sequence(start, F.col("hi"), F.lit(day_ns))) \
           .otherwise(F.array().cast("array<long>"))
    cal = bounds.select(F.explode(seq).alias("day_ns"))
    counts = (expanded.distinct()
                      .groupBy("win_end")
                      .agg(F.count(F.lit(1)).alias("wau")))
    return (cal.join(counts, cal.day_ns == counts.win_end, "left")
               .select("day_ns",
                       F.coalesce("wau", F.lit(0)).alias("wau")))


SQL_ROLLING_ACTIVE_USERS = f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day_ns
  FROM events
), expanded AS (
  SELECT DISTINCT user_id,
         day_ns + k * 86400000000000 AS win_end
  FROM ud CROSS JOIN generate_series(0, {RAU_DAYS - 1}) g(k)
), bounds AS (
  SELECT min(day_ns) AS lo, max(day_ns) AS hi FROM ud
), cal AS (
  SELECT unnest(generate_series(lo + {RAU_DAYS - 1} * 86400000000000,
                                hi, 86400000000000)) AS day_ns
  FROM bounds
), counts AS (
  SELECT win_end, count(*) AS wau FROM expanded GROUP BY 1
)
SELECT c.day_ns, CAST(coalesce(k.wau, 0) AS BIGINT) AS wau
FROM cal c LEFT JOIN counts k ON k.win_end = c.day_ns
"""

QUERIES["rolling_active_users"] = q_rolling_active_users
ORACLES["rolling_active_users"] = SQL_ROLLING_ACTIVE_USERS


# ------------------------------------------ funnel time-to-convert

def q_funnel_time_to_convert(spark, sf_dir):
    """TIME-TO-CONVERT distribution per funnel step — the latency
    profile the mean-only funnel (events_funnel) hides: for the
    view → click and click → purchase transitions, each user's first
    transition lag (earliest next-step event at-or-after the previous
    step's first), summarized as EXACT p50/p90 order statistics plus
    the worst case. A marketing team reads p90-to-convert, not the
    mean.

    Plan: three per-user min-aggregates land on the SAME user key
    (one co-partitioned exchange chain, AQE coalesces); the lag
    relation unions two step slices, and the exact selection reuses
    the order-statistic rule (events_value_percentiles): rank
    k = floor((n−1)·q)+1 over a per-step sort, integer end to end.
    """

    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")

    def first_at_or_after(etype, prev):
        return (e.where(F.col("event_type") == etype)
                 .join(prev, "user_id")
                 .where(F.col("ts") >= F.col("prev_ts"))
                 .groupBy("user_id")
                 .agg(F.min("ts").alias("step_ts"),
                      F.min("prev_ts").alias("prev_kept")))

    fv = (e.where(F.col("event_type") == "view")
           .groupBy("user_id").agg(F.min("ts").alias("prev_ts")))
    fc = first_at_or_after("click", fv)
    s1 = fc.select(F.lit("view->click").alias("step"),
                   (F.col("step_ts") - F.col("prev_kept")).alias("lag_ns"))
    fc_prev = fc.select("user_id", F.col("step_ts").alias("prev_ts"))
    fp = first_at_or_after("purchase", fc_prev)
    s2 = fp.select(F.lit("click->purchase").alias("step"),
                   (F.col("step_ts") - F.col("prev_kept")).alias("lag_ns"))
    lags = s1.unionByName(s2)
    w = Window.partitionBy("step").orderBy("lag_ns")
    wn = Window.partitionBy("step")
    ranked = (lags.withColumn("rn", F.row_number().over(w))
                  .withColumn("n", F.count(F.lit(1)).over(wn)))
    sel = _exact_pctl_sel("lag_ns", ((50, "p50_lag_ns"),
                                     (90, "p90_lag_ns")))
    return (ranked.groupBy("step")
                  .agg(F.max("n").cast("long").alias("n_converted"),
                       *sel,
                       F.max("lag_ns").alias("max_lag_ns")))


SQL_FUNNEL_TIME_TO_CONVERT = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events
), fv AS (
  SELECT user_id, min(tns) AS prev_ts FROM e
  WHERE event_type = 'view' GROUP BY 1
), fc AS (
  SELECT e.user_id, min(e.tns) AS step_ts, min(f.prev_ts) AS prev_kept
  FROM e JOIN fv f USING (user_id)
  WHERE e.event_type = 'click' AND e.tns >= f.prev_ts
  GROUP BY 1
), fp AS (
  SELECT e.user_id, min(e.tns) AS step_ts, min(c.step_ts) AS prev_kept
  FROM e JOIN fc c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.tns >= c.step_ts
  GROUP BY 1
), lags AS (
  SELECT 'view->click' AS step, step_ts - prev_kept AS lag_ns FROM fc
  UNION ALL
  SELECT 'click->purchase', step_ts - prev_kept FROM fp
), ranked AS (
  SELECT step, lag_ns,
         row_number() OVER (PARTITION BY step ORDER BY lag_ns) AS rn,
         count(*) OVER (PARTITION BY step) AS n
  FROM lags
)
SELECT step, CAST(max(n) AS BIGINT) AS n_converted,
       max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN lag_ns END)
         AS p50_lag_ns,
       max(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN lag_ns END)
         AS p90_lag_ns,
       max(lag_ns) AS max_lag_ns
FROM ranked GROUP BY 1
"""

QUERIES["funnel_time_to_convert"] = q_funnel_time_to_convert
ORACLES["funnel_time_to_convert"] = SQL_FUNNEL_TIME_TO_CONVERT


# ------------------------------------------------- downtime gap census

#: a gap longer than this is reported as downtime, top-K per stream
GAP_MIN_NS, GAP_TOPK = 2 * 3_600_000_000_000, 5


def q_events_downtime_gaps(spark, sf_dir):
    """DOWNTIME DETECTION — the inverse of sessionization's islands:
    per event stream (event_type), the TOP-{GAP_TOPK} longest silent
    gaps over the threshold, with their exact boundaries — the
    monitoring question ("when did this feed stop?") asked of any
    ingestion pipeline, and the audit that catches upstream outages a
    mean-rate metric averages away.

    Plan: ONE type-keyed shuffle serves the lag window, the gap filter
    drops everything healthy BEFORE the rank, and rank ≤ K gets the
    WindowGroupLimit pushdown — at 100 TB only over-threshold gaps
    (rare by definition) plus ≤ K rows per map partition per stream
    ever move twice. Integer epoch-ns end to end.
    """

    e = _events(spark, sf_dir).select("event_type", "ts", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (e.withColumn("prev_ts", F.lag("ts").over(w))
             .where(F.col("prev_ts").isNotNull()
                    & (F.col("ts") - F.col("prev_ts") > GAP_MIN_NS))
             .select("event_type", F.col("prev_ts").alias("gap_start_ns"),
                     F.col("ts").alias("gap_end_ns"),
                     (F.col("ts") - F.col("prev_ts")).alias("gap_ns")))
    wr = Window.partitionBy("event_type").orderBy(F.desc("gap_ns"),
                                                  F.asc("gap_start_ns"))
    return (gaps.withColumn("rank", F.row_number().over(wr).cast("long"))
                .where(F.col("rank") <= GAP_TOPK))


SQL_EVENTS_DOWNTIME_GAPS = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) AS tns, event_id FROM events
), gaps AS (
  SELECT event_type,
         lag(tns) OVER (PARTITION BY event_type
                        ORDER BY tns, event_id) AS gap_start_ns,
         tns AS gap_end_ns
  FROM e
)
SELECT event_type, gap_start_ns, gap_end_ns,
       gap_end_ns - gap_start_ns AS gap_ns,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY gap_end_ns - gap_start_ns DESC,
                                   gap_start_ns ASC) AS rank
FROM gaps
WHERE gap_start_ns IS NOT NULL
  AND gap_end_ns - gap_start_ns > {GAP_MIN_NS}
QUALIFY rank <= {GAP_TOPK}
"""

QUERIES["events_downtime_gaps"] = q_events_downtime_gaps
ORACLES["events_downtime_gaps"] = SQL_EVENTS_DOWNTIME_GAPS


# ------------------------------------------------- skip-gram lift mining

#: window half-width (tokens), min co-occurrence count, rows returned
SKIP_W, SKIP_MIN, SKIP_TOPK = 3, 10, 20


def q_skipgram_lift_topk(spark, sf_dir):
    """SKIP-GRAM co-occurrence mining — the word2vec/GloVe statistic the
    adjacent-only collocation query (bigram_lift_topk) cannot see: token
    pairs co-occurring within a ±{SKIP_W}-token window, ranked by lift
    (observed co-occurrence over the independence expectation). The
    phrase-and-topic signal a vocabulary curator reads before merging
    tokens.

    Plan: pair enumeration happens INSIDE the token array (one
    higher-order transform per doc — map-side, ×{SKIP_W} constant
    fan-out, no positional self-join ever reaches the shuffle); unigram
    counts and the 1-row grand total broadcast into the scoring join on
    the DISTINCT-pair relation. Both engines compute lift with the same
    left-associated double expression over exact integer counts, so
    the 6dp round is parity-stable.
    """
    d = _docs(spark, sf_dir)
    tk = F.transform(text.tokens("text"), lambda t: F.lower(t))
    pair_expr = F.expr(f"""
      flatten(transform(tk, (x, i) ->
        case when i + 1 <= size(tk) - 1 then
          transform(sequence(i + 1, least(i + {SKIP_W}, size(tk) - 1)),
                    j -> case when x < tk[j] then concat(x, ' ', tk[j])
                              when x > tk[j] then concat(tk[j], ' ', x)
                              else null end)
        else array() end))""")
    docs = d.select(tk.alias("tk"))
    pairs = (docs.select(F.explode(pair_expr).alias("pair"))
                 .where(F.col("pair").isNotNull())
                 .groupBy("pair")
                 .agg(F.count(F.lit(1)).alias("n_ab"))
                 .where(F.col("n_ab") >= SKIP_MIN))
    uni = (docs.select(F.explode("tk").alias("t"))
               .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    total = uni.agg(F.sum("n").alias("big_n"))
    split = F.split(F.col("pair"), " ")
    scored = (pairs.withColumn("a", split.getItem(0))
                   .withColumn("b", split.getItem(1))
                   .join(F.broadcast(uni.withColumnRenamed("t", "a")
                                        .withColumnRenamed("n", "n_a")),
                         "a")
                   .join(F.broadcast(uni.withColumnRenamed("t", "b")
                                        .withColumnRenamed("n", "n_b")),
                         "b")
                   .crossJoin(F.broadcast(total))
                   .select("a", "b", "n_ab", "n_a", "n_b",
                           F.round(F.col("n_ab") * 1.0 * F.col("big_n")
                                   / (F.col("n_a") * F.col("n_b")), 6)
                            .alias("lift")))
    return (scored.orderBy(F.desc("lift"), "a", "b")
                  .limit(SKIP_TOPK))


def _sql_skipgram_lift() -> str:
    from photon_spark.queries_northstar import _SQL_TOKS
    return f"""
WITH dtoks AS (
  SELECT row_number() OVER () AS did,
         list_transform({_SQL_TOKS}, t -> lower(t)) AS tk
  FROM documents
), pos AS (
  SELECT did, unnest(tk) AS t, generate_subscripts(tk, 1) AS p FROM dtoks
), co AS (
  SELECT CASE WHEN a.t < b.t THEN a.t ELSE b.t END AS a,
         CASE WHEN a.t < b.t THEN b.t ELSE a.t END AS b
  FROM pos a JOIN pos b
    ON a.did = b.did AND b.p - a.p BETWEEN 1 AND {SKIP_W}
   AND a.t <> b.t
), pairs AS (
  SELECT a, b, count(*) AS n_ab FROM co GROUP BY 1, 2
  HAVING count(*) >= {SKIP_MIN}
), uni AS (
  SELECT t, count(*) AS n FROM pos GROUP BY 1
), total AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM uni)
SELECT p.a, p.b, p.n_ab, ua.n AS n_a, ub.n AS n_b,
       round(p.n_ab * 1.0 * t.big_n / (ua.n * ub.n), 6) AS lift
FROM pairs p
JOIN uni ua ON ua.t = p.a
JOIN uni ub ON ub.t = p.b
CROSS JOIN total t
ORDER BY lift DESC, p.a, p.b
LIMIT {SKIP_TOPK}
"""


QUERIES["skipgram_lift_topk"] = q_skipgram_lift_topk
ORACLES["skipgram_lift_topk"] = _sql_skipgram_lift()


# ------------------------------------------- Neyman sample allocation

#: total evaluation-set budget the allocation distributes
NEYMAN_TARGET = 200


def q_neyman_allocation_plan(spark, sf_dir):
    """NEYMAN-OPTIMAL sample allocation over (lang, source) strata —
    the survey-design operator behind building a fixed-budget eval set
    from a giant corpus: allocate n_h ∝ N_h·σ_h (stratum size × stddev
    of the length signal), which minimizes the variance of the
    estimated corpus mean at a fixed total budget ({target} docs).
    Uniform and proportional allocation over-sample homogeneous strata;
    Neyman spends budget where the signal varies.

    Integer-exact end-to-end (the hash-gate design): the variance
    numerator n·Σx² − (Σx)² is an exact BIGINT per stratum; its sqrt is
    the ONE float op (IEEE sqrt is correctly rounded — engine-portable),
    immediately re-quantized to 1e-6 units as the allocation weight;
    quotas use BIGINT division/modulo ({target}·w DIV total, remainder
    %), and the leftover budget goes to the largest remainders
    (rank desc, then stratum key) — the standard largest-remainder
    method, fully deterministic, Σ alloc = {target} exactly. Note
    N_h·σ_h = sqrt(n·Σx² − (Σx)²) — the weight needs no division at
    all.

    Plan: one stratum aggregate; two broadcast 1-row scalars (total
    weight, allocated floor sum); one rank window over the stratum
    relation (bounded by the lang × source domain, never the corpus).
    """
    d = _docs(spark, sf_dir)
    agg = (d.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").alias("s1"),
                  F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2")))
    var_num = F.col("n_docs") * F.col("s2") - F.col("s1") * F.col("s1")
    w = (agg.withColumn(
        "w_sigma",
        F.round(F.sqrt(var_num.cast("double")) * 1e6).cast("long")))
    tot = w.agg(F.sum("w_sigma").alias("tot"))
    q = (w.crossJoin(F.broadcast(tot))
          .withColumn("quota_num", F.lit(NEYMAN_TARGET) * F.col("w_sigma"))
          .withColumn("fl", F.coalesce(
              F.expr("quota_num div nullif(tot, 0)"), F.lit(0)))
          .withColumn("rem", F.coalesce(
              F.expr("quota_num % nullif(tot, 0)"), F.lit(0))))
    used = q.agg(F.sum("fl").alias("used"),
                 F.max("tot").alias("t2"))
    wr = Window.orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    return (q.crossJoin(F.broadcast(used))
             .withColumn("r", F.row_number().over(wr))
             .select("lang", "source", "n_docs", "w_sigma",
                     F.when(F.col("t2") == 0, F.lit(0)).otherwise(
                         F.col("fl")
                         + F.when(F.col("r") <= F.lit(NEYMAN_TARGET)
                                  - F.col("used"), 1).otherwise(0))
                     .cast("long").alias("alloc")))


q_neyman_allocation_plan.__doc__ = q_neyman_allocation_plan.__doc__.format(
    target=NEYMAN_TARGET)


SQL_NEYMAN_ALLOCATION = f"""
WITH agg AS (
  SELECT lang, source, count(*) AS n_docs,
         sum(n_chars) AS s1, sum(n_chars * n_chars) AS s2
  FROM documents GROUP BY 1, 2
), w AS (
  SELECT lang, source, n_docs,
         CAST(round(sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)) * 1e6)
              AS BIGINT) AS w_sigma
  FROM agg
), t AS (SELECT sum(w_sigma) AS tot FROM w),
q AS (
  SELECT w.*, t.tot, {NEYMAN_TARGET} * w.w_sigma AS quota_num,
         coalesce({NEYMAN_TARGET} * w.w_sigma // nullif(t.tot, 0), 0)
           AS fl,
         coalesce(({NEYMAN_TARGET} * w.w_sigma) % nullif(t.tot, 0), 0)
           AS rem
  FROM w CROSS JOIN t
), u AS (SELECT sum(fl) AS used FROM q)
SELECT q.lang, q.source, q.n_docs, q.w_sigma,
       CAST(CASE WHEN q.tot = 0 THEN 0
            ELSE q.fl + CASE WHEN row_number() OVER (
                   ORDER BY q.rem DESC, q.lang ASC, q.source ASC)
                 <= {NEYMAN_TARGET} - u.used THEN 1 ELSE 0 END
            END AS BIGINT) AS alloc
FROM q CROSS JOIN u
"""


QUERIES["neyman_allocation_plan"] = q_neyman_allocation_plan
ORACLES["neyman_allocation_plan"] = SQL_NEYMAN_ALLOCATION
