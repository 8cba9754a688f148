"""Training-set assembly queries — the last mile before the trainer:
a reproducible seeded global shuffle (order + shard assignment), a
fixed-weight linear quality-classifier filter (the fasttext-style
model-based keep/drop stage), and per-cluster embedding pruning (drop
the farthest tail of every semantic cell).

Photon's reference stops at replay/projection (`/root/reference/src` has
no corpus-shaping stage); these operators implement the north-star
training-data brief on top of the same tables. Float policy follows
queries.py: classifier features are the 6dp-rounded text-profile columns
(identical doubles on both engines), the squash is the rational
``0.5 + 0.5·z/(1+|z|)`` — no ``exp``, whose last-ulp behavior is not
pinned across JVM/DuckDB — and every aggregate over scores sums exact
quantized longs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from photon_spark.functions import text
from photon_spark.functions.clustering import (Q, kmeans_fit, member_dist2)
from photon_spark.functions.ordering import seeded_shuffle
from photon_spark.queries_curation import KM_ITERS, KM_K
from photon_spark.queries_northstar import SQL_TEXT_PROFILE
from photon_spark.relations import read_base as _read_base

#: seeded-shuffle parameters: seed, docs per training shard
SHUFFLE_SEED, DOCS_PER_SHARD = 42, 64

#: classifier weights (bias, alpha_ratio, stopword_ratio, len_feat,
#: quality) — fixed, as if trained offline — and the keep threshold
CLS_BIAS, CLS_W = -2.0, (1.2, 0.8, 1.0, 2.0)
CLS_KEEP = 0.78

#: prune the top 1/PRUNE_DIV farthest members of every cluster
PRUNE_DIV = 20


def _docs(spark, sf_dir):
    return _read_base(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return _read_base(spark, sf_dir, "embeddings")


# -------------------------------------------------------- seeded shuffle

def q_seeded_shuffle_plan(spark, sf_dir):
    """Every document's slot in the seeded global permutation plus its
    (shard, position) assignment — the reproducible training order. The
    scalable two-pass bucket design (never a single-partition window)
    lives in functions/ordering.py."""
    return seeded_shuffle(_docs(spark, sf_dir), "doc_id",
                          seed=SHUFFLE_SEED, docs_per_shard=DOCS_PER_SHARD)


SQL_SEEDED_SHUFFLE_PLAN = f"""
WITH k AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}' || ':' || doc_id) AS okey
  FROM documents
), nn AS (
  -- rank over NON-NULL keys only: a NULL id must get a NULL position
  -- (never consume a slot) on BOTH engines, matching the Spark side
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY okey, doc_id) - 1 AS BIGINT)
           AS global_pos
  FROM k WHERE okey IS NOT NULL
)
SELECT k.doc_id, nn.global_pos,
       nn.global_pos // {DOCS_PER_SHARD} AS shard_id,
       nn.global_pos % {DOCS_PER_SHARD} AS pos_in_shard
FROM k LEFT JOIN nn ON k.doc_id = nn.doc_id
"""


# ----------------------------------------------------- classifier filter

def _len_feat():
    """The length feature, ONE definition for every consumer (inference
    filter, curriculum, GD training) — Spark form of :data:`SQL_LEN_FEAT`."""
    return F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))


def sql_len_feat(prefix: str = "") -> str:
    """SQL twin of :func:`_len_feat`; pass a table qualifier (e.g.
    ``"p."``) in multi-table FROM contexts so the reference stays
    unambiguous if another relation ever gains an n_tokens column."""
    return f"least({prefix}n_tokens / 64.0, 1.0)"


#: unqualified form, for single-relation (prof-only) contexts
SQL_LEN_FEAT = sql_len_feat()

#: SQL z-expression of the FIXED-weight head (filter + curriculum
#: oracles); the GD oracle builds z from its CTE weights instead, but
#: shares SQL_LEN_FEAT for the feature itself
SQL_CLS_Z = (f"{CLS_BIAS} + {CLS_W[0]} * alpha_ratio"
             f" + {CLS_W[1]} * stopword_ratio"
             f" + {CLS_W[2]} * {SQL_LEN_FEAT}"
             f" + {CLS_W[3]} * quality")


def _cls_score(prof):
    """Rounded [0,1] score: linear head over rounded profile features,
    rational squash. Must stay operand-order parallel to SQL_CLS_Z —
    identical operand order means identical float association."""
    z = (F.lit(CLS_BIAS)
         + F.lit(CLS_W[0]) * F.col("alpha_ratio")
         + F.lit(CLS_W[1]) * F.col("stopword_ratio")
         + F.lit(CLS_W[2]) * _len_feat()
         + F.lit(CLS_W[3]) * F.col("quality"))
    return F.round(F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z)), 6)


def q_quality_classifier_filter(spark, sf_dir):
    """Model-based corpus filter: a fixed-weight linear classifier scored
    over the text profile, thresholded at {CLS_KEEP}; per (source, kept) —
    doc count, mean score, surviving token mass. One Arrow profile pass +
    an id-only join for source + a short-key aggregate; the decision
    relation (doc → keep) never shuffles document text."""
    d = _docs(spark, sf_dir)
    prof = text.text_profile(d).join(d.select("doc_id", "source"), "doc_id")
    sc = prof.withColumn("score", _cls_score(prof))
    s_int = F.round(F.col("score") * 1e6).cast("long")
    return (sc.withColumn("kept", (F.col("score") >= F.lit(CLS_KEEP))
                          .cast("boolean"))
              .groupBy("source", "kept")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.round(F.sum(s_int) / F.count(F.lit(1)) / 1e6, 6)
                    .alias("avg_score"),
                   F.sum("n_tokens").alias("total_tokens")))


SQL_QUALITY_CLASSIFIER_FILTER = f"""
WITH prof AS ({SQL_TEXT_PROFILE}), sc AS (
  SELECT p.doc_id, d.source, p.n_tokens,
         round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) AS score
  FROM (SELECT doc_id, n_tokens, {SQL_CLS_Z} AS z
        FROM prof) p
  JOIN documents d USING (doc_id)
)
SELECT source, score >= {CLS_KEEP} AS kept,
       count(*) AS n_docs,
       round(SUM(CAST(round(score * 1000000) AS BIGINT)) * 1.0
             / count(*) / 1000000, 6) AS avg_score,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM sc GROUP BY 1, 2
"""


# ------------------------------------------------------ curriculum order

#: curriculum bands: band = BAND_BASE - floor(score·BAND_SCALE), ascending
#: band = descending quality (best band streams first)
BAND_BASE, BAND_SCALE = 20, 20


def q_curriculum_order_plan(spark, sf_dir):
    """Quality-curriculum training order: classifier-score bands stream
    best-first, with a fresh seeded shuffle WITHIN each band — the
    standard curriculum compromise (ordered difficulty, no intra-band
    ordering bias). Same two-pass bucket design; the band simply prefixes
    the composite group key (functions/ordering.py).

    The (doc_id, score) relation persists before the rank kernel: the
    kernel's offset pass and its final output BOTH consume it (Catalyst
    does not deduplicate repeated subtrees), and without the persist the
    text_profile Arrow pass runs once per consumer — the 2-column score
    relation is tiny, the lineage it pins is the whole profile pass
    (the kneser_ney checkpoint rule). The raw docs scan is NOT spread:
    round-robining the text column costs a full-text exchange, more
    than the single profile pass it would parallelize (measured — the
    opposite call from the heavy-tokenize LM rows). Freed via
    release_cache."""
    from photon_spark.functions.dedup import _own_cache

    d = _docs(spark, sf_dir)
    prof = text.text_profile(d)
    sc = (prof.select("doc_id", _cls_score(prof).alias("score"))
              .persist())
    band = F.lit(BAND_BASE) - F.floor(F.col("score") * F.lit(BAND_SCALE))
    out = seeded_shuffle(sc, "doc_id", seed=SHUFFLE_SEED,
                         docs_per_shard=DOCS_PER_SHARD, band_col=band)
    return _own_cache(out, [sc])


def _sql_curriculum_order_plan() -> str:
    return f"""
WITH prof AS ({SQL_TEXT_PROFILE}), sc AS (
  SELECT doc_id,
         round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) AS score
  FROM (SELECT doc_id, {SQL_CLS_Z} AS z
        FROM prof)
), b AS (
  SELECT doc_id,
         CAST({BAND_BASE} - floor(score * {BAND_SCALE}) AS BIGINT) AS band,
         md5('{SHUFFLE_SEED}' || ':' || doc_id) AS okey
  FROM sc
), nn AS (
  -- NULL ids never consume a permutation slot (see seeded-shuffle oracle)
  SELECT doc_id, band,
         CAST(row_number() OVER (ORDER BY band, okey, doc_id) - 1 AS BIGINT)
           AS global_pos
  FROM b WHERE okey IS NOT NULL
)
SELECT b.doc_id, b.band, nn.global_pos,
       nn.global_pos // {DOCS_PER_SHARD} AS shard_id,
       nn.global_pos % {DOCS_PER_SHARD} AS pos_in_shard
FROM b LEFT JOIN nn ON b.doc_id = nn.doc_id
"""


# ------------------------------------------------------- embedding prune

def q_embedding_prune_plan(spark, sf_dir):
    """Per-cluster tail pruning over the deterministic k-means cells: the
    ceil(|cell|/{PRUNE_DIV}) members farthest from their centroid (ties →
    lowest vec_id), with their quantized distance and in-cell rank — the
    SemDeDup-companion curation step that drops each semantic cell's
    noisiest tail. Rank logic is pure integers; the distance is the
    engine-pinned sequential fold (clustering.member_dist2)."""
    assigned, cents = kmeans_fit(_emb(spark, sf_dir), k=KM_K, iters=KM_ITERS)
    d = member_dist2(assigned, cents)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("ri"), "vec_id")
    wc = Window.partitionBy("cluster_id")
    r = (d.withColumn("rnk", F.row_number().over(w).cast("long"))
          .withColumn("n_members", F.count(F.lit(1)).over(wc)))
    keep_n = F.floor((F.col("n_members") + F.lit(PRUNE_DIV - 1))
                     / F.lit(PRUNE_DIV)).cast("long")
    return (r.filter(F.col("rnk") <= keep_n)
             .select("vec_id", "cluster_id",
                     F.round(F.col("ri") / F.lit(Q), 6).alias("dist2"),
                     "rnk", F.col("n_members").cast("long")
                     .alias("n_members")))


def _sql_embedding_prune_plan() -> str:
    from photon_spark.queries_curation import _km_ctes
    return f"""
WITH {_km_ctes()}, fin AS (
  SELECT a.vec_id, a.cl AS cluster_id,
         CAST(round(((list_dot_product(b.v, b.v)
                      - 2 * list_dot_product(b.v, c.cv))
                     + list_dot_product(c.cv, c.cv)) * {Q}) AS BIGINT) AS ri
  FROM a2 a JOIN base b ON a.vec_id = b.vec_id JOIN c2 c ON a.cl = c.cl
), rk AS (
  SELECT vec_id, cluster_id, ri,
         CAST(row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY ri DESC, vec_id) AS BIGINT) AS rnk,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM fin
)
SELECT vec_id, cluster_id, round(ri / {Q}.0, 6) AS dist2, rnk,
       CAST(n_members AS BIGINT) AS n_members
FROM rk
WHERE rnk <= (n_members + {PRUNE_DIV - 1}) // {PRUNE_DIV}
"""


# -------------------------------------------------- cluster-aware split

#: 2-hex-char split thresholds: < 'e6' train (230/256 ≈ 89.8%),
#: < 'f3' val (13/256 ≈ 5.1%), else test (≈ 5.1%)
SPLIT_TRAIN_LT, SPLIT_VAL_LT = "e6", "f3"


def _doc_splits(spark, sf_dir):
    """(doc_id, source, root, split) — the leakage-free cluster-rooted
    split relation, plus the pair table's cached handles (pass to
    dedup._own_cache on whatever DataFrame the caller returns)."""
    from photon_spark import pair_cache
    from photon_spark.functions import dedup  # noqa: F401 (caller use)
    pairs = pair_cache.near_dup_pairs(spark, sf_dir, threshold=0.7)
    labels = dedup.dup_clusters(pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster_id"))
    d = _docs(spark, sf_dir).select("doc_id", "source")
    rooted = (d.join(labels, "doc_id", "left")
               .withColumn("root", F.coalesce("cluster_id", "doc_id")))
    pfx = F.substring(
        F.md5(F.concat(F.lit("csplit:"), F.col("root").cast("string"))),
        1, 2)
    split = (F.when(pfx < SPLIT_TRAIN_LT, "train")
              .when(pfx < SPLIT_VAL_LT, "val")
              .otherwise("test"))
    return (rooted.withColumn("split", split),
            getattr(pairs, "_photon_cached", []))


def q_cluster_split_assign(spark, sf_dir):
    """Leakage-free train/val/test assignment BY CONSTRUCTION: every
    document is keyed by its near-dup cluster root (connected components
    over the shared pair table; singletons root at themselves) and the
    whole cluster lands in one split via a hash of the ROOT — the
    preventive twin of the split_leakage audit (which checks a doc-hash
    split after the fact). Per (split, source): docs, distinct clusters,
    id checksum.

    Scale shape: components over the pair relation (≪ corpus), one
    id-only left join to stamp roots, map-side hash split, short-key agg.
    """
    from photon_spark.functions import dedup
    rooted, cached = _doc_splits(spark, sf_dir)
    return dedup._own_cache(
        rooted.groupBy("split", "source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.countDistinct("root").alias("n_clusters"),
                   F.sum("doc_id").cast("long").alias("doc_id_sum")),
        cached)


def _sql_split_ctes() -> str:
    """CTE chain ending in ``splits(doc_id, source, root, split)`` — the
    SQL twin of :func:`_doc_splits`, shared by the assignment oracle and
    the split-aware training oracle."""
    from photon_spark.queries_northstar import (SQL_COMP_CTES,
                                                SQL_MINHASH_NEAR_DUPS)
    comp = SQL_COMP_CTES.replace("{pairs}", SQL_MINHASH_NEAR_DUPS)
    return f"""{comp}, rooted AS (
  SELECT d.doc_id, d.source,
         COALESCE(c.cluster_id, d.doc_id) AS root
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
), splits AS (
  SELECT doc_id, source, root,
         CASE WHEN substr(md5('csplit:' || root), 1, 2)
                   < '{SPLIT_TRAIN_LT}' THEN 'train'
              WHEN substr(md5('csplit:' || root), 1, 2)
                   < '{SPLIT_VAL_LT}' THEN 'val'
              ELSE 'test' END AS split
  FROM rooted
)"""


def _sql_cluster_split_assign() -> str:
    return f"""
WITH RECURSIVE {_sql_split_ctes()}
SELECT split, source, count(*) AS n_docs,
       count(DISTINCT root) AS n_clusters,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM splits GROUP BY 1, 2
"""


# ------------------------------------------------- distributed GD fit

#: gradient-descent fit: iterations, learning rate, label predicate
GD_ITERS, GD_LR = 3, 1.0


def _features(spark, sf_dir):
    """(doc_id, f1..f4, y): the classifier features plus a declared-lang
    label (y = 1 for 'en') — the same 6dp-rounded profile columns the
    inference-side filter consumes."""
    d = _docs(spark, sf_dir)
    prof = text.text_profile(d).join(d.select("doc_id", "lang"), "doc_id")
    return prof.select(
        "doc_id",
        F.col("alpha_ratio").alias("f1"),
        F.col("stopword_ratio").alias("f2"),
        _len_feat().alias("f3"),
        F.col("quality").alias("f4"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"))


def _gd_z(w):
    return (F.lit(w[0])
            + F.lit(w[1]) * F.col("f1")
            + F.lit(w[2]) * F.col("f2")
            + F.lit(w[3]) * F.col("f3")
            + F.lit(w[4]) * F.col("f4"))


def q_classifier_train_gd(spark, sf_dir):
    """TRAIN the quality/language classifier in-engine: {GD_ITERS} full
    batch gradient-descent steps on a linear model with the rational
    squash, labels = declared lang == 'en'. The distributed-ML pattern of
    kmeans applied to supervised learning: each step is ONE map-side pass
    emitting 5 per-coordinate gradient terms, quantized to integer
    millionths so the cross-partition sums are order-free longs — the
    weight trajectory is bit-identical on any partitioning and any
    engine (the oracle unrolls the same {GD_ITERS} steps in SQL; both
    sides cast the long sum to double BEFORE dividing, so the parity
    argument is cast-then-divide by construction and survives even the
    |sum| > 2^53 regime where the quantized sum itself would stop being
    exactly representable).
    Returns the weight vector plus training accuracy and size.

    At 100 TB: per step, only 5 longs + a count leave each partition.
    """
    feats = _features(spark, sf_dir).persist()
    w = [0.0] * 5
    n = None
    for _ in range(GD_ITERS):
        z = _gd_z(w)
        p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
        r = F.col("y") - p
        sums = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.round(r * fj * F.lit(1e6)).cast("long")).alias(f"s{j}")
              for j, fj in enumerate(
                  [F.lit(1.0), F.col("f1"), F.col("f2"), F.col("f3"),
                   F.col("f4")])]).collect()[0]
        n = int(sums["n"])
        # float() first: mirror the oracle's BIGINT→DOUBLE cast before the
        # divide. Python's exact-int division would round from the exact
        # rational instead — last-ulp divergence once |s_j| > 2^53
        # (~2e10 rows at these feature scales).
        w = [w[j] + GD_LR * (float(sums[f"s{j}"]) / n / 1e6)
             for j in range(5)]
    # final-pass training accuracy: predict 1 ⇔ z ≥ 0 (p ≥ ½ exactly)
    z = _gd_z(w)
    acc_row = feats.agg(
        F.sum(((z >= 0) == (F.col("y") == 1.0)).cast("long")).alias("ok"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    feats.unpersist()
    from decimal import ROUND_HALF_UP, Decimal
    acc = float(Decimal(repr(int(acc_row["ok"]) / int(acc_row["n"])))
                .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))
    rows = ([(f"w{j}", float(w[j])) for j in range(5)]
            + [("train_acc", acc), ("n_docs", float(acc_row["n"]))])
    return spark.createDataFrame(rows, "coef string, value double")


def _sql_classifier_train_gd() -> str:
    def z_expr(wn):
        return (f"({wn}.w0 + {wn}.w1 * f.f1 + {wn}.w2 * f.f2 "
                f"+ {wn}.w3 * f.f3 + {wn}.w4 * f.f4)")

    def grad(wn, gn):
        z = z_expr(wn)
        p = f"(0.5 + 0.5 * {z} / (1.0 + abs({z})))"
        terms = ", ".join(
            f"SUM(CAST(round((f.y - {p}) * {fj} * 1000000.0) AS BIGINT))"
            f" AS s{j}"
            for j, fj in enumerate(["1.0", "f.f1", "f.f2", "f.f3", "f.f4"]))
        return (f"{gn} AS (SELECT count(*) AS n, {terms} "
                f"FROM f CROSS JOIN {wn})")

    def step(gn, wn_prev, wn):
        coords = ", ".join(
            f"{wn_prev}.w{j} + {GD_LR} * ({gn}.s{j} / {gn}.n / 1000000.0)"
            f" AS w{j}" for j in range(5))
        return (f"{wn} AS (SELECT {coords} "
                f"FROM {gn} CROSS JOIN {wn_prev})")

    ctes = ["w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, "
            "0.0 AS w3, 0.0 AS w4)"]
    prev = "w0s"
    for i in range(GD_ITERS):
        g, nxt = f"g{i}", f"w{i + 1}s"
        ctes.append(grad(prev, g))
        ctes.append(step(g, prev, nxt))
        prev = nxt
    zf = z_expr(prev)
    return f"""
WITH prof AS ({SQL_TEXT_PROFILE}), f AS (
  SELECT p.doc_id, p.alpha_ratio AS f1, p.stopword_ratio AS f2,
         {sql_len_feat("p.")} AS f3, p.quality AS f4,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM prof p JOIN documents d USING (doc_id)
), {", ".join(ctes)}, acc AS (
  SELECT SUM(CASE WHEN ({zf} >= 0) = (f.y = 1.0) THEN 1 ELSE 0 END) AS ok,
         count(*) AS n
  FROM f CROSS JOIN {prev}
)
SELECT 'w0' AS coef, w0 AS value FROM {prev}
UNION ALL SELECT 'w1', w1 FROM {prev}
UNION ALL SELECT 'w2', w2 FROM {prev}
UNION ALL SELECT 'w3', w3 FROM {prev}
UNION ALL SELECT 'w4', w4 FROM {prev}
UNION ALL SELECT 'train_acc', round(ok * 1.0 / n, 6) FROM acc
UNION ALL SELECT 'n_docs', n * 1.0 FROM acc
"""


# --------------------------------------------------- calibration curve

#: reliability-diagram bands over the [0,1] score
CAL_BANDS = 10


def q_classifier_calibration_curve(spark, sf_dir):
    """Reliability diagram for the classifier: bucket the fixed-weight
    head's score into {CAL_BANDS} bands and compare each band's mean
    predicted score against the band's ACTUAL positive rate (label =
    declared lang == 'en', the GD training target) — the calibration
    evidence every score-thresholded corpus filter owes its threshold.
    An over-confident band (avg_score ≫ pos_rate) means the {CLS_KEEP}
    cutoff admits worse docs than the score claims.

    Float story: scores are the 6dp-rounded shared `_cls_score`; band =
    floor(score·{CAL_BANDS}) clamped to the last band (score 1.0);
    means are integer-millionth sums divided once and rounded — the
    same parity pattern as quality_classifier_filter. One Arrow profile
    pass + a {CAL_BANDS}-row aggregate; text never shuffles."""
    d = _docs(spark, sf_dir)
    prof = text.text_profile(d).join(d.select("doc_id", "lang"), "doc_id")
    sc = prof.withColumn("score", _cls_score(prof))
    band = F.least(F.floor(F.col("score") * CAL_BANDS),
                   F.lit(CAL_BANDS - 1)).cast("long")
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    s_int = F.round(F.col("score") * 1e6).cast("long")
    return (sc.select(band.alias("band"), s_int.alias("s"), y.alias("y"))
              .groupBy("band")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.round(F.sum("s") / F.count(F.lit(1)) / 1e6, 6)
                    .alias("avg_score"),
                   F.sum("y").cast("long").alias("n_pos"),
                   F.round(F.sum("y") / F.count(F.lit(1)), 6)
                    .alias("pos_rate")))


SQL_CLASSIFIER_CALIBRATION_CURVE = f"""
WITH prof AS ({SQL_TEXT_PROFILE}), sc AS (
  SELECT p.doc_id, d.lang,
         round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) AS score
  FROM (SELECT doc_id, n_tokens, {SQL_CLS_Z} AS z FROM prof) p
  JOIN documents d USING (doc_id)
)
SELECT least(CAST(floor(score * {CAL_BANDS}) AS BIGINT),
             {CAL_BANDS - 1}) AS band,
       count(*) AS n_docs,
       round(SUM(CAST(round(score * 1000000) AS BIGINT)) * 1.0
             / count(*) / 1000000, 6) AS avg_score,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos,
       round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS pos_rate
FROM sc GROUP BY 1
"""


# ------------------------------------------------ split-aware training

def q_classifier_eval_split(spark, sf_dir):
    """The full train/eval protocol, leakage-free by construction: GD
    weights fit on the CLUSTER-SPLIT train set only (so no near-duplicate
    of an eval doc was trained on), then accuracy reported per split —
    train vs val vs test. The honest generalization readout a quality
    filter needs before deployment; composes classifier_train_gd and
    cluster_split_assign. Same quantized-gradient determinism: the only
    change is a train-split predicate on the gradient pass."""
    from photon_spark.functions import dedup

    rooted, cached = _doc_splits(spark, sf_dir)
    feats = (_features(spark, sf_dir)
             .join(rooted.select("doc_id", "split"), "doc_id").persist())
    train = feats.where(F.col("split") == "train")
    w = [0.0] * 5
    for _ in range(GD_ITERS):
        z = _gd_z(w)
        p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
        r = F.col("y") - p
        sums = train.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.round(r * fj * F.lit(1e6)).cast("long")).alias(f"s{j}")
              for j, fj in enumerate(
                  [F.lit(1.0), F.col("f1"), F.col("f2"), F.col("f3"),
                   F.col("f4")])]).collect()[0]
        n = int(sums["n"])
        w = [w[j] + GD_LR * (float(sums[f"s{j}"]) / n / 1e6)
             for j in range(5)]
    z = _gd_z(w)
    out = (feats.groupBy("split")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(((z >= 0) == (F.col("y") == 1.0)).cast("long"))
                      .alias("n_correct"),
                     F.round(F.sum(((z >= 0) == (F.col("y") == 1.0))
                                   .cast("long"))
                             / F.count(F.lit(1)), 6).alias("accuracy")))
    out = dedup._own_cache(out, cached + [feats])
    return out


def _sql_classifier_eval_split() -> str:
    def z_expr(wn):
        return (f"({wn}.w0 + {wn}.w1 * f.f1 + {wn}.w2 * f.f2 "
                f"+ {wn}.w3 * f.f3 + {wn}.w4 * f.f4)")

    def grad(wn, gn):
        z = z_expr(wn)
        p = f"(0.5 + 0.5 * {z} / (1.0 + abs({z})))"
        terms = ", ".join(
            f"SUM(CAST(round((f.y - {p}) * {fj} * 1000000.0) AS BIGINT))"
            f" AS s{j}"
            for j, fj in enumerate(["1.0", "f.f1", "f.f2", "f.f3", "f.f4"]))
        return (f"{gn} AS (SELECT count(*) AS n, {terms} "
                f"FROM f CROSS JOIN {wn} WHERE f.split = 'train')")

    def step(gn, wn_prev, wn):
        coords = ", ".join(
            f"{wn_prev}.w{j} + {GD_LR} * ({gn}.s{j} / {gn}.n / 1000000.0)"
            f" AS w{j}" for j in range(5))
        return (f"{wn} AS (SELECT {coords} "
                f"FROM {gn} CROSS JOIN {wn_prev})")

    ctes = ["w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, "
            "0.0 AS w3, 0.0 AS w4)"]
    prev = "w0s"
    for i in range(GD_ITERS):
        g, nxt = f"eg{i}", f"ew{i + 1}s"
        ctes.append(grad(prev, g))
        ctes.append(step(g, prev, nxt))
        prev = nxt
    zf = z_expr(prev)
    return f"""
WITH RECURSIVE {_sql_split_ctes()}, prof AS ({SQL_TEXT_PROFILE}), f AS (
  SELECT p.doc_id, p.alpha_ratio AS f1, p.stopword_ratio AS f2,
         {sql_len_feat("p.")} AS f3, p.quality AS f4,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         sp.split AS split
  FROM prof p JOIN documents d USING (doc_id)
  JOIN splits sp ON sp.doc_id = p.doc_id
), {", ".join(ctes)}
SELECT f.split, count(*) AS n_docs,
       CAST(SUM(CASE WHEN ({zf} >= 0) = (f.y = 1.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(SUM(CASE WHEN ({zf} >= 0) = (f.y = 1.0)
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS accuracy
FROM f CROSS JOIN {prev}
GROUP BY 1
"""



# ------------------------------------------------------ rank-based AUC

def q_classifier_auc_rank(spark, sf_dir):
    """ROC-AUC of the quality classifier by the Mann-Whitney rank
    statistic — the threshold-free discrimination readout the accuracy
    and calibration gates (classifier_eval_split,
    classifier_calibration_curve) do not give: AUC = P(score of a
    random positive > score of a random negative), computed WITHOUT
    sorting individual rows. Label = declared lang == 'en', score =
    the shared fixed-weight head (6dp-rounded, gate-proven identical
    across engines).

    Exactness: ranks are the only float trap in AUC (tie groups take
    the AVERAGE rank, a half-integer), so everything runs on DOUBLED
    ranks — a tie group spanning positions [C+1, C+c] contributes
    2·avg_rank = 2C + c + 1 per member, an exact integer. Then
    AUC = (Σ 2r⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻): integers until one final
    division.

    Scale shape: one keyed aggregate collapses the corpus to per-SCORE
    groups (bounded by the 6dp score grid — ≤ 10⁶ + 1 rows at ANY
    corpus size, the reason to rank groups, not rows), a prior-rows
    running sum over that bounded relation, and a 1-row rollup. Text
    never shuffles; no per-row sort anywhere.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    prof = text.text_profile(d).join(d.select("doc_id", "lang"), "doc_id")
    sc = prof.withColumn("score", _cls_score(prof))
    s_int = F.round(F.col("score") * 1e6).cast("long")
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    groups = (sc.select(s_int.alias("s"), y.alias("y"))
                .groupBy("s")
                .agg(F.count(F.lit(1)).alias("c"),
                     F.sum("y").alias("c_pos")))
    w_prev = (Window.orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    # decimal(38,0) accumulation: Σ 2r⁺ grows as ~2·n⁺·n, which
    # overflows int64 near 3·10⁹ rows — DuckDB's sum is HUGEINT, so the
    # Spark side must stay 128-bit-exact too; both engines subtract
    # exactly and only then convert to double for the single division
    ranked = groups.withColumn(
        "r2_sum",
        F.col("c_pos").cast("decimal(38,0)")
        * (2 * F.coalesce(F.sum("c").over(w_prev),
                          F.lit(0)) + F.col("c") + 1))
    agg = ranked.agg(F.sum("c").alias("n"),
                     F.sum("c_pos").alias("np"),
                     F.sum("r2_sum").alias("r2"),
                     F.count(F.lit(1)).alias("n_scores"))
    np_d = F.col("np").cast("decimal(38,0)")
    n_d = F.col("n").cast("decimal(38,0)")
    num = F.col("r2") - np_d * (np_d + 1)
    den = 2 * np_d * (n_d - np_d)
    return agg.select(F.col("n").alias("n_docs"),
                      F.col("np").alias("n_pos"),
                      (F.col("n") - F.col("np")).alias("n_neg"),
                      F.col("n_scores").alias("n_distinct_scores"),
                      F.round(num.cast("double") / den.cast("double"), 6)
                       .alias("auc"))


SQL_CLASSIFIER_AUC_RANK = f"""
WITH prof AS ({{prof}}), sc AS (
  SELECT CAST(round(round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) * 1000000)
              AS BIGINT) AS s,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM (SELECT doc_id, n_tokens, {{z}} AS z FROM prof) p
  JOIN documents d USING (doc_id)
), groups AS (
  SELECT s, count(*) AS c, sum(y) AS c_pos FROM sc GROUP BY 1
), ranked AS (
  SELECT c, c_pos,
         c_pos * (2 * coalesce(sum(c) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) + c + 1) AS r2_sum
  FROM groups
)
SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(c_pos) AS BIGINT) AS n_pos,
       CAST(sum(c) - sum(c_pos) AS BIGINT) AS n_neg,
       count(*) AS n_distinct_scores,
       round((sum(r2_sum) - sum(c_pos) * (sum(c_pos) + 1)) * 1.0
             / (2 * sum(c_pos) * (sum(c) - sum(c_pos))), 6) AS auc
FROM ranked
"""


def _sql_classifier_auc_rank() -> str:
    return SQL_CLASSIFIER_AUC_RANK.replace(
        "{prof}", SQL_TEXT_PROFILE).replace("{z}", SQL_CLS_Z)


QUERIES = {
    "seeded_shuffle_plan": q_seeded_shuffle_plan,
    "quality_classifier_filter": q_quality_classifier_filter,
    "curriculum_order_plan": q_curriculum_order_plan,
    "embedding_prune_plan": q_embedding_prune_plan,
    "cluster_split_assign": q_cluster_split_assign,
    "classifier_train_gd": q_classifier_train_gd,
    "classifier_eval_split": q_classifier_eval_split,
    "classifier_calibration_curve": q_classifier_calibration_curve,
    "classifier_auc_rank": q_classifier_auc_rank,
}

ORACLES = {
    "seeded_shuffle_plan": SQL_SEEDED_SHUFFLE_PLAN,
    "quality_classifier_filter": SQL_QUALITY_CLASSIFIER_FILTER,
    "curriculum_order_plan": _sql_curriculum_order_plan(),
    "embedding_prune_plan": _sql_embedding_prune_plan(),
    "cluster_split_assign": _sql_cluster_split_assign(),
    "classifier_train_gd": _sql_classifier_train_gd(),
    "classifier_eval_split": _sql_classifier_eval_split(),
    "classifier_calibration_curve": SQL_CLASSIFIER_CALIBRATION_CURVE,
    "classifier_auc_rank": _sql_classifier_auc_rank(),
}
