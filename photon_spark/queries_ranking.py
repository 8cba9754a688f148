"""Retrieval & ranking queries: BM25 scoring, weighted priority
sampling, exponential-decay popularity, PageRank over the near-dup
graph, and hard-negative mining for contrastive training — the ranking
layer of a training-data pipeline, each hash-gated against a DuckDB
oracle.

Float policy (see queries.py): every double is either (a) a single IEEE
op over exactly-aggregated integers, (b) a fixed-order sum of such
values, or (c) exact dyadic arithmetic (powers of two) — never a
re-associating float aggregate. PageRank uses exact integer micro-unit
arithmetic so three power iterations hash identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from photon_spark.functions import text
from photon_spark.relations import read_base as _read_base


def _docs(spark, sf_dir):
    return _read_base(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    from photon_spark.queries import _t
    return _t(spark, sf_dir, "events")


# ----------------------------------------------------------------- BM25

#: fixed query term set (a retrieval request is a parameter, not data)
BM25_TERMS = ["join", "filter", "window", "partition"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

#: DuckDB spelling of the shared token stream (queries_northstar._SQL_TOKS)
_SQL_TOKS = ("CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
             "ELSE regexp_split_to_array(trim(text), '\\s+') END")


def _bm25_scored(spark, sf_dir):
    """Per-doc BM25 relation for the fixed 4-term query (docs with ≥ 1
    query term). Shared by q_bm25_topk and the RRF hybrid fusion.

    The idf is the rational surrogate (N - df + ½)/(df + ½) — computed
    as one integer-ratio division, so no cross-engine ``ln`` is ever
    taken — and the whole score is a FIXED-ORDER sum of four per-term
    expressions over exactly-counted integers (tf, dl, N, Σdl, df), so
    the hash gate holds without any tolerance.

    Plan (the 100 TB retrieval shape): one token explode → one
    (doc_id)-keyed aggregate producing dl + the four tf counts in the
    same pass (no pivot, no second scan), a 1-row corpus-stats aggregate
    collected to the driver (query-batch economics: stats are corpus
    metadata, cached in practice), then a map-side score projection and
    TakeOrderedAndProject — the corpus text never shuffles, only one
    short row per document.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    tf_cols = [F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
                .cast("long").alias(f"tf_{t}") for t in BM25_TERMS]
    per_doc = (toks.groupBy("doc_id")
                   .agg(F.count(F.lit(1)).alias("dl"), *tf_cols))
    per_doc = per_doc.persist()
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
          for t in BM25_TERMS]).collect()[0]
    n_docs, total_len = stats["n_docs"], stats["total_len"]

    def term_score(t: str):
        # idf = (2N - 2df + 1) / (2df + 1): one integer-ratio division,
        # identical to the oracle's literal-free spelling.
        df_t = stats[f"df_{t}"]
        idf = float(2 * n_docs - 2 * df_t + 1) / float(2 * df_t + 1)
        tf = F.col(f"tf_{t}").cast("double")
        denom = (tf + (F.lit(BM25_K1 * (1.0 - BM25_B))
                       + (F.lit(BM25_K1 * BM25_B) * F.col("dl").cast("double")
                          * F.lit(float(n_docs)) / F.lit(float(total_len)))))
        return F.lit(idf) * (tf * F.lit(BM25_K1 + 1.0)) / denom

    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    out = (per_doc
           .where(sum((F.col(f"tf_{t}") > 0).cast("int")
                      for t in BM25_TERMS) > 0)
           .select("doc_id", "dl",
                   *[f"tf_{t}" for t in BM25_TERMS],
                   F.round(score, 6).alias("bm25")))
    from photon_spark.functions.dedup import _own_cache
    return _own_cache(out, [per_doc])


def q_bm25_topk(spark, sf_dir):
    scored = _bm25_scored(spark, sf_dir)
    out = (scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
                 .limit(BM25_TOPK))
    out._photon_cached = getattr(scored, "_photon_cached", [])
    return out


def _sql_bm25_parts() -> tuple[str, str]:
    """(WITH-clause body, scored-SELECT) — shared by the BM25 oracle and
    the RRF fusion oracle."""
    k1, b = BM25_K1, BM25_B
    tf_sel = ",\n         ".join(
        f"CAST(sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS)
    df_sel = ",\n         ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS)
    # Fixed-order sum, each term spelled exactly like the Spark column
    # tree: lit(idf) * (tf * 2.2) / (tf + (0.3 + 0.9 * dl * N / total)).
    # idf and the two scale constants are single divisions of integers,
    # so both engines compute bit-identical doubles.
    terms = " + ".join(
        f"(((2 * s.n_docs - 2 * s.df_{t} + 1)::DOUBLE"
        f" / (2 * s.df_{t} + 1)::DOUBLE)"
        f" * (p.tf_{t}::DOUBLE * {k1 + 1.0!r})"
        f" / (p.tf_{t}::DOUBLE + ({k1 * (1.0 - b)!r}"
        f" + ({k1 * b!r} * p.dl::DOUBLE"
        f" * s.n_docs::DOUBLE / s.total_len::DOUBLE))))"
        for t in BM25_TERMS)
    any_tf = " + ".join(
        f"CASE WHEN p.tf_{t} > 0 THEN 1 ELSE 0 END" for t in BM25_TERMS)
    tf_out = ", ".join(f"p.tf_{t}" for t in BM25_TERMS)
    ctes = f"""toks AS (
  SELECT doc_id, lower(unnest({_SQL_TOKS})) AS tok FROM documents
), per_doc AS (
  SELECT doc_id, count(*) AS dl,
         {tf_sel}
  FROM toks GROUP BY doc_id
), s AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_len,
         {df_sel}
  FROM per_doc
)"""
    scored = f"""SELECT p.doc_id, p.dl, {tf_out},
       round({terms}, 6) AS bm25
FROM per_doc p, s
WHERE ({any_tf}) > 0"""
    return ctes, scored


def _sql_bm25() -> str:
    ctes, scored = _sql_bm25_parts()
    return f"""
WITH {ctes}
{scored}
ORDER BY bm25 DESC, p.doc_id ASC
LIMIT {BM25_TOPK}
"""


# ------------------------------------------- exponential-decay popularity

#: epoch-ns of 2024-01-31 00:00:00 UTC — the "as of" instant (the event
#: table spans January 2024)
DECAY_REF_NS = 1_706_659_200_000_000_000
DAY_NS = 86_400_000_000_000_000 // 1000
#: staircase half-life: weight halves every DECAY_STEP_DAYS
DECAY_STEP_DAYS = 4
DECAY_MAX_STEP = 7
DECAY_SCALE = 1 << DECAY_MAX_STEP  # 128


def q_events_decay_popularity(spark, sf_dir):
    """Per-event-type exponentially-decayed popularity as of a fixed
    instant: weight = 2^-⌊age_days/{DECAY_STEP_DAYS}⌋ (staircase decay,
    half-life {DECAY_STEP_DAYS} days, floored at 2^-{DECAY_MAX_STEP}).

    Every weight is a power of two, so the decayed total is summed as an
    EXACT integer in 1/{DECAY_SCALE} units and converted to a double by
    one dyadic division — the recency-weighting trick that makes a decay
    aggregate hash-reproducible (and mergeable across incremental runs:
    old totals re-decay by an integer shift).

    Plan: map-side integer weight per row, one short-key hash aggregate.
    """
    e = _events(spark, sf_dir)
    # Integer epoch-ns end-to-end: a double division of an epoch-ns long
    # loses precision past 2^53, so age is floor-divided as a long.
    step = (f"greatest(0, least((({DECAY_REF_NS} - ts) div {DAY_NS})"
            f" div {DECAY_STEP_DAYS}, {DECAY_MAX_STEP}))")
    w = F.expr(
        f"cast(shiftleft(1, {DECAY_MAX_STEP} - cast(({step}) as int)) "
        "as long)")
    return (e.select("event_type", w.alias("w"))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("w").alias("decayed_units"),
                  (F.sum("w") / F.lit(float(DECAY_SCALE)))
                  .alias("decayed_count")))


SQL_EVENTS_DECAY_POPULARITY = f"""
WITH w AS (
  SELECT event_type,
         (1::BIGINT << ({DECAY_MAX_STEP} - greatest(0, least(
            ({DECAY_REF_NS} - epoch_ns(ts)) // {DAY_NS}
              // {DECAY_STEP_DAYS},
            {DECAY_MAX_STEP})::INT))) AS w
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(w) AS BIGINT) AS decayed_units,
       sum(w)::DOUBLE / {float(DECAY_SCALE)!r} AS decayed_count
FROM w GROUP BY event_type
"""


TRENDING_K = 3


def q_events_trending_users(spark, sf_dir):
    """Trending users: per stream, the {TRENDING_K} users with the most
    recency-weighted activity (the staircase decay weights of
    q_events_decay_popularity) — "who is hot right now", the serving
    query a decayed counter table exists to answer.

    Exact integer decayed units per (stream, user) collapse map-side;
    the per-stream rank gets WindowGroupLimit, so only ≤ k rows per
    stream per map partition ever shuffle.
    """
    e = _events(spark, sf_dir)
    step = (f"greatest(0, least((({DECAY_REF_NS} - ts) div {DAY_NS})"
            f" div {DECAY_STEP_DAYS}, {DECAY_MAX_STEP}))")
    w = F.expr(
        f"cast(shiftleft(1, {DECAY_MAX_STEP} - cast(({step}) as int)) "
        "as long)")
    per_user = (e.select("event_type", "user_id", w.alias("w"))
                 .groupBy("event_type", "user_id")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.sum("w").alias("decayed_units")))
    rk = Window.partitionBy("event_type").orderBy(
        F.desc("decayed_units"), F.asc("user_id"))
    return (per_user
            .withColumn("rank", F.row_number().over(rk).cast("long"))
            .where(F.col("rank") <= TRENDING_K))


SQL_EVENTS_TRENDING_USERS = f"""
WITH w AS (
  SELECT event_type, user_id,
         (1::BIGINT << ({DECAY_MAX_STEP} - greatest(0, least(
            ({DECAY_REF_NS} - epoch_ns(ts)) // {DAY_NS}
              // {DECAY_STEP_DAYS},
            {DECAY_MAX_STEP})::INT))) AS w
  FROM events
), per_user AS (
  SELECT event_type, user_id, count(*) AS n_events,
         CAST(sum(w) AS BIGINT) AS decayed_units
  FROM w GROUP BY 1, 2
)
SELECT event_type, user_id, n_events, decayed_units,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY decayed_units DESC, user_id ASC)
         AS rank
FROM per_user
QUALIFY rank <= {TRENDING_K}
"""


# ------------------------------------------------ weighted priority sample

PRIO_PER_SOURCE = 5


def q_priority_sample(spark, sf_dir):
    """Weighted sample (priority sampling, Duffield et al.): per source,
    the {PRIO_PER_SOURCE} documents with the largest priority
    w / u, where w = n_chars and u is the md5-derived 60-bit uniform —
    longer docs are proportionally likelier to be kept, yet the sample
    is fully deterministic and reproducible across engines.

    Plan: priority is one map-side division; the per-source rank gets
    Catalyst's WindowGroupLimit (≤ k rows per source survive each map
    partition), so the sample never sorts a source's full holdings.

    The priority itself is a double used only for ORDERING (one IEEE
    division of exact integers — bit-identical on both engines); the
    gated output carries the exact integer draw u60 instead of a float.
    """
    from photon_spark.functions.sketches import _h60
    d = _docs(spark, sf_dir)
    u = (_h60(F.col("doc_id").cast("string")) + 1).alias("u60")
    prio = (F.col("n_chars").cast("double")
            / F.col("u60").cast("double")).alias("prio")
    w = Window.partitionBy("source").orderBy(F.desc("prio"), F.asc("doc_id"))
    return (d.select("source", "doc_id", "n_chars", u)
             .select("source", "doc_id", "n_chars", "u60", prio)
             .withColumn("rank", F.row_number().over(w).cast("long"))
             .where(F.col("rank") <= PRIO_PER_SOURCE)
             .select("source", "doc_id", "n_chars", "u60", "rank"))


def _sql_priority_sample() -> str:
    from photon_spark.functions.sketches import sql_h60
    h = sql_h60("doc_id::VARCHAR")
    return f"""
WITH p AS (
  SELECT source, doc_id, n_chars, ({h} + 1) AS u60,
         n_chars::DOUBLE / ({h} + 1)::DOUBLE AS prio
  FROM documents
), r AS (
  SELECT source, doc_id, n_chars, u60,
         row_number() OVER (PARTITION BY source
                            ORDER BY prio DESC, doc_id ASC) AS rank
  FROM p
)
SELECT source, doc_id, n_chars, u60, rank
FROM r WHERE rank <= {PRIO_PER_SOURCE}
"""


# ------------------------------------------- PageRank over the dup graph

PR_TOTAL = 10**12      #: rank mass in integer micro-micro units
PR_ITERS = 3
PR_DAMP_NUM = 85       #: damping 0.85 as an integer ratio


def q_pagerank_dup_graph(spark, sf_dir):
    """PageRank (3 power iterations, damping 0.85) over the undirected
    near-duplicate graph — ranks the "most central" boilerplate: a doc
    near-duplicated by many already-duplicated docs outranks one in a
    single pair, which is the right keep-priority signal for canonical
    selection.

    Exact-integer power iteration: rank lives in 1e-12 units of total
    mass; each step is contrib = rank div degree (integer), then
    new = (15·total) div (100·n) + (85·Σcontrib) div 100 — floor
    divisions and exact integer sums only, so three iterations hash
    identically on both engines with no float tolerance.

    Scale shape: each iteration is one equi-join of the rank relation
    against the edge list plus one keyed sum — the standard
    edge-partitioned power iteration; ids only, no text, no windows.
    """
    from photon_spark import pair_cache
    pairs = pair_cache.near_dup_pairs(spark, sf_dir)
    # The pair-mining pipeline must not re-execute once per iteration:
    # persist the id-only edge list (the only thing the loop touches).
    edges = (pairs.select(F.col("lo_id").alias("src"),
                          F.col("hi_id").alias("dst"))
                  .unionAll(pairs.select(F.col("hi_id").alias("src"),
                                         F.col("lo_id").alias("dst")))
                  ).persist()
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
                .withColumnRenamed("src", "id")).persist()
    n = deg.count()
    rank = deg.select("id", F.lit(PR_TOTAL // n).alias("rank"))
    jump = (100 - PR_DAMP_NUM) * PR_TOTAL // (100 * n)
    for _ in range(PR_ITERS):
        contrib = (rank.join(deg, "id")
                       .select("id", F.expr("rank div deg").alias("c"))
                       .join(edges, F.col("id") == F.col("src"))
                       .groupBy("dst").agg(F.sum("c").alias("msum")))
        rank = contrib.select(
            F.col("dst").alias("id"),
            F.expr(f"{jump} + ({PR_DAMP_NUM} * msum) div 100").alias("rank"))
    out = rank.select(F.col("id").alias("doc_id"),
                      F.col("rank").alias("rank_e12"),
                      (F.col("rank").cast("double") / F.lit(1.0e12))
                      .alias("pagerank"))
    from photon_spark.functions.dedup import _own_cache
    return _own_cache(out,
                      getattr(pairs, "_photon_cached", []) + [edges, deg])


def _sql_pagerank() -> str:
    from photon_spark.queries_northstar import SQL_MINHASH_NEAR_DUPS
    its = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        its.append(f"""it{i} AS (
  SELECT e.dst AS id,
         (SELECT jump FROM params)
           + ({PR_DAMP_NUM} * sum(r.rank // d.deg)) // 100 AS rank
  FROM edges e
  JOIN {prev} r ON r.id = e.src
  JOIN deg d ON d.id = e.src
  GROUP BY e.dst
)""")
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH pairs AS ({SQL_MINHASH_NEAR_DUPS}),
edges AS (
  SELECT lo_id AS src, hi_id AS dst FROM pairs
  UNION ALL SELECT hi_id, lo_id FROM pairs
),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
params AS (
  SELECT count(*) AS n, {PR_TOTAL} // count(*) AS r_init,
         {(100 - PR_DAMP_NUM) * PR_TOTAL} // (100 * count(*)) AS jump
  FROM deg
),
r0 AS (SELECT id, (SELECT r_init FROM params) AS rank FROM deg),
{its_sql}
SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_e12,
       rank::DOUBLE / 1e12 AS pagerank
FROM {prev}
"""


# ----------------------------------- triangle census over the dup graph

def q_dup_graph_triangles(spark, sf_dir):
    """Per-document TRIANGLE COUNT over the near-duplicate graph — the
    transitivity census: a doc in many triangles sits inside a dense
    boilerplate clique (its duplicates are duplicates of each other,
    the strongest canonical-selection signal), while a high-degree doc
    with zero triangles is a hub of unrelated coincidental matches
    (the LSH false-positive smell worth auditing).

    Algorithm: degree-ordered edge orientation, then the forward
    wedge-join — orient every undirected edge from the (deg, id)-lower
    endpoint to the higher, join oriented (a→b)⋈(b→c) wedges against
    the oriented (a→c) closure. Each triangle is found exactly once
    (its vertices are totally ordered by (deg, id)), and the wedge
    relation is bounded by Σ out_deg² where out-degree ≤ O(√m) — the
    arboricity bound that makes this THE distributed triangle algorithm
    (Cohen's MapReduce form); a power-law hub never fans out because
    its edges all point INTO it. Consumes the shared PairTable; ids
    only, no text. Output: one row per triangle-participating doc with
    its triangle count and degree.
    """
    from photon_spark import pair_cache
    pairs = pair_cache.near_dup_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("lo_id").alias("src"),
                          F.col("hi_id").alias("dst"))
                  .unionAll(pairs.select(F.col("hi_id").alias("src"),
                                         F.col("lo_id").alias("dst"))))
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
                .withColumnRenamed("src", "id"))
    # orient src -> dst iff (deg, id) of src < (deg, id) of dst; the
    # undirected edge appears in `edges` both ways, so keeping the
    # "less-than" direction keeps each edge exactly once
    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("dsrc"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddst"))
    o = (edges.join(ds, "src").join(dd, "dst")
              .where((F.col("dsrc") < F.col("ddst"))
                     | ((F.col("dsrc") == F.col("ddst"))
                        & (F.col("src") < F.col("dst"))))
              .select("src", "dst").persist())
    ab = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")
    per_doc = (tri.select(F.col("a").alias("doc_id"))
                  .unionAll(tri.select(F.col("b").alias("doc_id")))
                  .unionAll(tri.select(F.col("c").alias("doc_id")))
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_triangles")))
    from photon_spark.functions.dedup import _own_cache
    out = (per_doc.join(deg.withColumnRenamed("id", "doc_id"), "doc_id")
                  .select("doc_id", "n_triangles",
                          F.col("deg").cast("long").alias("degree")))
    return _own_cache(out, getattr(pairs, "_photon_cached", []) + [o])


def _sql_dup_graph_triangles() -> str:
    from photon_spark.queries_northstar import SQL_MINHASH_NEAR_DUPS
    return f"""
WITH pairs AS ({SQL_MINHASH_NEAR_DUPS}),
edges AS (
  SELECT lo_id AS src, hi_id AS dst FROM pairs
  UNION ALL SELECT hi_id, lo_id FROM pairs
),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
o AS (
  SELECT e.src, e.dst
  FROM edges e
  JOIN deg s ON s.id = e.src
  JOIN deg d ON d.id = e.dst
  WHERE s.deg < d.deg OR (s.deg = d.deg AND e.src < e.dst)
),
tri AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM o ab
  JOIN o bc ON bc.src = ab.dst
  JOIN o ac ON ac.src = ab.src AND ac.dst = bc.dst
),
per_doc AS (
  SELECT doc_id, count(*) AS n_triangles FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT p.doc_id, CAST(p.n_triangles AS BIGINT) AS n_triangles,
       CAST(g.deg AS BIGINT) AS degree
FROM per_doc p JOIN deg g ON g.id = p.doc_id
"""



# --------------------------------------------------- link prediction

def q_dup_graph_link_predict(spark, sf_dir):
    """LINK PREDICTION over the near-duplicate graph — the census the
    triangle count (q_dup_graph_triangles) implies but never emits: for
    every document pair sharing at least one neighbor, the
    common-neighbor count, an already-adjacent flag, and the
    neighborhood Jaccard. The NON-adjacent rows are the "these two
    docs are probably duplicates the LSH bands missed" candidates (the
    standard recall-repair pass over a banded dedup graph, and the
    same statistic link prediction uses in any entity graph); the
    adjacent rows carry their Jaccard as edge-strength confirmation.

    Algorithm: wedge join through the shared endpoint — edges(z→a) ⋈
    edges(z→b) with a < b gives every common neighbor exactly once;
    one keyed aggregate counts them; a LEFT join against the edge
    list stamps the adjacency flag; degrees join in for
    the Jaccard |N(a)∩N(b)| / (deg(a)+deg(b)−|∩|) — exact integers
    until one final division. Wedge fan-out is Σ deg(z)², the standard
    LP cost, bounded here by the LSH band design (a banded dup graph
    has no unbounded hubs); a general graph would cap or salt hub
    degrees first, the same treatment the triangle census documents.
    Consumes the shared PairTable; ids only, no text.
    """
    from photon_spark import pair_cache
    pairs = pair_cache.near_dup_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("lo_id").alias("src"),
                          F.col("hi_id").alias("dst"))
                  .unionAll(pairs.select(F.col("hi_id").alias("src"),
                                         F.col("lo_id").alias("dst"))))
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
                .withColumnRenamed("src", "id"))
    ea = edges.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    eb = edges.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    cn = (ea.join(eb, "z")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("common_neighbors")))
    adj = pairs.select(F.col("lo_id").alias("a"),
                       F.col("hi_id").alias("b"),
                       F.lit(True).alias("already_adjacent"))
    flagged = (cn.join(adj, ["a", "b"], "left")
                 .withColumn("already_adjacent",
                             F.coalesce("already_adjacent", F.lit(False))))
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    return (flagged.join(da, "a").join(db, "b")
                   .select(F.col("a").alias("lo_id"),
                           F.col("b").alias("hi_id"),
                           "common_neighbors", "already_adjacent",
                           F.round(F.col("common_neighbors")
                                   / (F.col("da") + F.col("db")
                                      - F.col("common_neighbors")), 6)
                            .alias("jaccard")))


def _sql_dup_graph_link_predict() -> str:
    from photon_spark.queries_northstar import SQL_MINHASH_NEAR_DUPS
    return f"""
WITH pairs AS ({SQL_MINHASH_NEAR_DUPS}),
edges AS (
  SELECT lo_id AS src, hi_id AS dst FROM pairs
  UNION ALL SELECT hi_id, lo_id FROM pairs
),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
cn AS (
  SELECT ea.dst AS a, eb.dst AS b, count(*) AS common_neighbors
  FROM edges ea JOIN edges eb ON ea.src = eb.src AND ea.dst < eb.dst
  GROUP BY 1, 2
),
flagged AS (
  SELECT c.*, EXISTS (SELECT 1 FROM pairs p
                      WHERE p.lo_id = c.a AND p.hi_id = c.b)
           AS already_adjacent
  FROM cn c
)
SELECT n.a AS lo_id, n.b AS hi_id,
       CAST(n.common_neighbors AS BIGINT) AS common_neighbors,
       n.already_adjacent,
       round(n.common_neighbors * 1.0
             / (s.deg + d.deg - n.common_neighbors), 6) AS jaccard
FROM flagged n
JOIN deg s ON s.id = n.a
JOIN deg d ON d.id = n.b
"""


# --------------------------------------------------- hard-negative mining

#: fixed anchor ids (the anchor batch is a parameter, not data — exists
#: at every sf because vec_ids are dense from 0)
HN_ANCHORS = [0, 61, 122, 183, 244, 305, 366, 427, 488]
HN_K = 3


def q_hard_negative_mining(spark, sf_dir):
    """Hard negatives for contrastive training: for each anchor vector,
    the {HN_K} most-cosine-similar vectors whose LABEL DIFFERS — the
    pairs that teach an embedding model the most.

    Scale shape = the batch-ANN serving plan (queries_select.
    q_ann_topk_multi): the fixed anchor batch broadcasts, every corpus
    vector scores map-side, the label-mismatch predicate filters before
    the rank, and WindowGroupLimit keeps ≤ k rows per anchor per map
    partition. Corpus vectors never shuffle.
    """
    from photon_spark.functions.similarity import cosine
    e = _read_base(spark, sf_dir, "embeddings")
    anchors = (e.where(F.col("vec_id").isin(HN_ANCHORS))
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qv"),
                        F.col("label").alias("query_label")))
    scored = (e.crossJoin(F.broadcast(anchors))
               .where(F.col("label") != F.col("query_label"))
               .select("query_id", "query_label", "vec_id",
                       F.col("label").alias("neg_label"),
                       F.round(cosine(F.col("embedding"), F.col("qv")), 6)
                        .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .where(F.col("rank") <= HN_K))


SQL_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding, label AS query_label
  FROM embeddings WHERE vec_id IN ({", ".join(map(str, HN_ANCHORS))})
), s AS (
  SELECT q.query_id, q.query_label, b.vec_id, b.label AS neg_label,
         round(list_cosine_similarity(b.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings b, q WHERE b.label != q.query_label
), r AS (
  SELECT query_id, query_label, vec_id, neg_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, query_label, vec_id, neg_label, cosine, rank
FROM r WHERE rank <= {HN_K}
"""


# ------------------------------------------- feature hashing (text→vec)

FH_DIM = 64          #: hashed vector dimension
FH_SAMPLE_MOD = 50   #: gate emits doc_id % MOD == 0 (the full map-only
                     #: transform is the operator; the gate samples it)


def q_feature_hash_vectors(spark, sf_dir):
    """Signed feature hashing (the hashing trick): text → fixed-width
    integer vector with bucket = h(tok) mod {FH_DIM} and a second hash
    bit choosing ±1, summed over token occurrences. The deterministic,
    vocabulary-free featurizer that turns 100 TB of text into
    fixed-width vectors in ONE map-side pass — no vocabulary build, no
    dictionary broadcast, no training.

    Exact integers end-to-end, so the gate needs no tolerance. Vector
    assembly is order-independent (map_from_entries over the per-bucket
    sums, then a dense index walk), so partial-aggregation order can't
    reorder the array.

    Plan: explode → (doc, bucket)-keyed integer sum (map-side partials
    collapse the token stream) → per-doc map assembly. Only (doc_id,
    bucket, sum) triples shuffle — ≤ {FH_DIM} rows per doc regardless of
    document length.

    The gated output renders the vector as the ','-joined string of its
    {FH_DIM} components in bucket order (scalar-primitive rule: the
    driver's canonicalizer cannot hash raw array cells — round-5
    verdict). The exact-integer md5 recompute pin in tests/test_ranking
    checks the same fixed-width rendering.
    """
    from photon_spark.functions.sketches import _h60
    d = _docs(spark, sf_dir).where(F.col("doc_id") % FH_SAMPLE_MOD == 0)
    toks = d.select("doc_id", F.explode(
        F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    h = _h60(F.col("tok"))
    cell = (toks.select("doc_id", (h % FH_DIM).alias("bucket"),
                        F.when((h % (2 * FH_DIM)) >= FH_DIM, F.lit(1))
                         .otherwise(F.lit(-1)).alias("sign"))
                .groupBy("doc_id", "bucket")
                .agg(F.sum("sign").alias("v")))
    m = F.map_from_entries(F.collect_list(F.struct("bucket", "v")))
    vec = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
                    lambda i: F.coalesce(m[i], F.lit(0)).cast("string")),
        ",")
    return (cell.groupBy("doc_id")
                .agg(vec.alias("vec"),
                     F.sum(F.abs(F.col("v"))).alias("l1_mass")))


def _sql_feature_hash() -> str:
    from photon_spark.functions.sketches import sql_h60
    h = sql_h60("tok")
    return f"""
WITH toks AS (
  SELECT doc_id, lower(unnest({_SQL_TOKS})) AS tok FROM documents
  WHERE doc_id % {FH_SAMPLE_MOD} = 0
), cell AS (
  SELECT doc_id, ({h}) % {FH_DIM} AS bucket,
         sum(CASE WHEN ({h}) % {2 * FH_DIM} >= {FH_DIM}
             THEN 1 ELSE -1 END) AS v
  FROM toks GROUP BY 1, 2
), dense AS (
  SELECT c.doc_id, g.b, CAST(coalesce(max(c2.v), 0) AS BIGINT) AS v
  FROM (SELECT DISTINCT doc_id FROM cell) c
  CROSS JOIN generate_series(0, {FH_DIM - 1}) g(b)
  LEFT JOIN cell c2 ON c2.doc_id = c.doc_id AND c2.bucket = g.b
  GROUP BY 1, 2
)
SELECT d.doc_id, string_agg(d.v, ',' ORDER BY d.b) AS vec, m.l1_mass
FROM dense d
JOIN (SELECT doc_id, CAST(sum(abs(v)) AS BIGINT) AS l1_mass
      FROM cell GROUP BY 1) m
  ON m.doc_id = d.doc_id
GROUP BY d.doc_id, m.l1_mass
"""


# ------------------------------------------- hybrid retrieval (RRF)

RRF_K = 60          #: the standard reciprocal-rank-fusion constant
RRF_DEPTH = 50      #: per-list depth fed to the fusion
RRF_TOPK = 10
#: the ANN leg's query vector id (same convention as ann_topk_bruteforce)
RRF_QUERY_ID = 7


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
    and vector (exact-cosine ANN) rankings — the standard two-tower
    serving stack, with vec_id ≡ doc_id. Score = Σ_lists 1/({RRF_K} +
    rank); a doc missing from one list contributes 0 for it.

    Fusion is rank-arithmetic only, so the gate is exact: each
    1/(k+rank) is one IEEE division and the fused score is a two-term
    fixed-order sum. Both legs are top-{RRF_DEPTH} relations BEFORE the
    fusion join (TakeOrderedAndProject each), so the full-outer join and
    the final rank run on ≤ 2·{RRF_DEPTH} rows regardless of corpus
    size — retrieval-serving economics, not analytics economics.
    """
    from photon_spark.functions.similarity import brute_force_topk
    bm = _bm25_scored(spark, sf_dir)
    bm_top = (bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(RRF_DEPTH)
                .select("doc_id", "bm25"))
    wb = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(wb).cast("long").alias("rank_bm25"))

    ann = brute_force_topk(_read_base(spark, sf_dir, "embeddings"),
                           RRF_QUERY_ID, k=RRF_DEPTH)
    wa = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ann_rank = ann.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wa).cast("long").alias("rank_ann"))

    fused = (bm_rank.join(ann_rank, "doc_id", "full_outer")
             .select("doc_id", "rank_bm25", "rank_ann",
                     F.round(
                         F.coalesce(F.lit(1.0)
                                    / (F.lit(RRF_K)
                                       + F.col("rank_bm25")).cast("double"),
                                    F.lit(0.0))
                         + F.coalesce(F.lit(1.0)
                                      / (F.lit(RRF_K)
                                         + F.col("rank_ann")).cast("double"),
                                      F.lit(0.0)), 9).alias("rrf")))
    out = (fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOPK))
    out._photon_cached = getattr(bm, "_photon_cached", [])
    return out


def _sql_hybrid_rrf() -> str:
    ctes, scored = _sql_bm25_parts()
    return f"""
WITH {ctes},
bm_top AS (
  {scored}
  ORDER BY bm25 DESC, p.doc_id ASC
  LIMIT {RRF_DEPTH}
), bm_rank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_bm25
  FROM bm_top
), ann_top AS (
  SELECT b.vec_id,
         round(list_cosine_similarity(b.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings b,
       (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QUERY_ID}) q
  WHERE b.vec_id != {RRF_QUERY_ID}
  ORDER BY cosine DESC, b.vec_id
  LIMIT {RRF_DEPTH}
), ann_rank AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank_ann
  FROM ann_top
)
SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
       b.rank_bm25, a.rank_ann,
       round(coalesce(1.0 / ({RRF_K} + b.rank_bm25)::DOUBLE, 0.0)
             + coalesce(1.0 / ({RRF_K} + a.rank_ann)::DOUBLE, 0.0), 9)
         AS rrf
FROM bm_rank b FULL OUTER JOIN ann_rank a ON b.doc_id = a.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {RRF_TOPK}
"""


# -------------------------------------------- rank-biased overlap (RBO)

#: RBO persistence: weight of depth d is (1-p)·p^(d-1)
RBO_P = 0.9
#: truncation depth (RBO_min at this prefix; both legs rank this deep)
RBO_DEPTH = 15


def _rbo_weights() -> list:
    """(depth, weight) literals computed ONCE in Python and injected
    verbatim into BOTH engines — p^(d-1) via libm pow is not guaranteed
    bit-identical across engines, a repr'd double literal is."""
    return [(d, (1.0 - RBO_P) * RBO_P ** (d - 1))
            for d in range(1, RBO_DEPTH + 1)]


def q_ranking_rbo_audit(spark, sf_dir):
    """RANK-BIASED OVERLAP between the two retrieval legs (lexical BM25
    vs exact-cosine vector ranking, the hybrid_rrf_topk inputs) — the
    standard top-weighted ranking-agreement metric (Webber et al.,
    RBO): per depth d, the prefix agreement |A_d ∩ B_d| / d, and the
    truncated RBO_min running sum Σ (1-p)·p^(d-1)·agreement. Low RBO =
    the legs disagree where it matters (the top), i.e. fusion is doing
    real work; per-depth rows show WHERE they diverge.

    Scale/parity design: both legs are top-{RBO_DEPTH} relations before
    anything joins (retrieval economics — bounded regardless of corpus
    size); a doc's first-common depth is max(rank_a, rank_b), so
    overlap(d) is a cumulative count — no depth×doc range join; the
    geometric weights are PYTHON-COMPUTED double literals injected into
    both engines (libm pow is not cross-engine bit-stable); per-depth
    contributions round to 9dp before the fixed-order cumulative sum
    rounds to 6dp. The depth windows are bounded by construction
    ({RBO_DEPTH}-row calendar; global-window lint allowlisted).
    """
    from photon_spark.functions.similarity import brute_force_topk
    bm = _bm25_scored(spark, sf_dir)
    bm_top = (bm.orderBy(F.desc("bm25"), F.asc("doc_id"))
                .limit(RBO_DEPTH).select("doc_id", "bm25"))
    wb = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(wb).cast("long").alias("r_bm"))

    ann = brute_force_topk(
        _read_base(spark, sf_dir, "embeddings"),
        RRF_QUERY_ID, k=RBO_DEPTH)
    wa = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ann_rank = ann.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wa).cast("long").alias("r_ann"))

    fb = (bm_rank.join(ann_rank, "doc_id")
          .select(F.greatest("r_bm", "r_ann").alias("fb")))
    fbc = fb.groupBy("fb").agg(F.count(F.lit(1)).alias("cnt"))

    weights = spark.createDataFrame(_rbo_weights(), "depth long, w double")
    wd = (Window.orderBy("depth")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    j = (weights.join(fbc, weights.depth == fbc.fb, "left")
         .select("depth", "w",
                 F.coalesce("cnt", F.lit(0)).alias("add")))
    o = j.withColumn("overlap", F.sum("add").over(wd))
    o = o.withColumn(
        "contrib",
        F.round(F.col("w") * F.col("overlap") / F.col("depth"), 9))
    out = o.select(
        "depth",
        F.col("overlap").cast("long").alias("n_common"),
        F.round(F.col("overlap") / F.col("depth"), 6).alias("agreement"),
        F.round(F.sum("contrib").over(wd), 6).alias("rbo_min"))
    out._photon_cached = getattr(bm, "_photon_cached", [])
    return out


def _sql_ranking_rbo() -> str:
    ctes, scored = _sql_bm25_parts()
    wvals = ",\n         ".join(f"({d}, {w!r})" for d, w in _rbo_weights())
    return f"""
WITH {ctes},
bm_top AS (
  {scored}
  ORDER BY bm25 DESC, p.doc_id ASC
  LIMIT {RBO_DEPTH}
), bm_rank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm
  FROM bm_top
), ann_top AS (
  SELECT b.vec_id,
         round(list_cosine_similarity(b.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings b,
       (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QUERY_ID}) q
  WHERE b.vec_id != {RRF_QUERY_ID}
  ORDER BY cosine DESC, b.vec_id
  LIMIT {RBO_DEPTH}
), ann_rank AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r_ann
  FROM ann_top
), fbc AS (
  SELECT greatest(b.r_bm, a.r_ann) AS fb, count(*) AS cnt
  FROM bm_rank b JOIN ann_rank a USING (doc_id)
  GROUP BY 1
), wts(depth, w) AS (
  VALUES {wvals}
), o AS (
  SELECT wts.depth, wts.w,
         sum(coalesce(f.cnt, 0)) OVER (ORDER BY wts.depth
             ROWS UNBOUNDED PRECEDING) AS overlap
  FROM wts LEFT JOIN fbc f ON f.fb = wts.depth
), c AS (
  SELECT depth, overlap,
         round(w * overlap / depth, 9) AS contrib
  FROM o
)
SELECT depth, CAST(overlap AS BIGINT) AS n_common,
       round(overlap * 1.0 / depth, 6) AS agreement,
       round(sum(contrib) OVER (ORDER BY depth ROWS UNBOUNDED PRECEDING),
             6) AS rbo_min
FROM c
"""


# ----------------------------------------------- int8 gram matrix (PCA)

GRAM_DIM = 64      #: embedding dimension (data contract of the table)


def q_embedding_gram_int8(spark, sf_dir):
    """The distributed sufficient statistic for PCA / whitening: the
    gram matrix G = Σ q qᵀ over int8-quantized embeddings (symmetric
    per-vector scheme, similarity.quantize_error_cols) — upper triangle
    as (i, j, gram) rows.

    Quantizing first does two jobs at once: it is the 4× storage format
    the vectors live in at 100 TB anyway, and it makes G EXACT-integer —
    a float gram would re-associate partial sums and could never be
    hash-gated. The d×d result (2080 rows at d=64) is collected
    driver-side for the eigensolve; the corpus pass is one Arrow-batched
    numpy GEMM per partition (Q_batchᵀ Q_batch) + a (i,j)-keyed integer
    sum — embeddings never shuffle, only d² partials per batch.
    """
    import pandas as pd

    d = GRAM_DIM

    def gram_partials(batches):
        import numpy as np
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            assert X.shape[1] == d, f"dim contract: {X.shape[1]} != {d}"
            mx = np.max(np.abs(X), axis=1)
            scale = mx / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            Y = X / safe[:, None]
            Q = (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int64)
            Q[scale == 0.0] = 0
            G = Q.T @ Q
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({"i": (iu + 1).astype("int64"),
                                "j": (ju + 1).astype("int64"),
                                "gram": G[iu, ju]})

    e = _read_base(spark, sf_dir, "embeddings") \
                  .select("embedding")
    return (e.mapInPandas(gram_partials, schema="i long, j long, gram long")
             .groupBy("i", "j").agg(F.sum("gram").alias("gram")))


SQL_EMBEDDING_GRAM = f"""
WITH b AS (
  SELECT embedding::DOUBLE[] AS v,
         list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)),
                        'max') / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT CASE WHEN scale = 0
              THEN list_transform(v, x -> 0::BIGINT)
              ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
         END AS q
  FROM b
)
SELECT gi AS i, gj AS j, CAST(sum(q[gi] * q[gj]) AS BIGINT) AS gram
FROM q, generate_series(1, {GRAM_DIM}) s(gi),
     generate_series(1, {GRAM_DIM}) t(gj)
WHERE gi <= gj
GROUP BY 1, 2
"""


# --------------------------------------------- multi-source frontier BFS

#: BFS depth cap — the transitive-chaining radius worth auditing; a
#: near-dup cluster whose members sit ≥ this many hops from any
#: canonical candidate has almost certainly chained unrelated docs
BFS_MAX_HOPS = 4


def q_dup_graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS over the near-duplicate graph — the ITERATIVE
    traversal primitive (the recursive-CTE shape) the dup-graph family
    was missing: hop distance from each document to its nearest
    "locally canonical" seed (a vertex smaller than every neighbor —
    every component's true canonical, the min id, is one by
    construction). The hop distance is the TRANSITIVE-CHAINING RADIUS
    audit for banded MinHash dedup: A~B~C~D chains put D three hops
    from its canonical even though sim(A, D) may be near zero, so
    rows with hops ≥ 3 are exactly the "this cluster glued unrelated
    docs" candidates worth re-verifying before canonical selection
    collapses them.

    Algorithm: classic frontier BFS as {BFS_MAX_HOPS} chained
    DataFrame rounds — frontier ⋈ edges advances one hop, an anti-join
    against the visited set keeps first reachings only (min-hop by
    construction), each frontier persists so lineage stays linear
    (unpersisted iterative joins re-derive the whole prefix per round
    — the classic iterative-Spark trap). Per round the work is ONE
    hash join + one distinct + one anti-join on (id) rows only; at
    100 TB each round is frontier-sized, not graph-sized, and a
    production run adds the driver-side `if frontier.isEmpty(): break`
    early-exit this fixed-depth gated form omits (the gate keeps the
    job count deterministic). Consumes the shared PairTable; ids only.
    """
    from photon_spark import pair_cache
    from photon_spark.functions.dedup import _own_cache, bfs_hops
    pairs = pair_cache.near_dup_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("lo_id").alias("src"),
                          F.col("hi_id").alias("dst"))
                  .unionAll(pairs.select(F.col("hi_id").alias("src"),
                                         F.col("lo_id").alias("dst")))
                  .persist())
    # locally canonical seeds: no neighbor has a smaller id
    seeds = (edges.groupBy("src").agg(F.min("dst").alias("mn"))
                  .where(F.col("mn") > F.col("src"))
                  .select(F.col("src").alias("doc_id")))
    out = bfs_hops(edges, seeds, BFS_MAX_HOPS)
    return _own_cache(out, getattr(pairs, "_photon_cached", [])
                      + [edges])


def _sql_dup_graph_bfs() -> str:
    from photon_spark.queries_northstar import SQL_MINHASH_NEAR_DUPS
    return f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_NEAR_DUPS}),
edges AS (
  SELECT lo_id AS src, hi_id AS dst FROM pairs
  UNION ALL SELECT hi_id, lo_id FROM pairs
),
seeds AS (
  SELECT src AS doc_id FROM edges GROUP BY src HAVING min(dst) > src
),
bfs(doc_id, hops) AS (
  SELECT doc_id, 0 FROM seeds
  UNION
  SELECT e.dst, b.hops + 1
  FROM bfs b JOIN edges e ON e.src = b.doc_id
  WHERE b.hops < {BFS_MAX_HOPS}
)
SELECT doc_id, CAST(min(hops) AS BIGINT) AS hops
FROM bfs GROUP BY 1
"""


QUERIES = {
    "bm25_topk": q_bm25_topk,
    "events_decay_popularity": q_events_decay_popularity,
    "priority_sample": q_priority_sample,
    "pagerank_dup_graph": q_pagerank_dup_graph,
    "dup_graph_triangles": q_dup_graph_triangles,
    "dup_graph_link_predict": q_dup_graph_link_predict,
    "dup_graph_bfs_hops": q_dup_graph_bfs_hops,
    "hard_negative_mining": q_hard_negative_mining,
    "embedding_gram_int8": q_embedding_gram_int8,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "ranking_rbo_audit": q_ranking_rbo_audit,
    "feature_hash_vectors": q_feature_hash_vectors,
    "events_trending_users": q_events_trending_users,
}

ORACLES = {
    "bm25_topk": _sql_bm25(),
    "events_decay_popularity": SQL_EVENTS_DECAY_POPULARITY,
    "priority_sample": _sql_priority_sample(),
    "pagerank_dup_graph": _sql_pagerank(),
    "dup_graph_triangles": _sql_dup_graph_triangles(),
    "dup_graph_link_predict": _sql_dup_graph_link_predict(),
    "dup_graph_bfs_hops": _sql_dup_graph_bfs(),
    "hard_negative_mining": SQL_HARD_NEGATIVES,
    "embedding_gram_int8": SQL_EMBEDDING_GRAM,
    "hybrid_rrf_topk": _sql_hybrid_rrf(),
    "ranking_rbo_audit": _sql_ranking_rbo(),
    "feature_hash_vectors": _sql_feature_hash(),
    "events_trending_users": SQL_EVENTS_TRENDING_USERS,
}
