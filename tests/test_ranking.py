"""Retrieval & ranking operators (queries_ranking.py): naive-recompute
equivalence and plan pins."""

import math

from pyspark.sql import functions as F

from photon_spark import queries_ranking as qr


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------------- BM25

def test_bm25_matches_naive_recompute(spark, sf_dir):
    got = {r["doc_id"]: r["bm25"]
           for r in qr.q_bm25_topk(spark, sf_dir).collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                     .select("doc_id", "text").collect()
    toks = {r["doc_id"]: (r["text"] or "").strip(" ").split()
            for r in docs}
    toks = {d: [t.lower() for t in ts] for d, ts in toks.items() if ts}
    n = len(toks)
    total = sum(len(ts) for ts in toks.values())
    k1, b = qr.BM25_K1, qr.BM25_B
    want = {}
    for d, ts in toks.items():
        s = 0.0
        hit = False
        for term in qr.BM25_TERMS:
            tf = sum(1 for t in ts if t == term)
            df_t = sum(1 for ts2 in toks.values() if term in ts2)
            hit = hit or tf > 0
            idf = float(2 * n - 2 * df_t + 1) / float(2 * df_t + 1)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + (k1 * (1.0 - b) + (k1 * b * float(len(ts))
                                        * float(n) / float(total))))
        if hit:
            want[d] = s
    top = sorted(want, key=lambda d: (-want[d], d))[:qr.BM25_TOPK]
    assert set(got) == set(top)
    for d in top:
        assert math.isclose(got[d], want[d], rel_tol=0, abs_tol=5e-7)


def test_bm25_plan_is_take_ordered(spark, sf_dir):
    plan = _plan(qr.q_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------ decay

def test_decay_popularity_matches_naive(spark, sf_dir):
    got = {r["event_type"]: (r["n_events"], r["decayed_units"])
           for r in qr.q_events_decay_popularity(spark, sf_dir).collect()}

    from photon_spark.queries import _t
    rows = _t(spark, sf_dir, "events").select("event_type", "ts").collect()
    want: dict = {}
    for r in rows:
        age_days = (qr.DECAY_REF_NS - r["ts"]) // qr.DAY_NS
        step = max(0, min(age_days // qr.DECAY_STEP_DAYS,
                          qr.DECAY_MAX_STEP))
        w = 1 << (qr.DECAY_MAX_STEP - step)
        n, u = want.get(r["event_type"], (0, 0))
        want[r["event_type"]] = (n + 1, u + w)
    assert got == want


def test_decay_weight_bounds(spark, sf_dir):
    # decayed_count ∈ (n_events * 2^-MAX_STEP, n_events]
    for r in qr.q_events_decay_popularity(spark, sf_dir).collect():
        assert r["decayed_count"] <= r["n_events"]
        assert r["decayed_count"] >= r["n_events"] / qr.DECAY_SCALE
        assert r["decayed_units"] == round(r["decayed_count"]
                                           * qr.DECAY_SCALE)


# ------------------------------------------------- priority sampling

def test_priority_sample_matches_naive(spark, sf_dir):
    got = {(r["source"], r["rank"]): r["doc_id"]
           for r in qr.q_priority_sample(spark, sf_dir).collect()}

    import hashlib
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                     .select("source", "doc_id", "n_chars").collect()
    by_src: dict = {}
    for r in docs:
        u = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15],
                16) + 1
        by_src.setdefault(r["source"], []).append(
            (-(r["n_chars"] / u), r["doc_id"]))
    for src, items in by_src.items():
        items.sort()
        for i, (_, doc_id) in enumerate(items[:qr.PRIO_PER_SOURCE], 1):
            assert got[(src, i)] == doc_id


def test_priority_sample_window_group_limit(spark, sf_dir):
    plan = _plan(qr.q_priority_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------- pagerank

def test_pagerank_matches_exact_integer_recompute(spark, sf_dir):
    got = {r["doc_id"]: r["rank_e12"]
           for r in qr.q_pagerank_dup_graph(spark, sf_dir).collect()}

    from photon_spark.functions import dedup
    pairs = dedup.minhash_near_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    edges = []
    for r in pairs.select("lo_id", "hi_id").collect():
        edges.append((r["lo_id"], r["hi_id"]))
        edges.append((r["hi_id"], r["lo_id"]))
    dedup.release_cache(pairs)
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    rank = {v: qr.PR_TOTAL // n for v in deg}
    jump = (100 - qr.PR_DAMP_NUM) * qr.PR_TOTAL // (100 * n)
    for _ in range(qr.PR_ITERS):
        msum: dict = {}
        for s, d in edges:
            msum[d] = msum.get(d, 0) + rank[s] // deg[s]
        rank = {v: jump + (qr.PR_DAMP_NUM * m) // 100
                for v, m in msum.items()}
    assert got == rank


def test_pagerank_mass_roughly_conserved(spark, sf_dir):
    rows = qr.q_pagerank_dup_graph(spark, sf_dir).collect()
    total = sum(r["rank_e12"] for r in rows)
    # floor divisions only ever LOSE mass, ≤ ~1 unit per div per node
    assert 0.9 * qr.PR_TOTAL < total <= qr.PR_TOTAL
    assert all(r["rank_e12"] > 0 for r in rows)


# ---------------------------------------------------- hard negatives

def test_hard_negatives_match_numpy(spark, sf_dir):
    import numpy as np
    rows = qr.q_hard_negative_mining(spark, sf_dir).collect()
    emb = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64),
                         r["label"])
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                             .collect()}
    got: dict = {}
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(got) == set(qr.HN_ANCHORS)
    for a in qr.HN_ANCHORS:
        qv, ql = emb[a]
        scored = sorted(
            (-round(float(np.dot(v, qv)
                          / (np.linalg.norm(v) * np.linalg.norm(qv))), 6), i)
            for i, (v, l) in emb.items() if l != ql)
        want = [i for _, i in scored[:qr.HN_K]]
        assert got[a] == want


# --------------------------------------------------- int8 gram matrix

def test_gram_int8_equals_numpy_direct(spark, sf_dir):
    import numpy as np
    rows = qr.q_embedding_gram_int8(spark, sf_dir).collect()
    X = np.array([np.asarray(r["embedding"], dtype=np.float64)
                  for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                                    .collect()])
    mx = np.max(np.abs(X), axis=1)
    scale = np.where(mx == 0, 1.0, mx / 127.0)
    Y = X / scale[:, None]
    Q = (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int64)
    G = Q.T @ Q
    assert len(rows) == qr.GRAM_DIM * (qr.GRAM_DIM + 1) // 2
    for r in rows:
        assert r["gram"] == G[r["i"] - 1, r["j"] - 1]


def test_gram_int8_drives_pca(spark, sf_dir):
    """The collected triangle reconstructs a PSD matrix whose eigensolve
    is the driver-side PCA step."""
    import numpy as np
    rows = qr.q_embedding_gram_int8(spark, sf_dir).collect()
    d = qr.GRAM_DIM
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["gram"]
        G[r["j"] - 1, r["i"] - 1] = r["gram"]
    w = np.linalg.eigvalsh(G)
    assert w[0] > -1e-6 * abs(w[-1])          # PSD up to fp noise
    assert abs(w.sum() - np.trace(G)) < 1e-6 * abs(w.sum())
    assert 0 < w[-1] / w.sum() <= 1           # top explained variance


# ------------------------------------- decay: incremental maintenance

# ----------------------------------------------------- RRF fusion

def test_rrf_matches_recompute_from_legs(spark, sf_dir):
    got = qr.q_hybrid_rrf_topk(spark, sf_dir).collect()
    bm = qr._bm25_scored(spark, sf_dir).collect()
    bm_sorted = sorted(bm, key=lambda r: (-r["bm25"], r["doc_id"]))
    bm_rank = {r["doc_id"]: i + 1
               for i, r in enumerate(bm_sorted[:qr.RRF_DEPTH])}
    from photon_spark.functions.similarity import brute_force_topk
    ann = brute_force_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        qr.RRF_QUERY_ID, k=qr.RRF_DEPTH).collect()
    ann_sorted = sorted(ann, key=lambda r: (-r["cosine"], r["vec_id"]))
    ann_rank = {r["vec_id"]: i + 1 for i, r in enumerate(ann_sorted)}
    fused = {}
    for d in set(bm_rank) | set(ann_rank):
        s = 0.0
        if d in bm_rank:
            s += 1.0 / (qr.RRF_K + bm_rank[d])
        if d in ann_rank:
            s += 1.0 / (qr.RRF_K + ann_rank[d])
        fused[d] = round(s, 9)
    want = sorted(fused, key=lambda d: (-fused[d], d))[:qr.RRF_TOPK]
    assert [r["doc_id"] for r in got] == want
    for r in got:
        assert r["rrf"] == fused[r["doc_id"]]
        assert r["rank_bm25"] == bm_rank.get(r["doc_id"])
        assert r["rank_ann"] == ann_rank.get(r["doc_id"])


# ------------------------------------------------- feature hashing

def test_feature_hash_matches_python(spark, sf_dir):
    import hashlib
    # gated `vec` is the ','-joined fixed-width rendering (driver
    # scalar-primitive rule); parse it back to ints for the exact pin
    rows = {r["doc_id"]: ([int(x) for x in r["vec"].split(",")],
                          r["l1_mass"])
            for r in qr.q_feature_hash_vectors(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                     .where(F.col("doc_id") % qr.FH_SAMPLE_MOD == 0) \
                     .select("doc_id", "text").collect()
    assert rows
    for r in docs:
        t = (r["text"] or "").strip(" ")
        toks = [x.lower() for x in t.split()] if t else []
        if not toks:
            assert r["doc_id"] not in rows
            continue
        vec = [0] * qr.FH_DIM
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            sign = 1 if h % (2 * qr.FH_DIM) >= qr.FH_DIM else -1
            vec[h % qr.FH_DIM] += sign
        got_vec, got_l1 = rows[r["doc_id"]]
        assert got_vec == vec
        # l1_mass sums per-BUCKET magnitudes (post-cancellation)
        assert got_l1 == sum(abs(v) for v in vec)


def test_trending_users_matches_naive(spark, sf_dir):
    got = {(r["event_type"], r["rank"]): (r["user_id"],
                                          r["decayed_units"])
           for r in qr.q_events_trending_users(spark, sf_dir).collect()}
    from photon_spark.queries import _t
    rows = _t(spark, sf_dir, "events") \
        .select("event_type", "user_id", "ts").collect()
    per: dict = {}
    for r in rows:
        age = (qr.DECAY_REF_NS - r["ts"]) // qr.DAY_NS
        step = min(age // qr.DECAY_STEP_DAYS, qr.DECAY_MAX_STEP)
        w = 1 << (qr.DECAY_MAX_STEP - step)
        k = (r["event_type"], r["user_id"])
        per[k] = per.get(k, 0) + w
    by_type: dict = {}
    for (t, u), units in per.items():
        by_type.setdefault(t, []).append((-units, u))
    for t, lst in by_type.items():
        lst.sort()
        for i, (nu, u) in enumerate(lst[:qr.TRENDING_K], 1):
            assert got[(t, i)] == (u, -nu)


def test_decay_step_clamped_for_future_events(spark, tmp_path):
    # A future-dated/late event (ts > DECAY_REF_NS) must get step 0 and
    # the MAX weight — not a negative step that inflates the weight past
    # 2^MAX_STEP (and, ~128 future days out, wraps Spark's 32-bit
    # shiftleft while DuckDB's BIGINT shift does not, splitting the hash
    # gate). Pins the greatest(0, least(...)) clamp of the gated row.
    day = qr.DAY_NS
    rows = [
        ("click", 7, qr.DECAY_REF_NS + 3 * day),       # slightly future
        ("click", 8, qr.DECAY_REF_NS + 200 * day),     # wrap territory
        ("click", 9, qr.DECAY_REF_NS - 1),             # now → step 0
        ("click", 10, qr.DECAY_REF_NS - 100 * day),    # past → clamp max
    ]
    spark.createDataFrame(
        rows, "event_type string, user_id long, ts long").write.parquet(
        str(tmp_path / "events.parquet"))
    summary = qr.q_events_decay_popularity(spark, str(tmp_path)).collect()
    # 3 events at max weight + 1 at min weight, exactly
    assert [(r["n_events"], r["decayed_units"]) for r in summary] == [
        (4, 3 * qr.DECAY_SCALE + 1)]


def test_dup_graph_triangles_matches_naive(spark, sf_dir):
    # Per-doc triangle participation recomputed by brute-force triangle
    # enumeration over the SAME mined pair graph: every (a,b,c) with all
    # three edges present bumps all three vertices once.
    from photon_spark.functions import dedup
    got = {r["doc_id"]: (r["n_triangles"], r["degree"])
           for r in qr.q_dup_graph_triangles(spark, sf_dir).collect()}
    pairs = dedup.minhash_near_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    edges = {(p["lo_id"], p["hi_id"])
             for p in pairs.select("lo_id", "hi_id").collect()}
    dedup.release_cache(pairs)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per: dict = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # (a,b) sorted lo<hi; c>b names each triangle once
                for v in (a, b, c):
                    per[v] = per.get(v, 0) + 1
    assert got == {v: (n, len(adj[v])) for v, n in per.items()}


def test_dup_graph_triangles_orientation_counts_each_once(spark):
    # A 4-clique plus a pendant vertex: the degree-ordered forward join
    # must find exactly C(4,3)=4 triangles, 3 per clique vertex, 0 for
    # the pendant — independent of id order.
    import photon_spark.pair_cache as pc
    rows = [(10, 20), (10, 30), (10, 40), (20, 30), (20, 40), (30, 40),
            (40, 99)]
    df = spark.createDataFrame(rows, "lo_id long, hi_id long") \
              .withColumn("jaccard", F.lit(1.0))
    orig = pc.near_dup_pairs
    pc.near_dup_pairs = lambda *_a, **_k: df
    try:
        got = {r["doc_id"]: r["n_triangles"]
               for r in qr.q_dup_graph_triangles(spark, "unused").collect()}
    finally:
        pc.near_dup_pairs = orig
    assert got == {10: 3, 20: 3, 30: 3, 40: 3}


# ------------------------------------------------- multi-source BFS

def test_bfs_hops_constructed_graph(spark):
    """bfs_hops on a hand-built graph: two components — a 5-chain
    1-2-3-4-5 plus a triangle {10,11,12} with a pendant 13 — seeds are
    the locally-canonical vertices (1 and 10), hop distances are the
    known BFS distances, and a vertex past the depth cap is absent."""
    from photon_spark.functions.dedup import bfs_hops

    und = [(1, 2), (2, 3), (3, 4), (4, 5),
           (10, 11), (10, 12), (11, 12), (12, 13)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long")
    seeds = (edges.groupBy("src").agg(F.min("dst").alias("mn"))
                  .where(F.col("mn") > F.col("src"))
                  .select(F.col("src").alias("doc_id")))
    assert {r["doc_id"] for r in seeds.collect()} == {1, 10}

    got = {r["doc_id"]: r["hops"]
           for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3,          # 5 is 4 hops: cut
                   10: 0, 11: 1, 12: 1, 13: 2}

    # depth 4 reaches the chain's far end
    got2 = {r["doc_id"]: r["hops"]
            for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    assert got2[5] == 4 and len(got2) == 9


def test_bfs_min_hop_over_multiple_seeds(spark):
    """A vertex reachable from two seeds lands at the MIN distance, and
    a seed reachable from another seed stays at hops 0."""
    from photon_spark.functions.dedup import bfs_hops

    und = [(1, 2), (2, 3), (3, 4), (4, 6), (6, 5)]  # 5 and 1 both seeds
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long")
    seeds = spark.createDataFrame([(1,), (5,)], "doc_id long")
    got = {r["doc_id"]: r["hops"]
           for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    # 6 is 4 hops from seed 1 but only 1 from seed 5
    assert got[6] == 1 and got[4] == 2 and got[1] == 0 and got[5] == 0
