"""knn_graph: exactness vs the per-query brute force, graph shape
invariants, and block-count invariance (the blocking is a physical
choice — it must never change the result)."""

from pyspark.sql import functions as F

from photon_spark import generations
from photon_spark.functions import similarity


def test_knn_graph_matches_bruteforce_per_query(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = similarity.knn_graph(emb, k=3)
    rows = g.collect()
    ids = {r.id for r in rows}
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r.id, []).append((r.nbr, r.cosine))
    n = emb.count()
    assert len(ids) == n          # every vector has neighbors
    assert all(len(v) == 3 for v in by_id.values())
    assert all(r.id != r.nbr for r in rows)
    # spot-check 5 ids against the single-query exact top-k
    for qid in sorted(ids)[:5]:
        exact = similarity.brute_force_topk(emb, qid, k=3).collect()
        assert [(e.vec_id, e.cosine) for e in exact] == by_id[qid]


def test_knn_graph_block_count_invariant(spark, sf_dir):
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where(F.col("vec_id") < 60))
    a = set(map(tuple, similarity.knn_graph(emb, k=2, n_blocks=3).collect()))
    b = set(map(tuple, similarity.knn_graph(emb, k=2, n_blocks=7).collect()))
    assert a == b


def test_dup_graph_degree_handshake(spark, sf_dir):
    from photon_spark.functions import dedup
    from photon_spark.queries_northstar import q_dup_graph_degree
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_pairs = dedup.minhash_near_duplicates(docs).count()
    rows = q_dup_graph_degree(spark, sf_dir)
    got = rows.collect()
    # handshake lemma: sum of degrees == 2 * |edges|
    assert sum(r.degree * r.n_docs for r in got) == 2 * n_pairs
    dedup.release_cache(rows)


def test_knn_graph_ivf_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id, r.nbr)
             for r in similarity.knn_graph(emb, k=3).collect()}
    approx = {(r.id, r.nbr)
              for r in similarity.knn_graph_ivf(
                  emb, k=3, n_cells=8, n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    # sf0.001 embeddings are near-uniform, so cells barely concentrate
    # neighbors; the floor is "meaningfully above the 3-of-8 = 0.375
    # random-manifest baseline", not a production recall claim (larger
    # corpora with real cluster structure probe far better)
    assert recall >= 0.45, recall
    # ids covered: every vector still gets k neighbors from its manifest
    assert {i for i, _ in approx} == {i for i, _ in exact}


def test_knn_graph_from_cells_equals_fit_then_build(spark, sf_dir):
    """The staged entry (pre-fitted index) must be value-identical to
    the one-shot knn_graph_ivf — the round-11 staging split cannot
    change results."""
    from photon_spark.functions.clustering import kmeans_fit
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one_shot = set(map(tuple, similarity.knn_graph_ivf(
        emb, k=3, n_cells=8, n_probe=3).collect()))
    assigned, cents = kmeans_fit(emb, k=8, iters=2)
    staged = set(map(tuple, similarity.knn_graph_from_cells(
        assigned, cents, emb, k=3, n_probe=3).collect()))
    assert staged == one_shot


def test_staged_ivf_reuses_and_invalidates(spark, sf_dir, tmp_path):
    """_staged_ivf fits once per (corpus stamp, params): a second call
    for the same corpus returns the SAME store without re-fitting;
    regenerating the corpus in place (new stamp) re-fits AND evicts the
    superseded store immediately (not at interpreter exit)."""
    import os
    import shutil
    from photon_spark import queries_northstar as ns

    # copy the corpus so the stamp is ours to mutate
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
    corpus = os.path.join(os.path.abspath(str(d)), "embeddings.parquet")
    n = spark.read.parquet(corpus).count()
    try:
        p1 = ns._staged_ivf(spark, str(d))
        assert corpus in ns._IVF_INDEXES
        # the staged store IS the materialized generation layout: the
        # base batch holds the whole corpus, centroids persist with it
        idx = spark.read.parquet(generations.data_dir(p1))
        assert idx.count() == n and "cell_id" in idx.columns
        assert len(similarity.load_ivf_centroids(p1)) > 0
        p2 = ns._staged_ivf(spark, str(d))
        assert p2 == p1  # reused, no re-fit
        # in-place regeneration: bump the stamp (mtime changes, file
        # stays valid) — a fresh index must be fitted and the
        # superseded store deleted on the spot
        os.utime(d / "embeddings.parquet", (1, 1))
        p3 = ns._staged_ivf(spark, str(d))
        assert p3 != p1
        assert not os.path.exists(p1)  # evicted eagerly
        assert ns._IVF_INDEXES[corpus][1] == p3
    finally:
        got = ns._IVF_INDEXES.pop(corpus, None)
        if got is not None:
            shutil.rmtree(got[1], ignore_errors=True)


def test_ivf_store_append_visible_to_graph(spark, sf_dir, tmp_path):
    """ONE index lifecycle: a kNN-graph build over the materialized
    store's live generation sees vectors appended after the fit
    (append_to_ivf_index), both as graph nodes and as candidate
    neighbors — the store probes, appends and graph builds share."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    extra = emb.where(F.col("vec_id") % 5 == 0)
    base_ids = {r.vec_id for r in base.select("vec_id").collect()}
    extra_ids = {r.vec_id for r in extra.select("vec_id").collect()}
    idx = str(tmp_path / "idx")
    cents = similarity.materialize_ivf_index(base, idx, n_cells=8)
    g1 = similarity.knn_graph_from_index(spark, idx, k=2, n_probe=3)
    assert {r.id for r in g1.collect()} == base_ids
    similarity.append_to_ivf_index(spark, idx, cents, extra, "b1")
    rows2 = similarity.knn_graph_from_index(spark, idx, k=2,
                                            n_probe=3).collect()
    assert {r.id for r in rows2} == base_ids | extra_ids
    # appended vectors also serve as candidate neighbors of base nodes
    assert any(r.nbr in extra_ids for r in rows2 if r.id in base_ids)


def test_knn_label_eval_matches_numpy(spark, sf_dir):
    # Full numpy recompute: exact rounded cosines, k nearest with id
    # tie-break, majority vote with lowest-label tie-break.
    import numpy as np
    from collections import Counter
    from photon_spark.queries_northstar import (KNN_EVAL_K,
                                                q_knn_label_eval)
    out = {r["label"]: r for r in q_knn_label_eval(spark, sf_dir).collect()}
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
                .select("vec_id", "embedding", "label").collect()
    rows.sort(key=lambda r: r["vec_id"])
    vid = np.array([r["vec_id"] for r in rows])
    lab = np.array([r["label"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    per_label = {}
    for i in range(len(vid)):
        cand = [(round(float(sims[i, j]), 6), vid[j], lab[j])
                for j in range(len(vid)) if j != i]
        cand.sort(key=lambda t: (-t[0], t[1]))
        votes = Counter(l for _, _, l in cand[:KNN_EVAL_K])
        best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
        # tie -> LOWEST label: max over (count, -label)
        pred = best[0]
        n, ok = per_label.get(lab[i], (0, 0))
        per_label[int(lab[i])] = (n + 1, ok + (1 if pred == lab[i] else 0))
    assert set(out) == set(per_label)
    for l, (n, ok) in per_label.items():
        assert out[l]["n_vectors"] == n
        assert out[l]["n_correct"] == ok
        assert abs(out[l]["knn_accuracy"] - ok / n) < 2e-6


def test_label_eval_composes_on_ivf_graph(spark, sf_dir):
    # The documented scale path: knn_label_eval's consumer runs unchanged
    # on knn_graph_ivf's relation (same schema), and because edge recall
    # is floor-pinned above, the per-vector predictions must largely
    # agree with the exact tier — pin that agreement so the IVF manifest
    # stays a drop-in default at scale, with the O(n²) exact tier
    # explicitly the small-n/audit configuration.
    from photon_spark.queries_northstar import label_eval_from_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = label_eval_from_graph(
        similarity.knn_graph(emb, k=3), emb).collect()
    approx = label_eval_from_graph(
        similarity.knn_graph_ivf(emb, k=3, n_cells=8, n_probe=3),
        emb).collect()
    ex = {r["label"]: r for r in exact}
    ap = {r["label"]: r for r in approx}
    assert set(ex) == set(ap)  # every label still evaluated
    n = sum(r["n_vectors"] for r in exact)
    assert sum(r["n_vectors"] for r in approx) == n  # every vector voted
    # aggregate accuracy within 10pp of exact on near-uniform sf0.001
    # embeddings (real clustered corpora agree far more tightly)
    acc_ex = sum(r["n_correct"] for r in exact) / n
    acc_ap = sum(r["n_correct"] for r in approx) / n
    assert abs(acc_ex - acc_ap) <= 0.10, (acc_ex, acc_ap)


def test_ivf_index_append_identity_and_retry(spark, sf_dir, tmp_path):
    # FAISS-add contract: index(A) + add(B) with A's FIXED centroids is
    # row-identical to assigning A∪B with those centroids; a retried
    # add overwrites its own batch partition (no double inserts); cell
    # pruning stays intact across base ∪ batches.
    import os
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.where(F.col("vec_id") % 3 != 0)
    b = emb.where(F.col("vec_id") % 3 == 0)
    path = os.path.join(str(tmp_path), "ivf")
    cents = similarity.materialize_ivf_index(a, path, n_cells=8)
    similarity.append_to_ivf_index(spark, path, cents, b, tag="b1")

    got = {(r["vec_id"], r["cell_id"]) for r in
           spark.read.parquet(path).select("vec_id", "cell_id").collect()}
    want = {(r["vec_id"], r["cell_id"]) for r in
            similarity.ivf_assign_cells(emb, cents).collect()}
    assert got == want and len(got) == emb.count()

    # retry the same batch verbatim — state unchanged
    similarity.append_to_ivf_index(spark, path, cents, b, tag="b1")
    again = {(r["vec_id"], r["cell_id"]) for r in
             spark.read.parquet(path).select("vec_id",
                                             "cell_id").collect()}
    assert again == got

    # probes over the composed index still partition-prune on cell_id
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    top = similarity.ivf_topk_from_index(spark, path, cents, qv, k=5,
                                         n_probe=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    assert len(top.collect()) == 5


def test_mutual_filter_composes_on_ivf_manifest(spark, sf_dir):
    """The production-scale path for mutual-kNN: the same reversed-pair
    self-join applied to the IVF-pruned manifest instead of the exact
    tier. Pins (a) the composition works unchanged on the approximate
    graph and (b) its survivor set is a subset-with-high-overlap of the
    exact mutual pairs — the recall argument for serving the mutual
    filter off IVF at 100 TB."""
    from photon_spark.queries_northstar import (q_mutual_knn_pairs,
                                                q_mutual_knn_pairs_ivf)

    ivf_df = q_mutual_knn_pairs_ivf(spark, sf_dir)
    rows = ivf_df.collect()
    got_ivf = {(r["lo_id"], r["hi_id"]) for r in rows}
    exact = {(r["lo_id"], r["hi_id"])
             for r in q_mutual_knn_pairs(spark, sf_dir).collect()}
    # composition mechanics: non-empty, unique, lo < hi
    assert got_ivf and len(rows) == len(got_ivf)
    assert all(lo < hi for lo, hi in got_ivf)
    # the gated row's plan runs the PRUNED tier: its GEMM block pairs
    # are filtered through the broadcast manifest relation (the
    # createDataFrame literal shows as ExistingRDD; the exact tier's
    # plan has none)
    plan = (ivf_df._jdf.queryExecution().executedPlan().toString())
    assert "ExistingRDD" in plan
    # recall honesty: a mutual pair needs BOTH directed edges to
    # survive cell pruning, so mutual-recall compounds roughly as
    # per-edge-recall² (~0.75² ≈ 0.57 at this probe setting) — pin the
    # floor so a pruning regression is visible, and pin the count so a
    # fan-out explosion is too
    recall = len(got_ivf & exact) / len(exact)
    assert recall >= 0.5, (recall, len(got_ivf), len(exact))
    assert len(got_ivf) <= 1.2 * len(exact)


def _drifted_fixture(spark):
    """Base corpus: 4 tight modes along e0..e3, with ids 0..3 planted
    as the mode exemplars (the lowest-id training convention makes them
    the stale centroids). Drifted batch: a mode along e6 the stale
    centroids never saw, with id 4 planted as its exemplar so a fresh
    n_cells=5 retrain picks it up."""
    import numpy as np
    rng = np.random.RandomState(7)
    dim = 8

    def vec(center, spread=0.05):
        return [float(x) for x in center + rng.normal(0, spread, dim)]

    rows_base, rows_drift = [], []
    centers = []
    for c in range(4):
        center = np.zeros(dim)
        center[c] = 1.0
        centers.append(center)
        rows_base.append((c, vec(center, 0.0)))  # exemplar, id c
        for j in range(50):
            rows_base.append((1000 + c * 50 + j, vec(center)))
    drift_center = np.zeros(dim)
    drift_center[6] = 1.0
    rows_drift.append((4, vec(drift_center, 0.0)))  # exemplar, id 4
    for j in range(99):
        rows_drift.append((100 + j, vec(drift_center)))
    schema = "vec_id long, embedding array<double>"
    return (spark.createDataFrame(rows_base, schema),
            spark.createDataFrame(rows_drift, schema))


def test_ivf_retrain_and_swap(spark, tmp_path):
    """The retrain-and-swap maintenance op (VERDICT r8 #4): staleness
    the audit measures becomes an ACTION — retrain over base+appends,
    commit a complete new generation via the atomic pointer, recall on
    the drifted slice recovers; a probe resolved during the retrain
    reads the OLD generation; a crash mid-retrain leaves the old
    generation live and a re-run converges."""
    import os

    import numpy as np
    import pytest

    base, drift = _drifted_fixture(spark)
    path = os.path.join(str(tmp_path), "ivf")
    cents0 = similarity.materialize_ivf_index(base, path, n_cells=4)
    assert [c for c, _ in cents0] == [0, 1, 2, 3]  # the planted exemplars
    similarity.append_to_ivf_index(spark, path, cents0, drift, tag="d1")

    q = [0.0] * 8
    q[6] = 1.0  # a drifted-mode query

    # exact ground truth: driver-side brute force over the merged corpus
    rows = base.unionByName(drift).collect()
    def cos(v):
        v = np.asarray(v)
        return float(v @ np.asarray(q) / (np.linalg.norm(v) or 1.0))
    exact10 = {r["vec_id"] for r in
               sorted(rows, key=lambda r: (-round(cos(r["embedding"]), 6),
                                           r["vec_id"]))[:10]}

    def recall(cents, n_probe=1):
        got = {r["vec_id"] for r in similarity.ivf_topk_from_index(
            spark, path, cents, q, k=10, n_probe=n_probe).collect()}
        return len(got & exact10) / 10

    # stale centroids have no cell near the drifted mode: drift vectors
    # scatter by noise across the 4 base cells, so a 1-probe query sees
    # only ~1/4 of them
    stale_recall = recall(cents0)
    assert stale_recall <= 0.6, stale_recall

    old_dir = generations.data_dir(path)
    # probe-during-retrain: build the plan against the OLD pointer now
    pre = similarity.ivf_topk_from_index(spark, path, None, q, k=10,
                                         n_probe=1)

    cents1 = similarity.retrain_ivf_index(spark, path, n_cells=5)
    assert generations.live(path)[0] == 1
    assert similarity.load_ivf_centroids(path) == cents1
    assert [c for c, _ in cents1] == [0, 1, 2, 3, 4]  # drift exemplar in

    fresh_recall = recall(None)  # live-generation centroids
    assert fresh_recall == 1.0 and fresh_recall > stale_recall

    # the index holds every vector exactly once after retrain
    n = spark.read.parquet(generations.data_dir(path)).count()
    assert n == base.count() + drift.count()

    # crash mid-retrain: fail the pointer swap — the new dir exists
    # but the OLD generation stays live; a re-run converges
    # (the generation commit's only os.replace is the pointer swap, so
    # patching the os module intercepts exactly that)
    real_replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) == "_generation":
            raise OSError("injected crash before pointer swap")
        return real_replace(src, dst)

    os.replace = boom
    try:
        with pytest.raises(OSError, match="injected"):
            similarity.retrain_ivf_index(spark, path, n_cells=5)
    finally:
        os.replace = real_replace
    assert generations.live(path)[0] == 1  # old gen live
    assert recall(None) == fresh_recall  # reads unaffected
    cents2 = similarity.retrain_ivf_index(spark, path, n_cells=5)
    assert generations.live(path)[0] == 2
    assert cents2 == cents1  # same corpus, same deterministic train
    # the crashed orphan and the superseded generation are swept
    gens = [d for d in os.listdir(path) if d.startswith("gen=")]
    assert gens == [generations.live(path)[1]]
    assert recall(None) == fresh_recall
