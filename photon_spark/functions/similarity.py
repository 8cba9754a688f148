"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k against a query vector — one
  scan, no shuffle for the distance computation, TakeOrdered for the top-k.
  The correctness baseline.
- ``lsh_topk``: random-hyperplane LSH bucketing — candidates share the
  query's signature prefix; distance is computed only for candidates. The
  100 TB path: the scan prunes to matching buckets (partition the table by
  signature prefix at write time to get partition pruning).
- ``ivf_topk``: IVF-style coarse quantization with deterministic centroid
  selection — probes the nearest cells only.

All vector math uses built-in higher-order functions (zip_with/aggregate),
computed in float64; no Python in the distance loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from photon_spark import generations


def dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b) -> Column:
    """Cosine similarity in float64 (elements cast up before multiply)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return dot(ad, bd) / (norm(ad) * norm(bd))


def _query_vector(df: DataFrame, id_col: str, vec_col: str, query_id: int):
    row = df.where(F.col(id_col) == query_id).select(vec_col).first()
    if row is None:
        raise ValueError(f"query vector {query_id} not found")
    return [float(x) for x in row[0]]


def brute_force_topk(df: DataFrame, query_vec: list[float] | int, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     exclude_query: bool = True,
                     predicate: Column | None = None) -> DataFrame:
    """Exact top-k by cosine. ``query_vec`` is a literal vector or an id to
    look up. Plan: scan → per-row cosine (codegen) → TakeOrderedAndProject
    (k rows per partition reduced at the driver — no full sort, no shuffle
    of the table).

    ``predicate``: optional metadata filter (hybrid / filtered vector
    search). Applied BEFORE the distance computation so it pushes into
    the scan — filter-then-score, never score-then-filter; with the
    table partitioned by the filter column this is partition pruning."""
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(df, id_col, vec_col, query_vec)
    if predicate is not None:
        df = df.where(predicate)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = df.select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
    if exclude_query and qid is not None:
        out = out.where(F.col(id_col) != qid)
    # Deterministic tie-break on id so the oracle's ORDER BY agrees.
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# ----------------------------------------------------------------- LSH (RP)

def _plane_coeff(plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    derived from md5(plane:dim) — reproducible across engines and runs,
    no RNG state."""
    h = F.md5(F.lit(f"{plane}:{dim}"))
    # first 8 hex chars → uint32 → scale to [-1, 1)
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    return u / F.lit(2147483648.0) - F.lit(1.0)


def _coeff_py(plane: int, i: int) -> float:
    """Driver-side twin of :func:`_rand_from_idx` — identical md5-derived
    coefficient values, computed once instead of per element per row."""
    import hashlib
    h = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()
    return int(h[:8], 16) / 2147483648.0 - 1.0


def rp_signature(vec_col, n_planes: int = 8, dim: int | None = None) -> Column:
    """Random-hyperplane sign signature (int bitmask, n_planes bits).

    With ``dim`` (the vector length, usually known from the query vector)
    the hyperplane coefficients become literal arrays and each plane is a
    single multiply-add fold; without it the coefficients are derived
    per element with md5 in the plan (engine-portable but ~10× slower —
    only for schema-unknown callers).
    """
    v = F.transform(vec_col if isinstance(vec_col, Column) else F.col(vec_col),
                    lambda x: x.cast("double"))
    sig = F.lit(0)
    if dim is not None:
        for p in range(n_planes):
            coeffs = F.array(*[F.lit(_coeff_py(p, i)) for i in range(dim)])
            proj = F.aggregate(F.zip_with(v, coeffs, lambda x, c: x * c),
                               F.lit(0.0), lambda acc, t: acc + t)
            sig = sig + F.when(proj >= 0, F.lit(1 << p)).otherwise(0)
        return sig
    idx = F.sequence(F.lit(0), F.size(v) - 1)
    for p in range(n_planes):
        proj = F.aggregate(
            idx, F.lit(0.0),
            lambda acc, i: acc + F.element_at(v, (i + 1).cast("int"))
            * _rand_from_idx(p, i))
        sig = sig + F.when(proj >= 0, F.lit(1 << p)).otherwise(0)
    return sig


def _rand_from_idx(plane: int, i: Column) -> Column:
    """Coefficient for (plane, dim i) computed from md5 — engine-portable."""
    h = F.md5(F.concat(F.lit(f"{plane}:"), i.cast("string")))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    return u / F.lit(2147483648.0) - F.lit(1.0)


def lsh_topk(df: DataFrame, query_vec: list[float] | int, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 6, probe_hamming: int = 2) -> DataFrame:
    """Approximate top-k: restrict the scan to rows whose RP signature is
    within ``probe_hamming`` bits of the query's, then exact cosine on the
    survivors. With B buckets this touches ~n/B * (1 + planes) rows.

    At 100 TB the signature is a persisted partition column → bucket probe
    = partition pruning, not a scan."""
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(df, id_col, vec_col, query_vec)

    # Query signature computed driver-side with the same md5 coefficients.
    qsig = 0
    for p in range(n_planes):
        proj = sum(float(x) * _coeff_py(p, i)
                   for i, x in enumerate(query_vec))
        if proj >= 0:
            qsig |= 1 << p
    probe = {qsig}
    if probe_hamming >= 1:
        probe |= {qsig ^ (1 << p) for p in range(n_planes)}
    if probe_hamming >= 2:
        probe |= {qsig ^ (1 << p) ^ (1 << r)
                  for p in range(n_planes) for r in range(p + 1, n_planes)}
    probe = sorted(probe)

    sigged = df.withColumn(
        "_sig", rp_signature(F.col(vec_col), n_planes, dim=len(query_vec)))
    cand = sigged.where(F.col("_sig").isin(probe))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = cand.select(F.col(id_col),
                      F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
    if qid is not None:
        out = out.where(F.col(id_col) != qid)
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------- IVF

def ivf_train_cells(df: DataFrame, n_cells: int,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Deterministic IVF 'training': coarse centroids are the ``n_cells``
    lowest-id vectors, as (cell_id = source id, vector) pairs — the
    convention every IVF oracle in this repo reproduces with
    ``ORDER BY vec_id LIMIT n_cells``."""
    crows = df.orderBy(id_col).limit(n_cells) \
              .select(F.col(id_col).alias("cell_id"), F.col(vec_col)).collect()
    return [(int(r["cell_id"]), [float(x) for x in r[vec_col]])
            for r in crows]


def probe_cells(cents: list[tuple[int, list[float]]],
                query_vec: list[float], n_probe: int) -> list[int]:
    """Driver-side probe-cell choice shared by every IVF consumer
    (ivf_topk, ivf_pq_topk): cells ranked by query-centroid cosine
    ROUNDED to 6dp (repo float-parity policy — the oracles compute the
    same cosine with a different kernel, and an unrounded rank could
    flip on a sub-ulp disagreement), ties broken on cell_id. One shared
    definition so a convention change can never desynchronize the gated
    IVF queries' probe sets."""
    import math

    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = norm(a), norm(b)
        return d / (na * nb) if na and nb else 0.0

    ranked = sorted(cents,
                    key=lambda c: (-round(cos(c[1], query_vec), 6), c[0]))
    return [c[0] for c in ranked[:n_probe]]


def ivf_assign_cells(df: DataFrame, cents: list[tuple[int, list[float]]],
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Map-only coarse assignment: argmax cosine over the centroids in one
    Arrow-batched numpy GEMM per batch — (batch × dim) @ (dim × n_cells),
    no crossJoin, no shuffle. cents are id-sorted, so np.argmax's
    first-max tie-break = lowest cell_id (the oracle's ``ORDER BY cos
    DESC, cell_id`` rule). Assignment is a *screening* step: GEMM
    re-association only moves vectors whose best-vs-second-best margin is
    within float noise (~1e-13), pinned far larger in tests."""
    cmat = np.array([c[1] for c in cents], dtype=np.float64).T
    cnorm = np.linalg.norm(cmat, axis=0)
    cell_arr = np.array([c[0] for c in cents], dtype=np.int64)

    @F.pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        sims = (m @ cmat) / (np.linalg.norm(m, axis=1, keepdims=True)
                             * cnorm + 1e-300)
        return pd.Series(cell_arr[np.argmax(sims, axis=1)])

    return df.select(F.col(id_col), F.col(vec_col)) \
             .withColumn("cell_id", _assign(F.col(vec_col)))


def ivf_assign_cells_pair(df: DataFrame,
                          cents_a: list[tuple[int, list[float]]],
                          cents_b: list[tuple[int, list[float]]],
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """TWO coarse assignments in ONE Arrow pass — the staleness audit's
    shape (stale + fresh centroid tiers over the same corpus). Each
    tier runs the IDENTICAL per-set GEMM + argmax as
    :func:`ivf_assign_cells` (separate ``m @ cmat`` calls, not a
    stacked matrix, so the float arithmetic is bit-for-bit the
    one-tier kernel's); sharing the pass halves the Arrow
    serialization and lets the churn comparison read both columns off
    one relation with NO vec_id self-join. Output columns:
    (id, vec, cell_a, cell_b)."""
    sets = []
    for cents in (cents_a, cents_b):
        cmat = np.array([c[1] for c in cents], dtype=np.float64).T
        sets.append((cmat, np.linalg.norm(cmat, axis=0),
                     np.array([c[0] for c in cents], dtype=np.int64)))

    @F.pandas_udf("cell_a long, cell_b long")
    def _assign2(vs: pd.Series) -> pd.DataFrame:
        m = np.array(vs.tolist(), dtype=np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        out = {}
        for name, (cmat, cnorm, carr) in zip(("cell_a", "cell_b"), sets):
            sims = (m @ cmat) / (nrm * cnorm + 1e-300)
            out[name] = carr[np.argmax(sims, axis=1)]
        return pd.DataFrame(out)

    return (df.select(F.col(id_col), F.col(vec_col))
              .withColumn("_c2", _assign2(F.col(vec_col)))
              .select(id_col, vec_col,
                      F.col("_c2.cell_a").alias("cell_a"),
                      F.col("_c2.cell_b").alias("cell_b")))


def ivf_topk(df: DataFrame, query_vec: list[float] | int, k: int = 10,
             n_cells: int = 16, n_probe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-style ANN: coarse centroids are the embeddings of the ``n_cells``
    lowest-id rows (deterministic "training"); the query probes the
    ``n_probe`` nearest cells.

    Assignment plan: the centroids are a tiny driver-side list shipped in
    the UDF closure, so each row computes its argmax-similarity cell in one
    Arrow-batched numpy GEMM — (batch × dim) @ (dim × n_cells), map-only.
    No crossJoin (the r1 version amplified the scan n_cells×), no window
    (no shuffle): scan → project → filter. Assignment is a *screening*
    step, so GEMM re-association is acceptable (ties/boundaries only move
    vectors between cells — recall is pinned in tests); the final scoring
    of probed candidates is the exact sequential Catalyst cosine.

    At scale: write the table partitioned/bucketed by ``cell`` so a probe
    reads n_probe/n_cells of the data via partition pruning; centroids come
    from a real k-means over a sample (MLlib) — the plumbing is identical.
    """
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(df, id_col, vec_col, query_vec)

    cents = ivf_train_cells(df, n_cells, vec_col, id_col)
    assigned = ivf_assign_cells(df, cents, vec_col, id_col)
    # Probe cells: nearest centroids to the query (driver-side, tiny;
    # shared 6dp-rounded ranking — see probe_cells).
    probes = probe_cells(cents, query_vec, n_probe)

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = (assigned.where(F.col("cell_id").isin(probes))
                   .select(F.col(id_col),
                           F.round(cosine(F.col(vec_col), q), 6).alias("cosine")))
    if qid is not None:
        out = out.where(F.col(id_col) != qid)
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# --------------------------------------------- IVF index generations
# The materialized IVF index commits through the generation pointer
# (photon_spark.generations), the same protocol as EventStore rewrites:
# a retrain writes a complete new ``gen=<k>-<nonce>`` directory (fresh
# centroids + full re-assigned base) and swaps the pointer; readers
# resolve the pointer first, so a probe running DURING a retrain serves
# the old generation to the end and a crash mid-retrain leaves the old
# generation live. Indexes that never retrained resolve to the root.

_IVF_CENTS_FILE = "_centroids.json"


def _save_ivf_centroids(data_dir: str, cents) -> None:
    import json
    import os
    os.makedirs(data_dir, exist_ok=True)
    with open(os.path.join(data_dir, _IVF_CENTS_FILE), "w") as f:
        json.dump([[int(c), [float(x) for x in v]] for c, v in cents], f)


def load_ivf_centroids(path: str) -> list[tuple[int, list[float]]]:
    """The LIVE generation's coarse centroids — what every probe must
    rank cells with (a probe pairing fresh centroids with a stale data
    generation, or vice versa, silently mis-prunes).

    Resolves the pointer itself — a consumer that ALSO resolves the
    pointer for its data read must instead resolve once and call
    :func:`_load_cents_from_data_dir` on that same directory, or a
    retrain committing between the two reads pairs one generation's
    centroids with the other's data."""
    return _load_cents_from_data_dir(generations.data_dir(path))


def _load_cents_from_data_dir(data_dir: str) -> list[tuple[int, list[float]]]:
    """Centroids of a SPECIFIC (already-resolved) generation directory."""
    import json
    import os
    with open(os.path.join(data_dir, _IVF_CENTS_FILE)) as f:
        return [(int(c), [float(x) for x in v]) for c, v in json.load(f)]


def retrain_ivf_index(spark, path: str, n_cells: int | None = None,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id"):
    """Close the loop the staleness audit (q_ivf_staleness_audit) opens:
    re-train coarse centroids over EVERYTHING the live generation holds
    (base + every appended batch), re-assign the whole corpus under the
    fresh centroids into a complete new generation directory, and make
    it live with one atomic pointer swap — the FAISS retrain done the
    EventStore ``gen=`` way (photon_spark.generations).

    Crash-safe at every step: before the swap, readers resolve the old
    pointer and see the old generation whole (the new dir is an inert
    orphan a re-run deletes); after the swap, the old generation is
    best-effort deleted and any probe already reading it finishes
    against immutable files. Returns the fresh centroid list (also
    persisted in the new generation's ``_centroids.json``).

    Scale shape: one read of the index (cell-partitioned parquet), one
    deterministic train (driver-tiny centroid list), one map-only
    Arrow re-assignment, one cell-partitioned write — O(index), no
    shuffle beyond the per-cell repartition the original build pays.
    """
    import os

    old_ord, old_name = generations.live(path)
    live = generations.data_dir(path)
    df = spark.read.parquet(live).select(id_col, vec_col)
    if n_cells is None:
        n_cells = len(load_ivf_centroids(path))
    cents = ivf_train_cells(df, n_cells, vec_col, id_col)
    new_name = generations.next_name(old_ord + 1)
    new_dir = os.path.join(path, new_name)
    _write_ivf_batch(df, new_dir, "base", cents, vec_col, id_col)
    _save_ivf_centroids(new_dir, cents)
    generations.commit(path, new_name, old_name)
    return cents


def materialize_ivf_index(df: DataFrame | None, out_dir: str,
                          n_cells: int = 16,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          cents: list[tuple[int, list[float]]] | None = None,
                          assigned: DataFrame | None = None):
    """Materialize the IVF index as CELL-PARTITIONED parquet
    (``batch=base/cell_id=K/`` dirs) — the serving layout behind every
    "probe reads n_probe/n_cells of the data" claim: a probe's cell
    filter becomes a parquet PartitionFilter, so unprobed cells' files
    are never opened. One writer task per cell (repartition on the
    partition key). The ``batch=`` level is the same OVERWRITE replay
    contract the PairTable uses, so :func:`append_to_ivf_index` can fold
    later batches in idempotently. Returns the centroid list to probe
    with.

    ``cents``: pre-fit (cell_id, vector) centroids — skips the default
    deterministic training, so an externally-trained index (e.g.
    clustering.kmeans_fit's Lloyd centroids) lives in the SAME store
    that appends, probes and graph builds share. ``assigned``: the
    trainer's own (id, vec, cell_id) base assignment to persist as-is —
    pass it when the trainer's assignment rule differs from
    :func:`ivf_assign_cells` (kmeans assigns by L2 to its converged
    centroids), so the stored base is exactly what the fit produced;
    appends still use ivf_assign_cells under the FIXED stored
    centroids, the FAISS add shape. ``df`` is only read on the paths
    that need it (training, default assignment) and may be None when
    both cents and assigned are supplied — passing it then would
    suggest it gets stored when ``assigned`` is what's persisted."""
    import shutil

    if df is None and (cents is None or assigned is None):
        raise ValueError("df is required unless both cents and "
                         "assigned are supplied")
    if cents is None:
        cents = ivf_train_cells(df, n_cells, vec_col, id_col)
    shutil.rmtree(out_dir, ignore_errors=True)
    if assigned is None:
        assigned = ivf_assign_cells(df, cents, vec_col, id_col)
    _write_assigned_batch(assigned, out_dir, "base", vec_col, id_col)
    # persist the training output beside the data: retrain_ivf_index
    # and pointer-resolving probes load centroids from the live
    # generation instead of trusting a caller-held copy to match
    _save_ivf_centroids(out_dir, cents)
    return cents


def _write_ivf_batch(df: DataFrame, out_dir: str, tag: str, cents,
                     vec_col: str, id_col: str) -> None:
    assigned = ivf_assign_cells(df, cents, vec_col, id_col)
    _write_assigned_batch(assigned, out_dir, tag, vec_col, id_col)


def _write_assigned_batch(assigned: DataFrame, out_dir: str, tag: str,
                          vec_col: str, id_col: str) -> None:
    import os

    (assigned.select(id_col, vec_col, "cell_id")
     .repartition("cell_id")
     .write.mode("overwrite").partitionBy("cell_id")
     .parquet(os.path.join(out_dir, f"batch={tag}")))


def append_to_ivf_index(spark, index_dir: str,
                        cents: list[tuple[int, list[float]]],
                        new_df: DataFrame, tag: str,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> None:
    """Fold a batch of new vectors into a materialized IVF index — the
    FAISS ``add`` shape: assignment uses the index's FIXED centroids
    (appending never re-trains, so existing cell membership and every
    previously served probe stay valid), and the batch lands as its own
    ``batch=<tag>`` partition written with OVERWRITE — a crashed-and-
    retried append clobbers its own partial partition instead of
    double-inserting vectors. Probes over the root see base ∪ batches
    with cell pruning intact (cell_id remains a partition level under
    every batch dir); identity index(A)+add(B) ≡ index over A∪B assigned
    with A's centroids is pinned in tests."""
    # appends land in the LIVE generation (pointer resolved per call,
    # so an append issued after a retrain's swap joins the fresh gen)
    _write_ivf_batch(new_df, generations.data_dir(index_dir), tag, cents,
                     vec_col, id_col)


def _read_gen(spark, live: str):
    """Stamp-keyed memoized reader for a resolved generation data dir:
    appends/retrains change the dir stamp and rebuild the plan, so the
    captured file listing can never serve a stale generation."""
    from photon_spark.relations import _stamp, plan_memo
    return plan_memo(spark, ("ivf_gen", live, _stamp(live)),
                     lambda: spark.read.parquet(live))


def ivf_topk_from_index(spark, index_dir: str,
                        cents: list[tuple[int, list[float]]] | None,
                        query_vec: list[float] | int, k: int = 10,
                        n_probe: int = 4, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """IVF probe over a :func:`materialize_ivf_index` table: same
    semantics as :func:`ivf_topk` (shared probe_cells ranking, exact
    Catalyst cosine scoring), but the cell filter prunes PARTITIONS of
    the stored index instead of screening rows — the difference between
    "scan everything, keep 1/4" and "read 1/4 of the files".

    The generation pointer is resolved ONCE here, so a probe started
    during a retrain serves the old generation end-to-end (old data
    with old centroids — never a mixed pairing; the cents=None load
    reads from the already-resolved directory, not through the pointer
    again). Pass ``cents=None`` to rank cells with the live
    generation's own persisted centroids (the safe default once
    retrains run)."""
    live = generations.data_dir(index_dir)
    if cents is None:
        cents = _load_cents_from_data_dir(live)
    idx = _read_gen(spark, live)
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(idx, id_col, vec_col, query_vec)
    probes = probe_cells(cents, query_vec, n_probe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = (idx.where(F.col("cell_id").isin(probes))
              .select(F.col(id_col),
                      F.round(cosine(F.col(vec_col), q), 6)
                       .alias("cosine")))
    if qid is not None:
        out = out.where(F.col(id_col) != qid)
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# ------------------------------------------------------------------- PQ

def pq_topk(df: DataFrame, query_vec: list[float] | int, k: int = 10,
            m_sub: int = 4, ks: int = 16, rerank: int = 100,
            vec_col: str = "embedding", id_col: str = "vec_id",
            candidates: DataFrame | None = None) -> DataFrame:
    """Product-quantization ANN with exact re-ranking: split each vector
    into ``m_sub`` subvectors, encode every subvector as its nearest of
    ``ks`` codewords (deterministic codebook = the sub-slices of the
    ``ks`` lowest-id vectors), shortlist ``rerank`` candidates by
    Asymmetric Distance Computation (driver-precomputed
    ‖q_m − c_{m,code}‖² table lookups), then re-rank the shortlist with
    the exact cosine — the standard IVF-PQ + refine pipeline.

    Why this is the 100 TB similarity path: the stored index is
    ``m_sub·log2(ks)`` bits per vector (here 2 bytes vs 256 — a 128×
    compression), encoding is one map-only Arrow GEMM, ADC scoring never
    touches the original vectors (``m_sub`` array-literal lookups + adds
    per row → TakeOrderedAndProject), and the exact pass reads only the
    ``rerank`` shortlisted vectors via a broadcast semi-join — the full
    vector column is scanned once at index-build time, never at query
    time.

    Determinism/oracle story: codebook selection is first-k-by-id (the
    kmeans/ivf convention); assignment argmin uses the ``|c|² − 2·v·c``
    expansion with lowest-code tie-break; ADC table entries use the
    sequential left-fold association ``(q·q − 2·q·c) + c·c`` that
    DuckDB's list_dot_product reproduces bit-for-bit; the ``m_sub``-term
    score sum is explicitly left-associated on both engines; shortlist
    and final cuts tie-break on id.

    ``candidates``: optional (id, vec) subset to encode and ADC-score
    instead of the full table — the IVF-PQ composition hook (codebook
    training stays on ``df`` so the index is probe-independent). The
    exact re-rank always reads ``df``; shortlist ⊆ candidates ⊆ df, so
    the semi-join is unchanged."""
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(df, id_col, vec_col, query_vec)
    dim = len(query_vec)
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    ds = dim // m_sub

    crows = df.orderBy(id_col).limit(ks).select(vec_col).collect()
    if len(crows) < ks:
        raise ValueError(f"need ≥ {ks} vectors, got {len(crows)}")
    books = []  # books[m][j] = codeword (list of ds floats)
    for m in range(m_sub):
        books.append([[float(x) for x in r[0][m * ds:(m + 1) * ds]]
                      for r in crows])

    cmats = [np.array(b, dtype=np.float64).T for b in books]   # ds × ks
    nc2s = [np.einsum("dk,dk->k", c, c) for c in cmats]

    @F.pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        cols = [np.argmin(nc2s[m] - 2.0 * (mat[:, m * ds:(m + 1) * ds]
                                           @ cmats[m]), axis=1)
                for m in range(m_sub)]
        return pd.Series(np.stack(cols, axis=1).astype("int32").tolist())

    def _seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    adc = []  # adc[m][j] = ((q·q − 2 q·c) + c·c), left-associated
    for m in range(m_sub):
        qm = query_vec[m * ds:(m + 1) * ds]
        qq = _seq_dot(qm, qm)
        adc.append([(qq - 2.0 * _seq_dot(qm, c)) + _seq_dot(c, c)
                    for c in books[m]])

    src = candidates if candidates is not None else df
    enc = src.select(F.col(id_col), _encode(F.col(vec_col)).alias("code"))
    score = None
    for m in range(m_sub):
        tbl = F.array(*[F.lit(d) for d in adc[m]])
        term = F.element_at(tbl, F.element_at("code", m + 1) + 1)
        score = term if score is None else score + term
    short = enc.select(F.col(id_col), score.alias("_d"))
    if qid is not None:
        short = short.where(F.col(id_col) != qid)
    short = (short.orderBy(F.col("_d").asc(), F.col(id_col))
                  .limit(rerank).select(id_col))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (df.join(F.broadcast(short), id_col, "left_semi")
              .select(F.col(id_col),
                      F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
              .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


def ivf_pq_topk(df: DataFrame, query_vec: list[float] | int, k: int = 10,
                n_cells: int = 16, n_probe: int = 4,
                m_sub: int = 4, ks: int = 16, rerank: int = 100,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """IVF + PQ composed — the production 100 TB ANN serving index
    (FAISS's IVFPQ shape): the IVF coarse quantizer prunes the corpus to
    ``n_probe/n_cells`` of its cells (at scale: partition pruning on a
    cell-bucketed table — ``n_probe/n_cells`` of the FILES are read),
    then PQ ADC scores only the probed candidates from the
    ``m_sub·log2(ks)``-bit codes (no original vectors touched), and the
    exact cosine re-ranks the ``rerank``-row shortlist. Neither index
    alone has both properties: IVF-flat still reads full vectors in
    probed cells; PQ-alone ADC-scans the whole corpus's codes.

    Composition determinism: cell training/assignment/probing are
    exactly :func:`ivf_topk`'s conventions (first-``n_cells``-by-id
    centroids, GEMM argmax screen with first-max tie-break, driver-side
    exact probe ranking); the codebook trains on the FULL table (first
    ``ks`` by id), so codes are probe-independent — re-probing never
    re-encodes. One divergence from textbook IVFPQ, on purpose: codes
    quantize the raw vectors, not the residuals (v − centroid), so the
    codebook is global and the SQL oracle can rebuild it without
    per-cell codebook CTEs; residual PQ is a drop-in swap inside
    ``_encode`` if recall at a given bit-rate ever needs it.
    """
    qid = None
    if isinstance(query_vec, int):
        qid = query_vec
        query_vec = _query_vector(df, id_col, vec_col, query_vec)

    cents = ivf_train_cells(df, n_cells, vec_col, id_col)
    assigned = ivf_assign_cells(df, cents, vec_col, id_col)
    cand = (assigned.where(F.col("cell_id")
                           .isin(probe_cells(cents, query_vec, n_probe)))
                    .select(id_col, vec_col))
    return pq_topk(df, query_vec if qid is None else qid, k=k,
                   m_sub=m_sub, ks=ks, rerank=rerank,
                   vec_col=vec_col, id_col=id_col, candidates=cand)


# ---------------------------------------------------------- quantization

def quantize_error_cols(vec_col, max_q: int = 127):
    """Per-vector int8 symmetric-quantization audit columns.

    q_i = round(x_i / scale) with scale = max|x| / max_q — the standard
    symmetric int8 scheme that cuts embedding storage 4× at 100 TB. Returns
    (scale, max_abs_err, n_saturated); n_saturated counts elements at full
    scale (|q| ≥ max_q) — the max-|x| element always is, so ≥ 1 per vector;
    larger values flag distributions a symmetric scheme clips. Every reduction is order-insensitive
    (max / integer count), and every float op (widen, divide, round,
    multiply, subtract) is a single IEEE-exact step with a bit-identical
    DuckDB spelling — so the audit is hash-gateable, unlike a float sum.

    Spark round(double) == DuckDB round(double): BigDecimal HALF_UP on the
    shortest decimal repr and C round() both mean "nearest, ties away from
    zero" on the same binary value.
    """
    v = F.transform(vec_col if not isinstance(vec_col, str)
                    else F.col(vec_col), lambda x: x.cast("double"))
    mx = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = mx / F.lit(float(max_q))
    err = F.transform(
        v, lambda x: F.abs(F.round(x / scale) * scale - x))
    max_err = F.aggregate(err, F.lit(0.0), lambda a, e: F.greatest(a, e))
    sat = F.aggregate(
        v, F.lit(0).cast("long"),
        lambda a, x: a + F.when(F.abs(F.round(x / scale)) >= max_q, 1)
                          .otherwise(0))
    zero = mx == F.lit(0.0)
    return (F.struct(
        scale.alias("scale"),
        F.when(zero, F.lit(0.0)).otherwise(max_err).alias("max_abs_err"),
        F.when(zero, F.lit(0).cast("long")).otherwise(sat)
         .alias("n_saturated")))


def quantize_stats(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", max_q: int = 127) -> DataFrame:
    """Corpus-level int8 quantization audit: vector count, saturation
    total, worst and average per-vector max reconstruction error.

    Plan: one map-side projection per vector + a single global aggregate of
    short numeric columns — no shuffle of the embeddings themselves. The
    average uses the integer-millionths trick (sum of longs, one final
    division) so partial-aggregation order can't flip the hash. The
    per-vector columns come from the vectorized numpy twin (bit-identical
    to the Catalyst form — pinned in tests — and ~5× faster).
    """
    qa = df.select(quantize_error_cols_np(vec_col, max_q).alias("q"))
    ri = F.round(F.col("q.max_abs_err") * 1e6).cast("long")
    return qa.select(F.col("q.max_abs_err").alias("me"),
                     F.col("q.n_saturated").alias("ns"), ri.alias("ri")) \
             .agg(F.count(F.lit(1)).alias("n_vectors"),
                  F.sum("ns").alias("total_saturated"),
                  F.round(F.max("me"), 6).alias("worst_max_abs_err"),
                  F.round(F.sum("ri") / F.count(F.lit(1)) / 1e6, 6)
                   .alias("avg_max_abs_err"))


def quantize_error_cols_np(vec_col, max_q: int = 127):
    """Vectorized twin of :func:`quantize_error_cols` — one Arrow-batched
    numpy pass instead of four interpreted higher-order folds per row.

    Bit-exactness argument (pinned in tests against the Catalyst form):
    every step is the same IEEE-754 double op in the same order — widen,
    |x| (exact), max (order-free), divide by scale, round, multiply,
    subtract, |.| — and numpy's elementwise ops don't re-associate.
    round-half-away is sign*floor(|y|+0.5), which equals Spark
    F.round(double)/C round for all doubles (|y|+0.5 cannot cross a tie
    boundary: doubles near k+0.5 are spaced ≥ 2^-53·k, so the sum rounds
    to a value on the same side).
    """

    @F.pandas_udf("struct<scale:double,max_abs_err:double,n_saturated:bigint>")
    def _q(vs: pd.Series) -> pd.DataFrame:
        out_scale, out_err, out_sat = [], [], []
        for v in vs:
            x = np.asarray(v, dtype=np.float64)
            mx = float(np.max(np.abs(x))) if x.size else 0.0
            scale = mx / max_q
            if scale == 0.0:
                out_scale.append(scale)
                out_err.append(0.0)
                out_sat.append(0)
                continue
            y = x / scale
            q = np.sign(y) * np.floor(np.abs(y) + 0.5)
            err = np.abs(q * scale - x)
            out_scale.append(scale)
            out_err.append(float(np.max(err)) if err.size else 0.0)
            out_sat.append(int(np.count_nonzero(np.abs(q) >= max_q)))
        return pd.DataFrame({"scale": out_scale, "max_abs_err": out_err,
                             "n_saturated": out_sat})

    return _q(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


# ------------------------------------------------------------- kNN graph

def knn_graph(df: DataFrame, k: int = 3, vec_col: str = "embedding",
              id_col: str = "vec_id", n_blocks: int = 16) -> DataFrame:
    """EXACT k-nearest-neighbor graph: every vector's top-k neighbors by
    cosine → [id, nbr, cosine] (k rows per id; ties at 6dp broken by
    neighbor id). The relation semdedup/kNN-classifiers/graph-dedup all
    start from.

    Same blocked-GEMM shape as dedup.embedding_near_duplicates: vectors
    shuffle ONCE into n_blocks packed matrices; every block PAIR is one
    numpy GEMM task emitting, per row, its local top-k by GEMM score
    plus everything within a 2e-6 margin of the local kth (GEMM
    reassociates float adds and the gate rounds to 6dp — the margin
    covers both, making the local cut a superset of the true top-k,
    since the global top-k must be top-k within its block pair). The
    margin-retained survivors (~k+ε per id after the global score
    window) are then re-scored JVM-side with the Catalyst sequential
    fold — the exact contract the SQL oracle computes — and the final
    window ranks on that. No per-candidate Python arithmetic anywhere:
    Python does one BLAS call per block pair, Catalyst does the exact
    few-per-id re-verify.

    At 100 TB: blocks are persisted buckets; the block-pair manifest
    fans out as independent GEMM tasks (n²/B² flops each at BLAS speed);
    for approximate variants, prune the manifest to IVF-adjacent bucket
    pairs — :func:`knn_graph_ivf`, same kernel.
    """
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"))
    return _knn_graph_blocked(v, None, k, df, vec_col, id_col)


def _knn_graph_blocked(v: DataFrame, manifest: list | None, k: int,
                       df: DataFrame, vec_col: str,
                       id_col: str) -> DataFrame:
    """Shared kNN-graph kernel over a (id, v, blk) relation. ``manifest``:
    optional [(blk_lo, blk_hi), ...] block pairs to score (None = all
    pairs — the exact graph)."""
    import pickle

    from pyspark.sql import Window

    MARGIN = 2e-6  # 6dp rounding quantum + GEMM reassociation error

    def pack(key, pdf):
        import numpy as np
        ids = pdf["id"].to_numpy(dtype="int64")
        mat = np.array([np.asarray(x, dtype="float64") for x in pdf["v"]])
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return pd.DataFrame({
            "blk": [int(key[0])],
            "ids": [pickle.dumps(ids)],
            "nmat": [pickle.dumps(mat / nrm)],
        })

    packed = v.groupBy("blk").applyInPandas(
        pack, schema="blk long, ids binary, nmat binary")
    pa = packed.select(F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
                       F.col("nmat").alias("nmat_a"))
    pb = packed.select(F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
                       F.col("nmat").alias("nmat_b"))
    if manifest is None:
        block_pairs = pa.join(F.broadcast(pb),
                              F.col("blk_a") <= F.col("blk_b"))
    else:
        man = v.sparkSession.createDataFrame(
            manifest, "blk_a long, blk_b long")
        block_pairs = (pa.join(F.broadcast(pb),
                               F.col("blk_a") <= F.col("blk_b"))
                         .join(F.broadcast(man), ["blk_a", "blk_b"]))

    def cands(batches):
        import numpy as np

        def local_topk(sims, ids_r, ids_c, out):
            # vectorized: per row keep local top-k + margin ties (GEMM
            # scores only — the exact re-score happens JVM-side)
            nc = sims.shape[1]
            if nc == 0:
                return
            kk = min(k, nc)
            cut = (np.partition(sims, nc - kk, axis=1)[:, nc - kk]
                   - MARGIN)
            ii, jj = np.nonzero(sims >= cut[:, None])
            keep = ids_r[ii] != ids_c[jj]  # masked diag can pass the cut
            for i, j in zip(ii[keep], jj[keep]):
                out.append((int(ids_r[i]), int(ids_c[j]),
                            float(sims[i, j])))

        for pdf in batches:
            out: list = []
            for rec in pdf.itertuples(index=False):
                ids_a = pickle.loads(rec.ids_a)
                ids_b = pickle.loads(rec.ids_b)
                sims = pickle.loads(rec.nmat_a) @ pickle.loads(rec.nmat_b).T
                if rec.blk_a == rec.blk_b:
                    np.fill_diagonal(sims, -2.0)  # no self-neighbor
                    local_topk(sims, ids_a, ids_b, out)
                else:
                    local_topk(sims, ids_a, ids_b, out)
                    local_topk(np.ascontiguousarray(sims.T), ids_b, ids_a,
                               out)
            if out:
                yield pd.DataFrame(out, columns=["id", "nbr", "score"])

    cand = block_pairs.mapInPandas(
        cands, schema="id long, nbr long, score double")
    # global margin cut: keep everything within MARGIN of the per-id kth
    # GEMM score — the superset the exact re-rank needs
    w_rank = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("nbr"))
    w_id = Window.partitionBy("id")
    kth = F.min(F.when(F.col("rn") <= k, F.col("score"))).over(w_id)
    surv = (cand.withColumn("rn", F.row_number().over(w_rank))
                .withColumn("cut", kth - F.lit(MARGIN))
                .where(F.col("score") >= F.col("cut"))
                .select("id", "nbr"))
    # exact re-score in Catalyst (sequential fold == the oracle contract)
    va = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("nbr"), F.col(vec_col).alias("vb"))
    scored = (surv.join(va, "id").join(vb, "nbr")
                  .select("id", "nbr",
                          F.round(cosine(F.col("va"), F.col("vb")), 6)
                           .alias("cosine")))
    w_final = Window.partitionBy("id").orderBy(F.desc("cosine"),
                                               F.asc("nbr"))
    return (scored.withColumn("rn", F.row_number().over(w_final))
                  .where(F.col("rn") <= k)
                  .select("id", "nbr", "cosine"))


def knn_graph_ivf(df: DataFrame, k: int = 3, n_cells: int = 16,
                  n_probe: int = 4, iters: int = 2,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Approximate kNN graph with the block-pair manifest pruned to
    IVF-adjacent cells — the 100 TB form of :func:`knn_graph`.

    Blocks are the deterministic k-means cells (clustering.kmeans_fit,
    the same centroids ivf_topk consumes); the manifest keeps, per cell,
    only the pairs with its ``n_probe`` most-similar cells (by centroid
    cosine, self included) — n_cells·n_probe GEMM tasks instead of
    n_cells²/2, i.e. the pair-flop budget drops by ~n_cells/(2·n_probe)
    while recall stays high because true neighbors land in nearby cells.
    Output schema matches knn_graph; neighbors are exact *within the
    probed manifest* (same margin + JVM re-verify kernel). Recall vs the
    exact graph is pinned in tests.
    """
    from photon_spark.functions.clustering import kmeans_fit

    assigned, cents = kmeans_fit(df, k=n_cells, iters=iters,
                                 vec_col=vec_col, id_col=id_col)
    return knn_graph_from_cells(assigned, cents, df, k=k, n_probe=n_probe,
                                vec_col=vec_col, id_col=id_col)


def knn_graph_from_cells(assigned: DataFrame, cents: list[list[float]],
                         df: DataFrame, k: int = 3, n_probe: int = 4,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """:func:`knn_graph_ivf` over a PRE-FITTED IVF index — ``assigned``
    is the (id, vec, cluster_id) relation and ``cents`` the centroid
    list a prior :func:`clustering.kmeans_fit` produced. This is the
    production entry: the index is fitted (and persisted) once per
    corpus, every later graph build pays only the manifest-pruned GEMM +
    re-verify, exactly the build-once→query-forever split ivf_topk's
    cell store already has."""
    manifest = sorted(ivf_cell_manifest(cents, n_probe))
    v = assigned.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"),
                        F.col("cluster_id").alias("blk"))
    return _knn_graph_blocked(v, manifest, k, df, vec_col, id_col)


def knn_graph_from_index(spark, index_dir: str, k: int = 3,
                         n_probe: int = 4, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """kNN graph over the LIVE generation of a MATERIALIZED IVF index —
    the one production index lifecycle: probes
    (:func:`ivf_topk_from_index`), appends (:func:`append_to_ivf_index`),
    retrains (:func:`retrain_ivf_index`) and graph builds all resolve
    the same generation pointer, so a graph build sees every batch
    appended before it (base ∪ batches, cell membership intact) and a
    retrain's pointer swap moves every consumer atomically. The
    generation is resolved ONCE here — a build started during a retrain
    reads the old generation's data with the old generation's own
    centroids end-to-end, never a mixed pairing.

    The manifest kernel (:func:`ivf_cell_manifest`) addresses cells by
    POSITION in the centroid list; stored cell ids are arbitrary
    (ivf_train_cells uses source vec_ids), so the stored ``cell_id`` is
    remapped through a literal map expression — map-side, no join. The
    corpus for the exact re-score leg is the index itself, so appended
    vectors are both graph nodes and candidate neighbors."""
    live = generations.data_dir(index_dir)
    cents = sorted(_load_cents_from_data_dir(live))
    idx = _read_gen(spark, live)
    pos = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(int(c)) for c, _ in cents]),
            F.array(*[F.lit(i).cast("long") for i in range(len(cents))])),
        F.col("cell_id").cast("long"))
    assigned = idx.select(id_col, vec_col, pos.alias("cluster_id"))
    return knn_graph_from_cells(assigned, [v for _, v in cents],
                                idx.select(id_col, vec_col), k=k,
                                n_probe=n_probe, vec_col=vec_col,
                                id_col=id_col)


def ivf_cell_manifest(cents: list[list[float]], n_probe: int) -> set:
    """Block-pair manifest from centroid cosine adjacency: per cell, the
    pairs with its n_probe most-similar cells (self included).

    Engine-portable construction (the SQL oracle rebuilds it): sims are
    the strictly sequential fold over the element-wise-normalized
    centroids, ROUNDED to 6dp before ranking, ties broken by cell id —
    the ranking key has no room for BLAS-vs-loop last-ulp drift."""
    import math

    from photon_spark.functions.clustering import _seq_dot
    cn = []
    for c in cents:
        nrm = math.sqrt(_seq_dot(c, c))
        cn.append([x / nrm for x in c] if nrm else c)
    manifest = set()
    for a in range(len(cn)):
        sims = [(round(_seq_dot(cn[a], cn[b]), 6), b)
                for b in range(len(cn))]
        for _, b in sorted(sims, key=lambda t: (-t[0], t[1]))[:n_probe]:
            manifest.add((min(a, b), max(a, b)))
    return manifest
