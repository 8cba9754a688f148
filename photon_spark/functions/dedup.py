"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of each variant at 100 TB):

- **exact**: hash-groupBy on a content digest — one shuffle on a short key,
  map-side partial aggregation; never shuffles document bodies.
- **MinHash+LSH**: per-doc signatures are computed scan-side (no shuffle);
  candidate generation shuffles only (band_key, doc_id) pairs; the
  verification join touches candidate pairs, not the O(n²) cross product.
- **SimHash**: one 16-bit signature per doc; near-dup candidates = equal
  signature buckets (or banded sub-keys) — again no cross product.
- **n-gram Jaccard**: exact verification on candidate pairs; the inverted
  shingle index bounds the pair space by co-occurrence.

All signature math is md5-based so every step has an exact DuckDB
equivalent (md5 agrees across engines; Spark xxhash64 does not exist in
DuckDB). md5 hex strings compare lexicographically the same everywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photon_spark.functions.text import normalize_text, tokens


# ---------------------------------------------------------------- cache mgmt

def _own_cache(result: DataFrame, cached: list[DataFrame]) -> DataFrame:
    """Attach persisted upstream relations to ``result`` so callers can
    free them with :func:`release_cache` after their action has run. The
    persisted blocks are MEMORY_AND_DISK and LRU-evicted under pressure,
    but long-lived sessions issuing many dedup calls should release
    explicitly."""
    result._photon_cached = cached  # type: ignore[attr-defined]
    return result


def release_cache(df: DataFrame) -> None:
    """Unpersist the intermediate relations a dedup operator cached on
    ``df`` (no-op for DataFrames without cached dependencies)."""
    for c in getattr(df, "_photon_cached", []):
        c.unpersist()


# --------------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per normalized-text fingerprint."""
    w = (df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fp")))
    keep = w.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(F.broadcast(keep.select(id_col)), on=id_col, how="inner")


# ------------------------------------------------------------------ shingles

def shingles_from_tokens(toks, n: int = 3):
    """Word n-gram shingles (distinct) from a token-array column.

    Built from offset slices zipped with concat — O(tokens) array ops per
    row, no per-element `element_at` (higher-order functions run in the
    interpreted evaluator, where every `element_at(toks, i)` re-evaluates
    the whole `toks` child expression; slices evaluate it once per row).
    Pass an *attribute* column (materialize tokens in a prior select) so the
    token split itself isn't re-evaluated per slice.
    """
    t = F.col(toks) if isinstance(toks, str) else toks
    m = F.size(t)
    width = m - (n - 1)
    grams = F.slice(t, 1, width)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(t, j + 1, width),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(m < n, F.array().cast("array<string>")) \
            .otherwise(F.array_distinct(grams))


def shingles(col, n: int = 3):
    """Word n-gram shingles (distinct) of the normalized text: tokens
    t[0..m-1] → t[i] || ' ' || .. || t[i+n-1] for i in 0..m-n."""
    return shingles_from_tokens(F.split(normalize_text(col), " "), n)


#: UDF objects cached per (session, parameter tuple) — creating a
#: pandas_udf costs ~30 ms of signature/type-hint work per call, and
#: the factories below are invoked by dozens of registry constructions
#: per bench pass. The session component matters: a UDF binds its
#: _judf to the session that first USES it, so a parameter-only cache
#: would serve a dead session's UDF after a stop/start cycle.
_UDF_CACHE: dict = {}


def _udf_cache_key(*params):
    from pyspark.sql import SparkSession
    sess = SparkSession.getActiveSession()
    if sess is None:
        return None  # no active session: don't cache
    from photon_spark.relations import _app_id
    return (_app_id(sess),) + params


def shingles_udf(col, n: int = 3):
    """Word n-gram shingles as an Arrow-batched pandas UDF.

    Value-identical to :func:`shingles` (the Catalyst form, kept for
    schema-only callers and as the cross-check in tests) but ~5× faster:
    higher-order array expressions run in the interpreted evaluator, while
    one vectorized Python pass over an Arrow batch is cheap. Normalization
    mirrors text.normalize_text EXACTLY: Java's ``\\s`` is ASCII-only, so
    the Python regex uses the explicit ASCII class, keeping the DuckDB
    oracle (RE2, also ASCII ``\\s``) in agreement.
    """
    ck = _udf_cache_key("shingles", n)
    fn = _UDF_CACHE.get(ck) if ck else None
    if fn is None:
        @F.pandas_udf("array<string>")
        def _sh(texts: pd.Series) -> pd.Series:
            import re
            ws = re.compile(r"[ \t\n\x0b\f\r]+")
            out = []
            for t in texts:
                # spaces-only strip: after ws.sub the only ASCII
                # whitespace left is spaces, and a no-arg strip would
                # also eat Unicode whitespace that Catalyst
                # trim/normalize_text keeps
                t = ws.sub(" ", (t or "").lower()).strip(" ")
                toks = t.split(" ") if t else []
                if len(toks) < n:
                    out.append([])
                    continue
                out.append(list(dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))))
            return pd.Series(out)

        fn = _sh
        if ck:
            _UDF_CACHE[ck] = fn
    return fn(F.col(col) if isinstance(col, str) else col)


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh) — shingle arrays materialized once per doc via the
    vectorized UDF; downstream md5/explode work references the attribute."""
    from photon_spark.functions._util import spread
    return (spread(df)
            .select(F.col(id_col).alias("id"),
                    shingles_udf(text_col, n).alias("sh"))
            .where(F.size("sh") > 0))


# ----------------------------------------------------------- n-gram Jaccard

MAX_SHINGLE_DF = 1000  # posting-list cap for the inverted-index self-join


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.8,
                  max_shingle_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """n-gram Jaccard similarity pairs via a df-capped inverted index.

    Candidate generation explodes shingles and self-joins on the shingle
    key, but only through shingles whose document frequency is ≤
    ``max_shingle_df`` — without the cap one stop-shingle appearing in 10⁶
    docs yields 10¹² candidate pairs (the r1 scale-killer). Verification
    then computes the EXACT Jaccard on the full (uncapped) shingle sets of
    each candidate pair via ``array_intersect``.

    Semantics: similarity is measured over the *informative* shingle space —
    shingles above the cap are dropped from candidate generation AND from
    the per-doc set sizes (standard stop-shingle removal; with the default
    cap the two metrics coincide until a shingle really does appear in
    1000+ docs). The SQL oracle mirrors the same rule, so the correctness
    gate is deterministic either way.

    Shuffles: the postings exchange on the shingle key (shared by the
    windowed df-cap and the self-join — identical sub-plans reuse the
    exchange), one tiny per-doc-size agg, and one pair-keyed count.
    Document bodies and shingle arrays never shuffle — only (shingle, id)
    pairs.

    Lossless pruning: J(a,b) ≥ t requires |a|/|b| ≥ t (size containment),
    so the self-join carries each doc's post-cap shingle count and drops
    size-mismatched pairs BEFORE the pair shuffle (64% of candidates on the
    sf0.1 corpus). Carrying the sizes through the pair aggregation also
    removes the two per-doc-size joins the verification step used to need.
    """
    common, ex = _capped_pair_counts(df, text_col, id_col, n,
                                     max_shingle_df,
                                     size_ratio_t=threshold,
                                     prefix_t=threshold,
                                     prefix_mode="both")
    jac = F.round(F.col("n_common")
                  / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
    return _own_cache(
        common.select("lo_id", "hi_id", F.col("n_common").cast("long"),
                      jac.alias("jaccard"))
              .where(F.col("jaccard") >= threshold),
        [ex])


def _capped_pair_counts(df: DataFrame, text_col: str, id_col: str, n: int,
                        max_shingle_df: int,
                        size_ratio_t: float | None = None,
                        prefix_t: float | None = None,
                        prefix_mode: str = "both"):
    """Shared df-capped inverted-index pair counting for the Jaccard and
    containment miners: (lo_id, hi_id, n_a, n_b, n_common) plus the
    persisted postings relation the caller must own via _own_cache.

    ``size_ratio_t``: Jaccard's lossless size prune (J ≥ t ⇒ |a|/|b| ≥ t)
    applied inside the self-join; None for containment, whose quarry is
    exactly the size-mismatched pairs.

    ``prefix_t``: the PPJoin prefix filter (Chaudhuri et al., "A
    Primitive Operator for Similarity Joins"). With shingles totally
    ordered (ascending global df, rarest first, ties by value), a pair
    sharing ≥ k shingles must share one inside each doc's first
    |S| − k + 1 shingles — so only PREFIX postings need to generate
    candidates, and the candidate join shrinks from all-postings ×
    all-postings to roughly the (1−t) fraction. Lossless:

    - ``prefix_mode="both"`` (Jaccard): J ≥ t ⇒ |A∩B| ≥ t·|A| and
      ≥ t·|B|, so a shared shingle exists in BOTH prefixes (the same
      one, by the minimum-shared-element argument), and both join sides
      carry prefix postings only.
    - ``prefix_mode="min"`` (containment): C ≥ t ⇒ |A∩B| ≥ t·min —
      only the SMALLER doc's prefix is bounding, so prefix postings of
      the smaller side probe the FULL postings of the other.

    Rounding-window caveat: losslessness is w.r.t. TRUE similarity ≥ t.
    The callers' keep filter compares round(sim, 6) ≥ t, so a pair whose
    true similarity lies in [t − 5e-7, t) rounds up yet may be pruned
    here. Reaching that window needs union sizes around 4e5 shingles per
    pair (doc-length scale far beyond this corpus); if shingle-set sizes
    ever grow to that order, filter on the unrounded ratio instead.

    Candidates are then verified exactly: the distinct pair relation
    (≪ corpus by construction) joins back to the per-doc capped shingle
    arrays and n_common = |array_intersect| — identical to the old
    count-join over every co-occurrence, which at 100 TB was the
    bottleneck shuffle (every co-occurring pair moved; now only
    candidate pairs and one doc-keyed array fetch move).

    Returns ``(common, persisted)``. ``persisted`` is the POST-CAP
    (and, on the prefix path, prefix-annotated) postings relation,
    owned solely so the caller can hand it to _own_cache /
    release_cache — it is NOT a reusable pre-cap postings view; derive
    nothing from it beyond unpersisting."""
    # The capped+ranked postings feed both candidate sides and the
    # verification arrays; persist them once (MEMORY_AND_DISK). The
    # cached relation is attached to the caller's result: call
    # release_cache(result) after the action to free it deterministically.
    sh = _shingled(df, text_col, id_col, n)
    ex = sh.select("id", F.explode("sh").alias("g"))
    # The df cap as a windowed count over the shingle key: one exchange on
    # g (which the candidate join needs anyway) instead of a separate agg
    # + anti-join pass.
    wg = Window.partitionBy("g")
    exd = (ex.withColumn("_df_g", F.count(F.lit(1)).over(wg))
             .where(F.col("_df_g") <= max_shingle_df))
    if prefix_t is None:
        # Direct count-join (no threshold semantics to prune with):
        # sizes over the capped space via a tiny (id, deg) agg that AQE
        # broadcasts back onto the postings.
        exr = exd.drop("_df_g")
        exp = exr.persist()
        deg = exp.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        exs = exp.join(deg, "id")
        a, b = exs.alias("a"), exs.alias("b")
        cond = (F.col("a.g") == F.col("b.g")) & \
               (F.col("a.id") < F.col("b.id"))
        if size_ratio_t is not None:
            cond = cond & _size_ratio_cond(size_ratio_t)
        common = (a.join(b, cond)
                   .groupBy(F.col("a.id").alias("lo_id"),
                            F.col("b.id").alias("hi_id"),
                            F.col("a.deg").alias("n_a"),
                            F.col("b.deg").alias("n_b"))
                   .agg(F.count(F.lit(1)).alias("n_common")))
        return common, exp
    # Prefix path: one id-keyed window pass stamps deg + the global-df
    # rank; ceil(t·deg − 1e-9) keeps the prefix length lossless when
    # t·deg lands a hair above an exact integer (double noise can only
    # LENGTHEN the prefix, never shorten it — sizes are integers).
    wid = Window.partitionBy("id")
    wrk = Window.partitionBy("id").orderBy(F.asc("_df_g"), F.asc("g"))
    k_req = F.ceil(F.col("deg") * F.lit(prefix_t) - F.lit(1e-9))
    exs = (exd.withColumn("deg", F.count(F.lit(1)).over(wid))
              .withColumn("rk", F.row_number().over(wrk))
              .withColumn("is_pref",
                          F.col("rk") <= F.col("deg") - k_req + 1)
              .drop("_df_g", "rk")
              .persist())
    pref = exs.where("is_pref").select("id", "g", "deg")
    if prefix_mode == "both":
        a, b = pref.alias("a"), pref.alias("b")
        cond = (F.col("a.g") == F.col("b.g")) & \
               (F.col("a.id") < F.col("b.id"))
        if size_ratio_t is not None:
            cond = cond & _size_ratio_cond(size_ratio_t)
        cand = (a.join(b, cond)
                 .select(F.col("a.id").alias("lo_id"),
                         F.col("b.id").alias("hi_id"))
                 .distinct())
    elif prefix_mode == "min":
        # smaller doc's prefix probes the other doc's FULL postings;
        # on equal sizes the minimum-shared-element argument applies to
        # either doc, so p.deg <= f.deg keeps one valid orientation.
        full = exs.select(F.col("id").alias("f_id"),
                          F.col("g").alias("f_g"),
                          F.col("deg").alias("f_deg"))
        p = pref.select(F.col("id").alias("p_id"),
                        F.col("g").alias("p_g"),
                        F.col("deg").alias("p_deg"))
        cand = (p.join(full,
                       (F.col("p_g") == F.col("f_g")) &
                       (F.col("p_id") != F.col("f_id")) &
                       (F.col("p_deg") <= F.col("f_deg")))
                 .select(F.least("p_id", "f_id").alias("lo_id"),
                         F.greatest("p_id", "f_id").alias("hi_id"))
                 .distinct())
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown prefix_mode {prefix_mode!r}")
    # Exact verification on the candidate pair relation only. The
    # grouping reuses exs's id-partitioning (no extra exchange), and the
    # shingle arrays travel once per candidate doc, not per co-occurrence.
    arr = exs.groupBy("id").agg(F.sort_array(F.collect_list("g")).alias("sh"),
                                F.count(F.lit(1)).alias("deg"))
    common = (cand
              .join(arr.select(F.col("id").alias("lo_id"),
                               F.col("sh").alias("sh_a"),
                               F.col("deg").alias("n_a")), "lo_id")
              .join(arr.select(F.col("id").alias("hi_id"),
                               F.col("sh").alias("sh_b"),
                               F.col("deg").alias("n_b")), "hi_id")
              .select("lo_id", "hi_id", "n_a", "n_b",
                      F.size(F.array_intersect("sh_a", "sh_b"))
                       .cast("long").alias("n_common")))
    return common, exs


def _size_ratio_cond(size_ratio_t: float):
    # 1e-9 slack keeps the prune lossless at exact-ratio boundaries
    # (5 * double(0.8) = 4.0000000000000002 would otherwise drop a pair
    # with sizes 4/5 whose true jaccard can be exactly 0.8 = threshold);
    # sizes are integers, so the slack can never admit a truly-below
    # pair.
    t = F.lit(size_ratio_t)
    eps = F.lit(1e-9)
    return (F.col("a.deg") * t <= F.col("b.deg") + eps) & \
           (F.col("b.deg") * t <= F.col("a.deg") + eps)


# ------------------------------------------------------------------- MinHash

def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.9,
                      max_shingle_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Near-containment mining: C(a,b) = |A∩B| / min(|A|, |B|) — the
    doc-inside-doc signal (quotes, concatenations, boilerplate wrappers)
    that Jaccard structurally misses when sizes differ: a short doc fully
    embedded in one 3× its size has C = 1.0 but J ≤ 0.33, invisible to
    every Jaccard-thresholded miner.

    Same df-capped inverted index as :func:`jaccard_pairs` (literally —
    the shared :func:`_capped_pair_counts`; postings exchange on the
    shingle key, bodies never shuffle) but WITHOUT the size-ratio prune —
    size-mismatched pairs are precisely the quarry.
    Returns (lo_id, hi_id, n_common, containment, jaccard): the jaccard
    column shows which containment hits a Jaccard dedup would have kept.
    """
    common, ex = _capped_pair_counts(df, text_col, id_col, n,
                                     max_shingle_df, size_ratio_t=None,
                                     prefix_t=threshold,
                                     prefix_mode="min")
    cont = F.round(F.col("n_common")
                   / F.least(F.col("n_a"), F.col("n_b")), 6)
    jac = F.round(F.col("n_common")
                  / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
    return _own_cache(
        common.select("lo_id", "hi_id", "n_common",
                      cont.alias("containment"), jac.alias("jaccard"))
              .where(F.col("containment") >= threshold),
        [ex])


def minhash_signature(col, num_hashes: int = 16, shingle_n: int = 3):
    """MinHash signature: for seed s, min(md5(s || shingle)) over the
    shingle set. md5 hex min is a valid uniform min-hash and is portable to
    the SQL oracle. Returns array<string> of length num_hashes (empty-shingle
    docs get NULL sentinel mins)."""
    sh = shingles(col, shingle_n)
    return F.array(*[
        F.array_min(F.transform(sh, lambda g: F.md5(F.concat(F.lit(f"{s}:"), g))))
        for s in range(num_hashes)])


def minhash_sig_udf(sh_col, num_hashes: int = 16):
    """MinHash signatures from a shingle-array column as one Arrow-batched
    pandas UDF — value-identical to :func:`minhash_signature` (pinned in
    tests) but one vectorized pass instead of ``num_hashes`` interpreted
    higher-order folds per row. Python's hashlib md5 hex == Spark md5 ==
    DuckDB md5 (UTF-8 bytes), so oracle parity is preserved."""
    ck = _udf_cache_key("minhash_sig", num_hashes)
    fn = _UDF_CACHE.get(ck) if ck else None
    if fn is None:
        @F.pandas_udf("array<string>")
        def _sig(shs: pd.Series) -> pd.Series:
            import hashlib
            seeds = [f"{s}:".encode() for s in range(num_hashes)]
            out = []
            for sh in shs:
                if sh is None or len(sh) == 0:
                    out.append([None] * num_hashes)
                    continue
                gs = [g.encode() for g in sh]
                out.append([min(hashlib.md5(p + g).hexdigest()
                                for g in gs)
                            for p in seeds])
            return pd.Series(out)

        fn = _sig
        if ck:
            _UDF_CACHE[ck] = fn
    return fn(F.col(sh_col) if isinstance(sh_col, str) else sh_col)


def minhash_band_buckets(sh_df: DataFrame, num_hashes: int = 16,
                         bands: int = 4,
                         _sig_df: DataFrame | None = None) -> DataFrame:
    """(id, band, bucket) LSH band index from a shingled relation
    (``_shingled`` output): the minhash signature split into ``bands``
    bands of ``num_hashes/bands`` rows, each band hashed to one short
    digest. This is the persisted "dedup index" shape at scale — a table
    bucketed by (band, bucket) joins new data against the corpus without
    touching text."""
    rows_per_band = num_hashes // bands
    # Materialize shingles ONCE as a column, then derive the 16 min-hashes
    # from the column reference in one vectorized Arrow pass — the Catalyst
    # form (minhash_signature) runs num_hashes interpreted folds per row.
    # Callers that already hold an (id, sig) relation pass it via _sig_df
    # so the signature UDF runs exactly once per corpus pass.
    sig = (_sig_df if _sig_df is not None
           else sh_df.select("id",
                             minhash_sig_udf("sh", num_hashes).alias("sig")))
    # One row per (doc, band) via a single explode — one scan, not `bands`.
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat_ws("|", F.slice("sig", b * rows_per_band + 1,
                                                rows_per_band))).alias("bucket"))
        for b in range(bands)])
    return (sig.select("id", F.explode(band_arr).alias("bb"))
               .select("id", F.col("bb.band").alias("band"),
                       F.col("bb.bucket").alias("bucket")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4, shingle_n: int = 3,
                           _shingled_df: DataFrame | None = None,
                           _sig_df: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs agreeing on any full band are candidates.

    Shuffle is keyed by (band_idx, band_hash) — short digests, never text.
    Returns distinct (lo_id, hi_id) candidate pairs. ``_sig_df``: optional
    precomputed (id, sig) relation so a caller that also needs the
    signatures pays the signature UDF once.
    """
    sh = (_shingled_df if _shingled_df is not None
          else _shingled(df, text_col, id_col, shingle_n))
    buckets = minhash_band_buckets(sh, num_hashes, bands, _sig_df=_sig_df)
    a, b_ = buckets.alias("a"), buckets.alias("b")
    return (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("lo_id"), F.col("b.id").alias("hi_id"))
             .distinct())


def verify_candidate_pairs(cands: DataFrame, sh: DataFrame,
                           threshold: float, left: str = "lo_id",
                           right: str = "hi_id",
                           sh_right: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate (left, right) id pairs:
    join each side's shingle array, score |∩| / |∪|, round to 6dp, keep
    pairs ≥ threshold. THE single verify definition — the batch miner,
    the incremental miner, the calibration audit, and the streaming
    corpus ingest all share it, so the 6dp rounding and the
    greatest(union, 1) guard can never drift apart between them (the
    oracle gate and the streaming no-dup invariant both depend on
    value-identical verification).

    ``sh_right``: optional distinct shingled relation for the right side
    (e.g. corpus vs new-batch in the streaming ingest)."""
    j = (cands
         .join(sh.select(F.col("id").alias(left),
                         F.col("sh").alias("sh_a")), left)
         .join((sh_right if sh_right is not None else sh)
               .select(F.col("id").alias(right),
                       F.col("sh").alias("sh_b")), right))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (j.select(left, right,
                     F.round(inter / F.greatest(union, F.lit(1)), 6)
                      .alias("jaccard"))
             .where(F.col("jaccard") >= threshold))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 16,
                            bands: int = 4, shingle_n: int = 3,
                            threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verification
    (only on candidates) → pairs with jaccard ≥ threshold.

    The shingled relation feeds the signature branch and both verification
    joins; persisted once (same rationale as jaccard_pairs — call
    :func:`release_cache` on the result to free it deterministically)."""
    sh = _shingled(df, text_col, id_col, shingle_n).persist()
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                   shingle_n, _shingled_df=sh)
    return _own_cache(verify_candidate_pairs(cands, sh, threshold), [sh])


# ------------------------------------------------------------------- SimHash

def simhash16(col):
    """16-bit SimHash over word tokens: bit j is the sign of the sum over
    tokens of ±1 according to hex digit j of md5(token) being >= '8'.

    Hex-digit comparison is portable to the oracle ('8'..'f' sorts above
    '0'..'7' in ASCII for both engines). Returns an int in [0, 65535].
    """
    toks = F.transform(tokens(col), lambda t: F.md5(F.lower(t)))
    out = F.lit(0)
    for j in range(16):
        votes = F.aggregate(
            toks, F.lit(0),
            lambda acc, h: acc + F.when(
                F.substring(h, j + 1, 1) >= "8", 1).otherwise(-1))
        out = out + F.when(votes > 0, F.lit(1 << j)).otherwise(0)
    return out.cast("long")


def simhash64(texts):
    """64-bit SimHash over word tokens as an Arrow-batched pandas UDF.

    64 JVM-side ``F.aggregate`` passes over the token array would be 64
    interpreted folds per row; one vectorized numpy pass (md5 digest →
    unpackbits → column sums) is the right engineering for a 64-bit sketch.
    Tokenization matches :func:`photon_spark.functions.text.tokens`
    (whitespace split of the trimmed text), hashing matches the 16-bit
    variant (md5 of the lowercased token).
    """

    @F.pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        import hashlib
        import re

        import numpy as np

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = []
        for t in texts:
            # identical tokenization contract to text.tokens: spaces-only
            # trim then ASCII-\s+ split (Python's no-arg str.split would
            # split on Unicode whitespace and drop empty tokens — a
            # different signature for edge-whitespace docs)
            trimmed = (t or "").strip(" ")
            toks = ws.split(trimmed) if trimmed else []
            if not toks:
                out.append(0)
                continue
            bits = np.frombuffer(
                b"".join(hashlib.md5(tok.lower().encode()).digest()[:8]
                         for tok in toks),
                dtype=np.uint8).reshape(len(toks), 8)
            ones = np.unpackbits(bits, axis=1).sum(axis=0)
            sig = 0
            for j, c in enumerate(ones):
                if 2 * int(c) > len(toks):
                    sig |= 1 << (63 - j)
            if sig >= 1 << 63:
                sig -= 1 << 64
            out.append(sig)
        return pd.Series(out)

    return _sim(F.col(texts) if isinstance(texts, str) else texts)


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", hamming: int = 3,
                           bands: int = 4) -> DataFrame:
    """Near-dup pairs within a Hamming radius of the 64-bit simhash.

    Banded probe: the 64-bit signature splits into ``bands`` sub-keys
    (16 bits each at the default); a pair within Hamming ≤ bands-1 MUST
    agree on at least one full band (pigeonhole), so equal-band buckets are
    a lossless candidate generator for ``hamming <= bands - 1``. Exact
    verification = ``bit_count(xor) <= hamming`` on candidates only — no
    cross product, shuffle keyed by (band, 16-bit key).

    At 100 TB: band keys are persisted partition columns; candidate
    generation is a per-bucket join, verification touches candidates only.
    """
    assert hamming <= bands - 1, "banded probe is lossless only for h <= bands-1"
    width = 64 // bands
    sig = df.select(F.col(id_col).alias("id"),
                    simhash64(text_col).alias("sig"))
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 (F.shiftrightunsigned("sig", b * width)
                  .bitwiseAND(F.lit((1 << width) - 1))).alias("key"))
        for b in range(bands)])
    buckets = (sig.select("id", "sig", F.explode(band_arr).alias("bb"))
                  .select("id", "sig", F.col("bb.band").alias("band"),
                          F.col("bb.key").alias("key")))
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("lo_id"),
                      F.col("b.id").alias("hi_id"),
                      F.col("a.sig").alias("sig_a"),
                      F.col("b.sig").alias("sig_b"))
              .distinct())
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cands.select("lo_id", "hi_id", dist.alias("hamming"))
                 .where(F.col("hamming") <= hamming))


def simhash16_udf(texts):
    """Vectorized twin of :func:`simhash16`: identical md5-hex-digit votes
    (bit j set iff more tokens have hex digit j >= '8' than below), one
    Python pass instead of 16 interpreted aggregate folds. Tokenization
    matches text.tokens (Java-ASCII whitespace split of the trimmed
    text)."""

    @F.pandas_udf("long")
    def _sim(col: pd.Series) -> pd.Series:
        import hashlib
        import re
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = []
        for t in col:
            # spaces-only trim, exactly like text.tokens (Spark/DuckDB trim
            # strips the space character only) — a leading tab yields the
            # same leading empty token as the Catalyst form
            trimmed = (t or "").strip(" ")
            toks = ws.split(trimmed) if trimmed else []
            sig = 0
            if toks:
                votes = [0] * 16
                for tok in toks:
                    h = hashlib.md5(tok.lower().encode("utf-8")).hexdigest()
                    for j in range(16):
                        votes[j] += 1 if h[j] >= "8" else -1
                for j in range(16):
                    if votes[j] > 0:
                        sig |= 1 << j
            out.append(sig)
        return pd.Series(out)

    return _sim(F.col(texts) if isinstance(texts, str) else texts)


def simhash_duplicates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup groups = equal 16-bit simhash buckets (size > 1). The
    SQL-checkable core (computed by the vectorized UDF, value-identical to
    the Catalyst :func:`simhash16` — pinned in tests); the scale/recall
    path is :func:`simhash_near_dup_pairs` (64-bit + banded Hamming
    probe)."""
    from photon_spark.functions._util import spread
    return (spread(df)
              .select(F.col(id_col), simhash16_udf(text_col).alias("simhash"))
              .groupBy("simhash")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.min(id_col).alias("keep_id"))
              .where(F.col("n_docs") > 1))


# -------------------------------------------------- embedding near-duplicate

def embedding_near_duplicates_bruteforce(df: DataFrame,
                                         vec_col: str = "embedding",
                                         id_col: str = "vec_id",
                                         threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs via the all-pairs join — the O(n²)
    pytest oracle for :func:`embedding_near_duplicates`. Not the shipped
    query path (at 100× the data it is 10,000× the work)."""
    from photon_spark.functions.similarity import dot, norm
    from photon_spark.functions._util import spread
    v = (spread(df)
         .select(F.col(id_col).alias("id"),
                 F.transform(F.col(vec_col), lambda x: x.cast("double"))
                 .alias("v"))
         .select("id", "v", norm(F.col("v")).alias("nv")))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    return (pairs.select(F.col("a.id").alias("lo_id"),
                         F.col("b.id").alias("hi_id"),
                         F.round(cos, 6).alias("cosine"))
                 .where(F.col("cosine") >= threshold))


def embedding_near_duplicates(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.95,
                              n_blocks: int = 16) -> DataFrame:
    """Exact embedding-cosine pair mining, blocked-GEMM design.

    Exact all-pairs mining at a low threshold is inherently O(n²) *flops* —
    the scalable question is how those flops run. The r1 shipped plan was a
    broadcast-nested-loop join evaluating an interpreted ``zip_with`` dot
    per pair; this version does the pair scan as dense matrix products:

    1. each vector lands in one of ``n_blocks`` blocks (id mod —
       deterministic, balanced for sequential ids); each block packs its
       L2-normalized float64 matrix into a single Arrow blob (one linear
       shuffle of the vectors, the only time vectors move);
    2. the n_blocks·(n_blocks+1)/2 block *pairs* fan out across executors;
       each computes one numpy GEMM (A·Bᵀ) and screens candidate id pairs
       above ``threshold - 1e-6`` — O(n²/B²) flops per task at BLAS speed;
    3. survivors (a tiny set) are re-verified in the same task with a
       strictly sequential left-associated float64 fold — bit-identical to
       the Catalyst ``aggregate(zip_with(..))`` expression the all-pairs
       SQL oracle matches (GEMM reassociates float adds; the margin makes
       the screen a superset, the sequential recompute makes it exact).

    At 100 TB: blocks become persisted buckets, step 2 is a bucket-pair
    manifest (no shuffle of vectors), and the same GEMM kernel runs per
    bucket pair; for high thresholds swap step 2's full manifest for
    LSH-bucketed candidate pairs (similarity.rp_signature).
    """
    import pickle

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"))

    def pack(key, pdf):
        import numpy as np
        ids = pdf["id"].to_numpy(dtype="int64")
        mat = np.array([np.asarray(x, dtype="float64") for x in pdf["v"]])
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return pd.DataFrame({
            "blk": [int(key[0])],
            "ids": [pickle.dumps(ids)],
            "mat": [pickle.dumps(mat)],
            "nmat": [pickle.dumps(mat / nrm)],
        })

    packed = v.groupBy("blk").applyInPandas(
        pack, schema="blk long, ids binary, mat binary, nmat binary")
    pa = packed.select(F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
                       F.col("mat").alias("mat_a"), F.col("nmat").alias("nmat_a"))
    pb = packed.select(F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
                       F.col("mat").alias("mat_b"), F.col("nmat").alias("nmat_b"))
    block_pairs = pa.join(F.broadcast(pb), F.col("blk_a") <= F.col("blk_b"))

    margin = threshold - 1e-6

    def _seq_cosine(a, b):
        """Left-associated sequential fold, matching Catalyst
        aggregate(zip_with(a,b,*), 0.0, +) / (norm(a)*norm(b)) and the
        DuckDB oracle bit-for-bit at 6dp."""
        import math
        s = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            s += x * y
            na += x * x
            nb += y * y
        d = math.sqrt(na) * math.sqrt(nb)
        return s / d if d else 0.0

    def gemm(batches):
        import numpy as np
        for pdf in batches:
            out_lo, out_hi, out_cos = [], [], []
            for rec in pdf.itertuples(index=False):
                ids_a, mat_a = pickle.loads(rec.ids_a), pickle.loads(rec.mat_a)
                ids_b, mat_b = pickle.loads(rec.ids_b), pickle.loads(rec.mat_b)
                sims = pickle.loads(rec.nmat_a) @ pickle.loads(rec.nmat_b).T
                mask = sims >= margin
                if rec.blk_a == rec.blk_b:
                    mask &= ids_a[:, None] < ids_b[None, :]
                for i, j in zip(*np.nonzero(mask)):
                    c = round(_seq_cosine(mat_a[i].tolist(),
                                          mat_b[j].tolist()), 6)
                    if c >= threshold:
                        ia, jb = int(ids_a[i]), int(ids_b[j])
                        out_lo.append(min(ia, jb))
                        out_hi.append(max(ia, jb))
                        out_cos.append(c)
            if out_lo:
                yield pd.DataFrame({"lo_id": out_lo, "hi_id": out_hi,
                                    "cosine": out_cos})

    return block_pairs.mapInPandas(
        gemm, schema="lo_id long, hi_id long, cosine double")


# ------------------------------------------------------ cluster assignment

def dup_clusters(pairs: DataFrame, max_iters: int = 25,
                 local_threshold: int = 500_000) -> DataFrame:
    """Connected components over a (lo_id, hi_id) duplicate-pair relation:
    → DataFrame[id, cluster_id] with cluster_id = min doc id reachable —
    the keeper-selection step every dedup pipeline runs after pair mining.

    Adaptive execution (the same small-side switch Spark itself makes for
    broadcast joins): the deduped edge relation is counted once, and when
    it fits comfortably on the driver (≤ ``local_threshold`` edges) the
    components come from an in-memory union-find — a duplicate-pair graph
    is orders of magnitude smaller than its corpus, so this is the common
    case even at large scale. Above the threshold: iterative min-label
    propagation — label(v) ← min(label(v), labels of neighbours) to
    fixpoint (≤ diameter rounds), one keyed join + one aggregate per
    round, with `localCheckpoint` truncating the lineage so the plan
    doesn't grow (the Pregel shape GraphX/GraphFrames use). Both paths
    produce identical labels (pinned in tests, which force the
    distributed path with ``local_threshold=0``).
    """
    # symmetrize in ONE pass (a union of two selects would execute the
    # upstream pair-mining plan twice)
    edges = (pairs.select(F.explode(F.array(
                F.struct(F.col("lo_id").alias("src"),
                         F.col("hi_id").alias("dst")),
                F.struct(F.col("hi_id").alias("src"),
                         F.col("lo_id").alias("dst")))).alias("e"))
             .select("e.src", "e.dst")
             .distinct().localCheckpoint())
    if edges.count() <= local_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # one collect, not toLocalIterator: the iterator fetches shuffle
        # partitions SEQUENTIALLY (one driver round trip each — dozens of
        # tiny jobs for a relation the ≤ local_threshold guard already
        # proved driver-small); a single collect is one job (guide §1.2:
        # driver round trips dominate small iterative graph steps)
        for row in edges.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # union by min so the root IS the min id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(x, find(x)) for x in parent]
        return pairs.sparkSession.createDataFrame(
            rows, "id long, cluster_id long")
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id"))
              .localCheckpoint())
    for _ in range(max_iters):
        neigh_min = (edges.join(labels.withColumnRenamed("id", "dst")
                                      .withColumnRenamed("cluster_id", "nl"),
                                "dst")
                     .groupBy(F.col("src").alias("id"))
                     .agg(F.min("nl").alias("nmin")))
        updated = (labels.join(neigh_min, "id", "left")
                   .select("id", F.least(
                       F.col("cluster_id"),
                       F.coalesce(F.col("nmin"), F.col("cluster_id")))
                       .alias("cluster_id"))
                   .localCheckpoint())
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .where(F.col("u.cluster_id") != F.col("l.cluster_id"))
                   .count())
        labels = updated
        if changed == 0:
            return labels
    raise RuntimeError(f"dup_clusters did not converge in {max_iters} rounds")


# ------------------------------------------------- multi-source BFS

def bfs_hops(edges: DataFrame, seeds: DataFrame,
             max_hops: int) -> DataFrame:
    """Multi-source frontier BFS: min hop distance from any seed, with
    columns (doc_id, hops long).

    ``edges`` must be the DIRECTED expansion (both orientations of an
    undirected edge) with columns (src, dst); ``seeds`` has (doc_id).
    Each round advances the frontier one hop with a single hash join,
    dedupes it, and anti-joins the visited union so a vertex is
    emitted only at its FIRST reaching — min-hop by construction, no
    per-vertex min aggregate needed. Frontiers ``localCheckpoint`` so
    lineage TRUNCATES per round (the dup_clusters convention);
    merely persisting keeps the full recursive plan text, round k
    re-derives rounds 1..k-1 on a cache miss, and the nested lineage
    defeats plan-budget inspection. Production callers add
    ``if frontier.isEmpty(): break``; gated callers keep the fixed
    depth so the job count (and the plan) is deterministic.
    """
    frontier = (seeds.select("doc_id", F.lit(0).alias("hops"))
                     .localCheckpoint())
    visited = frontier
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(edges, frontier.doc_id == edges.src)
                       .select(F.col("dst").alias("doc_id"))
                       .distinct()
                       .join(visited.select("doc_id"), "doc_id",
                             "left_anti")
                       .select("doc_id", F.lit(h).alias("hops"))
                       .localCheckpoint())
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.select("doc_id",
                          F.col("hops").cast("long").alias("hops"))
