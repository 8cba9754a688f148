"""North-star operator tests: text analysis, dedup, similarity, multimodal
plumbing. Correctness vs DuckDB is covered by tools/check_correctness.py;
these pin behaviors the oracle can't express (recall, batch shapes,
stub seams)."""

import pytest
from pyspark.sql import functions as F

from photon_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# ------------------------------------------------------------------- text

def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("",), ("  ",), ("one",), (" a  b   c ",)], "text string")
    got = [r[0] for r in df.select(text.token_count("text")).collect()]
    assert got == [0, 0, 1, 3]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), (" HELLO WORLD ",)],
        "text string")
    fps = [r[0] for r in df.select(text.fingerprint("text")).collect()]
    assert len(set(fps)) == 1


def test_quality_score_range(docs):
    rows = docs.select(text.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_text_profile_fast_equals_catalyst(docs):
    # The shipped Arrow-batched profile must be bit-identical to the
    # pure-Catalyst reference implementation (including HALF_UP rounding on
    # shortest-repr boundaries).
    fast = sorted(tuple(r) for r in text.text_profile(docs).collect())
    cat = sorted(tuple(r) for r in text.text_profile_catalyst(docs).collect())
    assert fast == cat


EDGE_WS_DOCS = ["\tfoo bar", "foo bar\n", "\t", "", "  ", " x ", "a\xa0b",
                "\x0bx", "the cat\tand the dog\n", "  mixed \t ws \n doc  "]


def test_text_profile_edge_whitespace_parity(spark):
    # Tokenization trims SPACES ONLY before the ASCII-\s+ split (Spark trim
    # == DuckDB trim == strip(' ')), so '\tfoo bar' yields a leading empty
    # token and 'foo bar\n' a trailing one on BOTH paths; NBSP (\xa0) is
    # not whitespace anywhere; \x0b IS Java/Python-ASCII whitespace (the
    # DuckDB RE2 gap on \x0b is pinned in test_parity_rules).
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_WS_DOCS)],
        "doc_id long, text string")
    fast = sorted(tuple(r) for r in text.text_profile(df).collect())
    cat = sorted(tuple(r) for r in text.text_profile_catalyst(df).collect())
    assert fast == cat
    by_id = {t[0]: t for t in fast}
    assert by_id[0][2] == 3  # '\tfoo bar' → ['', 'foo', 'bar']
    assert by_id[1][2] == 3  # 'foo bar\n' → ['foo', 'bar', '']
    assert by_id[2][2] == 2  # '\t' → ['', '']
    assert by_id[3][2] == 0  # '' → []
    assert by_id[6][2] == 1  # NBSP does not split


# ------------------------------------------------------------------ dedup

def test_exact_dedup_removes_planted_dup(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "Alpha  Beta gamma"), (3, "other")],
        "doc_id long, text string")
    kept = dedup.dedup_exact(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_shingles_small_inputs(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    got = [r[0] for r in df.select(dedup.shingles("text", 3)).collect()]
    assert got[0] == []
    assert sorted(got[1]) == ["a b c", "b c d"]


def test_jaccard_prefix_filter_is_lossless(docs):
    # The PPJoin prefix filter must find EXACTLY the pairs a naive
    # all-pairs pass over the same (capped) shingle space finds.
    sh = {r["id"]: set(r["sh"]) for r in
          dedup._shingled(docs, "text", "doc_id", 3).collect()}
    ids = sorted(sh)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            union = len(sh[a]) + len(sh[b]) - inter
            if round(inter / union, 6) >= 0.8:
                expected.add((a, b, inter))
    got = {(r["lo_id"], r["hi_id"], r["n_common"])
           for r in dedup.jaccard_pairs(docs, threshold=0.8).collect()}
    assert expected and got == expected


def test_minhash_sig_udf_equals_catalyst(docs):
    # The shipped vectorized signature must be value-identical to the
    # Catalyst reference form (same seeds, md5-of-UTF8, min over shingles).
    from photon_spark.functions.dedup import _shingled, minhash_sig_udf
    sh = _shingled(docs.limit(200), "text", "doc_id", 3)
    fast = {r["id"]: r["s"] for r in
            sh.select("id", minhash_sig_udf("sh", 8).alias("s")).collect()}
    def _min_for_seed(s):
        p = F.lit(f"{s}:")  # closed over OUTSIDE the 1-arg lambda
        return F.array_min(F.transform("sh", lambda g: F.md5(F.concat(p, g))))
    cat = {r["id"]: r["s"] for r in
           sh.select("id", F.array(*[
               _min_for_seed(s) for s in range(8)]).alias("s")).collect()}
    assert fast == cat and fast


def test_minhash_lsh_finds_exact_jaccard_pairs(docs):
    # LSH with 4 bands of 4 over jaccard>=0.8 pairs: near-certain recall
    # (p = 1-(1-j^4)^4 ≈ 0.996 at j=0.8; planted pairs are j≈0.99).
    exact = {(r["lo_id"], r["hi_id"])
             for r in dedup.jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r["lo_id"], r["hi_id"])
           for r in dedup.minhash_near_duplicates(docs, threshold=0.7).collect()}
    assert exact, "testdata should contain planted near-dups"
    assert exact <= lsh  # every high-jaccard pair is caught


def test_dup_clusters_known_graph(spark):
    # components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,7}; pair order and
    # direction must not matter. Both the local union-find and the
    # distributed label-propagation path (forced via local_threshold=0)
    # must produce identical labels.
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 9), (5, 7)], "lo_id long, hi_id long")
    expect = {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}
    local = {r["id"]: r["cluster_id"]
             for r in dedup.dup_clusters(pairs).collect()}
    dist = {r["id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs,
                                        local_threshold=0).collect()}
    assert local == expect and dist == expect
    # empty pair relation → empty labels on both paths
    empty = spark.createDataFrame([], "lo_id long, hi_id long")
    assert dedup.dup_clusters(empty).count() == 0
    assert dedup.dup_clusters(empty, local_threshold=0).count() == 0


def test_release_cache_unpersists_intermediates(docs):
    # jaccard_pairs / minhash_near_duplicates persist an intermediate
    # relation; the caller releases it via release_cache once the action
    # has run (library sessions must not accumulate cached blocks).
    res = dedup.jaccard_pairs(docs, threshold=0.8)
    res.count()
    cached = getattr(res, "_photon_cached", [])
    assert cached and all(c.storageLevel.useMemory for c in cached)
    dedup.release_cache(res)
    assert all(not c.storageLevel.useMemory for c in cached)
    # no-op on DataFrames without cached dependencies
    dedup.release_cache(docs)


def test_simhash_collides_near_dups(docs):
    # The shipped near-dup operator (64-bit simhash + banded Hamming<=3
    # probe) catches most jaccard>=0.9 pairs; the 16-bit bucket variant is
    # only the SQL-oracle core and is not expected to have this recall.
    pairs = dedup.jaccard_pairs(docs, threshold=0.9).collect()
    assert pairs, "testdata should contain planted near-dups"
    caught = {(r["lo_id"], r["hi_id"])
              for r in dedup.simhash_near_dup_pairs(docs, hamming=3).collect()}
    hits = sum(1 for p in pairs if (p["lo_id"], p["hi_id"]) in caught)
    assert hits >= len(pairs) * 0.6


def test_simhash16_udf_equals_catalyst(docs):
    # the vectorized 16-bit simhash must match the Catalyst expression form
    rows = docs.select(dedup.simhash16("text").alias("a"),
                       dedup.simhash16_udf("text").alias("b")).collect()
    assert all(r["a"] == r["b"] for r in rows)


def test_simhash16_udf_equals_catalyst_edge_whitespace(spark):
    # same pin on the edge-whitespace docs (leading tab → empty token whose
    # md5('') votes must agree between the UDF and the Catalyst fold)
    df = spark.createDataFrame([(t,) for t in EDGE_WS_DOCS], "text string")
    rows = df.select(dedup.simhash16("text").alias("a"),
                     dedup.simhash16_udf("text").alias("b")).collect()
    assert all(r["a"] == r["b"] for r in rows)


def test_simhash64_ascii_tokenization_contract(spark):
    # simhash64 tokenizes like text.tokens: ASCII \s+ split of the
    # spaces-trimmed text. 'a\xa0b' is ONE token (NBSP is not ASCII
    # whitespace), so its signature is exactly the top 8 md5 bytes of the
    # single token — Python's no-arg str.split() would have made two.
    import hashlib
    sig = spark.createDataFrame([("a\xa0b",)], "text string").select(
        dedup.simhash64("text").alias("s")).first()["s"]
    want = int.from_bytes(hashlib.md5("a\xa0b".encode()).digest()[:8], "big")
    if want >= 1 << 63:
        want -= 1 << 64
    assert sig == want


def test_simhash_banded_probe_is_lossless(docs):
    # Pigeonhole guarantee: 4 bands of 16 bits can't all be corrupted by
    # <=3 bit flips, so the banded candidates reproduce the brute-force
    # hamming<=3 pair set EXACTLY.
    sig = {r["doc_id"]: r["s"] for r in
           docs.select("doc_id", dedup.simhash64("text").alias("s")).collect()}
    ids = sorted(sig)
    mask = (1 << 64) - 1

    def ham(a, b):
        return bin((sig[a] ^ sig[b]) & mask).count("1")

    brute = {(a, b, ham(a, b)) for i, a in enumerate(ids)
             for b in ids[i + 1:] if ham(a, b) <= 3}
    got = {(r["lo_id"], r["hi_id"], r["hamming"])
           for r in dedup.simhash_near_dup_pairs(docs, hamming=3).collect()}
    assert got == brute


def test_embedding_blocked_miner_equals_bruteforce(emb):
    # The shipped blocked-GEMM pair miner must reproduce the all-pairs
    # oracle EXACTLY (ids and 6dp cosines).
    brute = {(r["lo_id"], r["hi_id"], r["cosine"]) for r in
             dedup.embedding_near_duplicates_bruteforce(
                 emb, threshold=0.35).collect()}
    blocked = {(r["lo_id"], r["hi_id"], r["cosine"]) for r in
               dedup.embedding_near_duplicates(emb, threshold=0.35).collect()}
    assert brute and blocked == brute


# -------------------------------------------------------------- similarity

def test_lsh_topk_recall(emb):
    exact = [r["vec_id"] for r in
             similarity.brute_force_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.lsh_topk(emb, 0, k=10).collect()]
    # Hamming-2 probe of 22/64 buckets: partial recall by design (the data's
    # max cosine is ~0.48, i.e. ~60° angles — far neighbors for RP-LSH).
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_topk_recall(emb):
    exact = [r["vec_id"] for r in
             similarity.brute_force_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(emb, 0, k=10, n_cells=8, n_probe=4).collect()]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_pq_topk_recall_and_pruning(emb):
    # The composed index must (a) keep recall comparable to PQ-alone on
    # this corpus, and (b) only ever return ids from the probed cells —
    # the pruning property that makes it the 100 TB serving shape.
    exact = [r["vec_id"] for r in
             similarity.brute_force_topk(emb, 0, k=10).collect()]
    got = [r["vec_id"] for r in
           similarity.ivf_pq_topk(emb, 0, k=10, n_cells=16, n_probe=4,
                                  m_sub=4, ks=16, rerank=100).collect()]
    assert len(got) == 10
    assert len(set(exact) & set(got)) >= 3
    cents = similarity.ivf_train_cells(emb, 16)
    assigned = {r["vec_id"]: r["cell_id"]
                for r in similarity.ivf_assign_cells(emb, cents).collect()}
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    probe = similarity.probe_cells(cents, qv, 4)
    assert all(assigned[v] in probe for v in got)


def test_quantize_error_bounded_by_half_scale(emb):
    # symmetric int8: reconstruction error of any element is ≤ scale/2
    # (+1 ulp headroom); exactly the max-|x| element(s) reach full scale
    # (|q| = 127), so n_saturated ≥ 1 and stays tiny.
    from photon_spark.functions.similarity import quantize_error_cols
    rows = emb.limit(300).select(
        quantize_error_cols("embedding").alias("q")).collect()
    assert rows
    for r in rows:
        q = r["q"]
        assert q["max_abs_err"] <= q["scale"] / 2 * (1 + 1e-12)
        assert 1 <= q["n_saturated"] <= 4


def test_lsh_signature_parity_duckdb(emb, sf_dir):
    # The ann_topk_lsh oracle recomputes RP signatures in DuckDB; this pins
    # that every per-vector signature is bit-identical across engines (the
    # per-plane projection is a sequential left fold on both sides).
    import duckdb
    dim = len(emb.select("embedding").first()[0])
    got = {r["vec_id"]: r["sig"] for r in emb.select(
        "vec_id",
        similarity.rp_signature(F.col("embedding"), 6, dim=dim).alias("sig")
    ).collect()}
    want = dict(duckdb.sql(f"""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM read_parquet('{sf_dir}/embeddings.parquet')
        ), planes AS (
          SELECT p.range AS p,
                 list_transform(range({dim}),
                   i -> CAST(('0x' || substr(md5(p.range::VARCHAR || ':' ||
                                                 i::VARCHAR), 1, 8)) AS BIGINT)
                        / 2147483648.0 - 1.0) AS c
          FROM range(6) p
        )
        SELECT b.vec_id,
               SUM(CASE WHEN list_dot_product(b.v, p.c) >= 0
                        THEN (1 << p.p) ELSE 0 END)::BIGINT
        FROM base b CROSS JOIN planes p GROUP BY b.vec_id
    """).fetchall())
    assert got == want


def test_ivf_assignment_margins_dominate_float_error(emb):
    # The ann_topk_ivf oracle assigns cells with SQL cosines while Spark
    # uses a numpy GEMM; they can only disagree if a vector's best-vs-second
    # centroid margin is within reassociation error. Pin the margins (and
    # GEMM-vs-sequential agreement) so the hash gate can't go flaky.
    import numpy as np
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    c = m[:16]
    sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ \
           (c / np.linalg.norm(c, axis=1, keepdims=True)).T
    top2 = np.sort(sims, axis=1)[:, -2:]
    margins = top2[:, 1] - top2[:, 0]
    assert margins.min() > 1e-9
    seq = []
    for v in m:
        best, arg = -2.0, -1
        nv = float(np.sqrt(sum(x * x for x in v)))
        for j, cv in enumerate(c):
            d = 0.0
            for x, y in zip(v, cv):
                d += x * y
            s = d / (nv * float(np.sqrt(sum(x * x for x in cv))))
            if s > best:
                best, arg = s, j
        seq.append(arg)
    assert list(np.argmax(sims, axis=1)) == seq


def test_brute_force_topk_no_shuffle_sort(emb):
    # Plan check: top-k must be TakeOrderedAndProject, not a global sort.
    plan = (similarity.brute_force_topk(emb, 0, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


# -------------------------------------------------------------- multimodal

def test_image_features_batch_shape(spark):
    media = multimodal.synthesize_media(spark, n=20)
    feats = multimodal.image_features(media, target_size=32)
    rows = feats.collect()
    assert len(rows) == 20
    assert set(feats.columns) == {"media_id", "n_bytes", "mean_luma",
                                  "resized_w", "resized_h"}
    assert all(max(r["resized_w"], r["resized_h"]) == 32 for r in rows)
    assert all(0 <= r["mean_luma"] <= 255 for r in rows)


def test_frame_sampling_one_to_many(spark):
    media = multimodal.synthesize_media(spark, n=6, kind="video")
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=8)
    rows = frames.collect()
    assert len(rows) > 6  # 1:N expansion
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in by_id.items():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame indices


def test_decode_stub_raises_on_null(spark):
    with pytest.raises(NotImplementedError):
        multimodal._decode_image(None, 4, 4)


def test_png_roundtrip_grey_all_filters():
    # the fixture's filter schedule (y % 5) exercises every PNG scanline
    # filter; round-trip must reproduce the exact pixels
    for i in (0, 3, 11):
        w, h = 16 + i % 9, 12 + i % 7
        px = bytes((31 * i + 7 * y + 3 * x) % 256
                   for y in range(h) for x in range(w))
        blob = multimodal.encode_png(px, w, h)
        assert multimodal.decode_png(blob) == (w, h, 1, px)


def test_png_roundtrip_rgb():
    import random
    rng = random.Random(42)
    w, h = 13, 9
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    blob = multimodal.encode_png(px, w, h, channels=3)
    assert multimodal.decode_png(blob) == (w, h, 3, px)


def test_image_resize_channel_stats_matches_numpy_reference(spark):
    # decode + nearest-neighbor resample, checked against an in-test
    # numpy reference built straight from the closed pixel form — the
    # engine path must reproduce per-channel sums/extremes exactly
    import numpy as np
    media = multimodal.synthesize_rgb_png_media(spark, n=6)
    got = {(r["media_id"], r["channel"]): r for r in
           multimodal.image_resize_channel_stats(media, 8, 8).collect()}
    assert len(got) == 18
    for i in range(6):
        w, h = 16 + i % 9, 12 + i % 7
        arr = np.array([[[(31 * i + 7 * y + 3 * x + 11 * c) % 256
                          for c in range(3)]
                         for x in range(w)] for y in range(h)])
        iy, ix = (np.arange(8) * h) // 8, (np.arange(8) * w) // 8
        rs = arr[iy][:, ix]
        for c in range(3):
            r = got[(i, c)]
            assert (r["decoded_w"], r["decoded_h"]) == (w, h)
            assert r["n_px"] == 64
            assert r["px_sum"] == int(rs[:, :, c].sum())
            assert r["px_min"] == int(rs[:, :, c].min())
            assert r["px_max"] == int(rs[:, :, c].max())


def test_png_decode_rejects_corruption():
    px = bytes(range(64))
    blob = bytearray(multimodal.encode_png(px, 8, 8))
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_png(b"JUNK" + blob[4:])
    blob[40] ^= 0xFF  # flip a byte inside IDAT → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(blob))
    # truncation anywhere inside a chunk (including mid-CRC) must raise
    # ValueError, never a raw struct.error
    full = bytes(multimodal.encode_png(px, 8, 8))
    for cut in (len(full) - 2, len(full) - 6, 30):
        with pytest.raises(ValueError, match="truncated|missing"):
            multimodal.decode_png(full[:cut])
    # inflate is bounded: an IDAT whose stream exceeds what IHDR's
    # dimensions allow is rejected without materializing the payload
    import struct
    import zlib
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 grey
    big = zlib.compress(bytes(10_000_000))  # ~10 MB claimed by 4 px
    bomb = (multimodal.PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", big)
            + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size does not match"):
        multimodal.decode_png(bomb)
    # a deflate stream cut after the final block but before the adler32
    # trailer returns all expected bytes without error — the decoder
    # must still reject it (dec.eof), never skip the integrity check
    raw = bytes(2 * (1 + 2))  # 2x2 grey: 2 rows x (1 filter + 2 px)
    cut_idat = zlib.compress(raw)[:-4]
    trunc = (multimodal.PNG_SIG
             + multimodal._png_chunk(b"IHDR", ihdr)
             + multimodal._png_chunk(b"IDAT", cut_idat)
             + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size does not match"):
        multimodal.decode_png(trunc)
    # trailing garbage AFTER a complete zlib stream inside IDAT is
    # smuggled payload (dec.unused_data), not a valid image
    tail = (multimodal.PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", zlib.compress(raw) + b"JUNK")
            + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size does not match"):
        multimodal.decode_png(tail)


def test_decode_image_routes_png_to_real_decoder():
    px = bytes((7 * y + 3 * x) % 256 for y in range(6) for x in range(5))
    d = multimodal._decode_image(multimodal.encode_png(px, 5, 6), 5, 6)
    assert d["n_pixels"] == 30
    assert d["luma_sum"] == sum(px)
    assert (d["min_luma"], d["max_luma"]) == (min(px), max(px))
    assert (d["decoded_w"], d["decoded_h"]) == (5, 6)
    # RGB luma is the integer Rec.601 weighting of real channel values
    rgb = bytes([200, 100, 50] * 4)
    d3 = multimodal._decode_image(multimodal.encode_png(rgb, 2, 2,
                                                        channels=3), 2, 2)
    assert d3["luma_sum"] == 4 * ((299 * 200 + 587 * 100 + 114 * 50)
                                  // 1000)
    # non-PNG payloads still take the documented byte-mean fake seam
    assert "n_pixels" not in multimodal._decode_image(b"\x01\x02\x03", 3, 1)


def test_image_decode_features_blob_free_output(spark):
    media = multimodal.synthesize_png_media(spark, n=12)
    feats = multimodal.image_decode_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        w, h = 16 + i % 9, 12 + i % 7
        px = [(31 * i + 7 * y + 3 * x) % 256
              for y in range(h) for x in range(w)]
        assert (r["decoded_w"], r["decoded_h"]) == (w, h)
        assert r["n_pixels"] == w * h and r["luma_sum"] == sum(px)
    # map-only: no exchange in the decode plan
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_media_stats_prunes_blobs(spark):
    media = multimodal.synthesize_media(spark, n=16)
    stats = multimodal.media_stats(media).collect()
    assert stats[0]["n_items"] == 16


def test_quantize_np_twin_bit_exact(emb):
    # the shipped vectorized audit must be BIT-identical to the Catalyst
    # reference form (same IEEE op sequence; round-half-away floor trick).
    from photon_spark.functions.similarity import (quantize_error_cols,
                                                   quantize_error_cols_np)
    cat = sorted(tuple(r["q"]) for r in emb.select(
        quantize_error_cols("embedding").alias("q")).collect())
    fast = sorted(tuple(r["q"]) for r in emb.select(
        quantize_error_cols_np("embedding").alias("q")).collect())
    assert cat == fast and cat


def test_media_keep_best_invariants(spark, sf_dir):
    """Keeper is a cluster member with the maximal blob size (ties →
    lowest id), every cluster has ≥ 2 members, and byte accounting
    conserves."""
    from pyspark.sql import functions as F
    from photon_spark.functions import dedup, multimodal
    from photon_spark.queries_northstar import (q_media_keep_best,
                                                q_media_phash_near_dups)

    rows = q_media_keep_best(spark, sf_dir).collect()
    assert rows
    pairs = q_media_phash_near_dups(spark, sf_dir)
    labels = {r["id"]: r["cluster_id"] for r in
              dedup.dup_clusters(pairs.select("lo_id", "hi_id")).collect()}
    sizes = {r["media_id"]: r["nb"] for r in
             multimodal.synthesize_media(spark, n=64)
             .select("media_id", F.length("content").alias("nb")).collect()}
    for r in rows:
        members = [i for i, c in labels.items() if c == r["cluster_id"]]
        assert r["n_members"] == len(members) >= 2
        best = max(members, key=lambda i: (sizes[i], -i))
        assert r["keep_id"] == best
        assert r["keep_bytes"] == sizes[best]
        assert r["dropped_bytes"] == sum(sizes[i] for i in members) \
            - sizes[best]


def test_audio_window_features_batch_shape_and_python(spark):
    # 1:N mapInPandas plumbing + exact python recompute of every window.
    from photon_spark.functions import multimodal
    media = multimodal.synthesize_media(spark, n=16, kind="audio")
    rows = multimodal.audio_window_features(
        media, window_ms=500, max_windows=8).collect()
    src = {r["media_id"]: (bytes(r["content"]), r["duration_ms"])
           for r in media.collect()}
    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(r)
    assert set(got) == set(src)
    for mid, (blob, dur) in src.items():
        n = min(8, max(1, dur // 500))
        ws = sorted(got[mid], key=lambda r: r["win_idx"])
        assert [w["win_idx"] for w in ws] == list(range(n))
        assert sum(w["n_bytes"] for w in ws) == len(blob)  # no byte lost
        for k, w in enumerate(ws):
            a, b = k * len(blob) // n, (k + 1) * len(blob) // n
            assert w["energy"] == sum(blob[a:b])
            assert w["peak"] == max(blob[a:b])
            assert w["win_start_ms"] == k * dur // n


def test_palette_png_roundtrip_and_expansion():
    # indexed-color round-trip: decode returns EXPANDED RGB (channels=3)
    # equal to palette[index] per pixel, with all five filters on the
    # index stream
    for i in (0, 4, 16):
        w, h, n_pal = 16 + i % 9, 12 + i % 7, 16 + i % 17
        pal = [((7 * k + 3 * i) % 256, (11 * k + 5 * i) % 256,
                (13 * k + 2 * i) % 256) for k in range(n_pal)]
        idx = bytes((i + 3 * y + 5 * x) % n_pal
                    for y in range(h) for x in range(w))
        blob = multimodal.encode_palette_png(idx, pal, w, h)
        gw, gh, gc, px = multimodal.decode_png(blob)
        exp = b"".join(bytes(pal[b]) for b in idx)
        assert (gw, gh, gc) == (w, h, 3) and px == exp


def test_palette_png_rejects_corruption():
    pal = [(10, 20, 30), (40, 50, 60)]
    idx = bytes([0, 1, 1, 0])
    blob = multimodal.encode_palette_png(idx, pal, 2, 2)
    # strip the PLTE chunk: palette image without a palette must raise
    import struct
    pos, out = 8, bytearray(blob[:8])
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack(">I", blob[pos:pos + 4])
        tag = blob[pos + 4:pos + 8]
        if tag != b"PLTE":
            out += blob[pos:pos + 12 + ln]
        pos += 12 + ln
    with pytest.raises(ValueError, match="PLTE"):
        multimodal.decode_png(bytes(out))
    # an index past the palette end is corruption, not a color
    import zlib
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = bytes([0, 0, 7, 0, 0, 1])  # filter 0 rows; index 7 > max 1
    bad = (multimodal.PNG_SIG
           + multimodal._png_chunk(b"IHDR", ihdr)
           + multimodal._png_chunk(b"PLTE", bytes([1, 2, 3, 4, 5, 6]))
           + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
           + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="index out of range"):
        multimodal.decode_png(bad)
    # encoder guards
    with pytest.raises(ValueError, match="palette"):
        multimodal.encode_palette_png(idx, [], 2, 2)
    with pytest.raises(ValueError, match="index out of"):
        multimodal.encode_palette_png(bytes([0, 5, 0, 0]), pal, 2, 2)


def test_png_decode_rejects_bad_ihdr_length():
    # a valid-CRC IHDR of length != 13 must raise ValueError (the
    # per-row degrade contract), never escape as struct.error
    import struct

    ihdr14 = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0) + b"\x00"
    bad = (multimodal.PNG_SIG
           + multimodal._png_chunk(b"IHDR", ihdr14)
           + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR length"):
        multimodal.decode_png(bad)


def test_jpeg_roundtrip_flat_tiles_exact():
    # the fixture property the hash gate rests on: per-8x8-flat images
    # with all-ones quant tables round-trip BYTE-EXACTLY through the
    # lossy pipeline (a flat block's DCT is a lone integer DC coef),
    # grey AND the full YCbCr path with R=G=B content
    for i in (0, 5, 11):
        w, h = multimodal._jpeg_fixture_dims(i)
        grey = multimodal._jpeg_tile_pixels(i, w, h)
        assert multimodal.decode_jpeg(
            multimodal.encode_jpeg(grey, w, h, 1)) == (w, h, 1, grey)
        rgb = bytes(v for v in grey for _ in range(3))
        assert multimodal.decode_jpeg(
            multimodal.encode_jpeg(rgb, w, h, 3)) == (w, h, 3, rgb)


def test_jpeg_roundtrip_arbitrary_content_near_lossless():
    # general path (non-flat blocks, every Huffman category in play,
    # odd dimensions -> edge replication): with all-ones quant the
    # reconstruction error is bounded by coefficient rounding only
    import numpy as np

    rng = np.random.RandomState(3)
    w, h = 29, 21
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    dw, dh, ch, out = multimodal.decode_jpeg(
        multimodal.encode_jpeg(arr.tobytes(), w, h, 1))
    assert (dw, dh, ch) == (w, h, 1)
    got = np.frombuffer(out, dtype=np.uint8).reshape(h, w).astype(int)
    assert np.abs(got - arr.astype(int)).max() <= 2
    arr3 = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    dw, dh, ch, out = multimodal.decode_jpeg(
        multimodal.encode_jpeg(arr3.tobytes(), w, h, 3))
    assert (dw, dh, ch) == (w, h, 3)
    got = np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3).astype(int)
    assert np.abs(got - arr3.astype(int)).max() <= 4


def test_jpeg_restart_intervals_roundtrip():
    # DRI + RSTn markers with DC predictor resets: the resync
    # structure real encoders emit; flat tiles stay exact through it
    import numpy as np

    w, h = 32, 24
    px = multimodal._jpeg_tile_pixels(9, w, h)
    for ri in (1, 2, 5):
        blob = multimodal.encode_jpeg(px, w, h, 1, restart_interval=ri)
        assert multimodal.decode_jpeg(blob) == (w, h, 1, px)
    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    blob = multimodal.encode_jpeg(arr.tobytes(), w, h, 1,
                                  restart_interval=3)
    got = np.frombuffer(multimodal.decode_jpeg(blob)[3],
                        dtype=np.uint8).reshape(h, w).astype(int)
    assert np.abs(got - arr.astype(int)).max() <= 2


def test_jpeg_decode_rejects_unsupported_and_corrupt():
    # every rejection is ValueError (the per-row degrade contract),
    # never struct/index/KeyError escaping the except handler
    import struct as _s

    w, h = 16, 16
    px = multimodal._jpeg_tile_pixels(1, w, h)
    blob = bytearray(multimodal.encode_jpeg(px, w, h, 1))
    with pytest.raises(ValueError, match="SOI"):
        multimodal.decode_jpeg(b"JUNK" + bytes(blob[4:]))
    # progressive: flip SOF0 -> SOF2 (find the FFC0 marker)
    i = bytes(blob).find(b"\xff\xc0")
    prog = bytes(blob[:i + 1]) + b"\xc2" + bytes(blob[i + 2:])
    with pytest.raises(ValueError, match="progressive|non-baseline"):
        multimodal.decode_jpeg(prog)
    # 12-bit precision
    deep = bytearray(blob)
    deep[i + 4] = 12
    with pytest.raises(ValueError, match="8-bit"):
        multimodal.decode_jpeg(bytes(deep))
    # chroma subsampling (2x2 sampling factors on comp 1)
    rgbblob = bytearray(multimodal.encode_jpeg(
        bytes(v for v in px for _ in range(3)), w, h, 3))
    j = bytes(rgbblob).find(b"\xff\xc0")
    sub = bytearray(rgbblob)
    sub[j + 11] = 0x22  # comp 1 h/v
    with pytest.raises(ValueError, match="subsampling"):
        multimodal.decode_jpeg(bytes(sub))
    # truncation anywhere: segment, scan, trailing
    for cut in (10, len(blob) // 2, len(blob) - 3):
        with pytest.raises(ValueError,
                           match="truncated|ended|marker|Huffman"):
            multimodal.decode_jpeg(bytes(blob[:cut]))
    # junk entropy data after a valid header
    k = bytes(blob).find(b"\xff\xda")
    hdr_end = k + 2 + _s.unpack(">H", bytes(blob[k + 2:k + 4]))[0]
    junky = bytes(blob[:hdr_end]) + bytes(
        (7 * j + 1) % 255 for j in range(64))
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(junky)


def test_jpeg_resize_stats_compose(spark):
    # decode_image_any routes JPEGs through the same resize kernel the
    # gated PNG row uses: per-channel stats of the nearest-neighbor
    # thumbnail equal the closed-form recompute
    import numpy as np

    media = multimodal.synthesize_jpeg_media(spark, n=8)
    got = {(r["media_id"], r["channel"]): r
           for r in multimodal.image_resize_channel_stats(
               media, out_w=8, out_h=8).collect()}
    for i in range(8):
        w, h = multimodal._jpeg_fixture_dims(i)
        px = multimodal._jpeg_tile_pixels(i, w, h)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        iy, ix = (np.arange(8) * h) // 8, (np.arange(8) * w) // 8
        rs = arr[iy][:, ix].astype(int)
        nch = 1 if i % 2 == 0 else 3
        for c in range(nch):
            r = got[(i, c)]
            assert (r["decoded_w"], r["decoded_h"]) == (w, h)
            assert r["px_sum"] == int(rs.sum())
            assert r["px_min"] == int(rs.min())
            assert r["px_max"] == int(rs.max())
        assert (i, nch) not in got  # no phantom channels


# ------------------------------------------------------------ GIF codec

def _gif_fixture(i, interlace=None):
    from photon_spark.functions.multimodal import encode_gif
    w, h = 16 + i % 9, 12 + i % 7
    n_pal = 4 + i % 13
    pal = [((5 * k + 7 * i) % 256, (9 * k + 3 * i) % 256,
            (11 * k + 4 * i) % 256) for k in range(n_pal)]
    idx = bytes((2 * i + y + 3 * x) % n_pal
                for y in range(h) for x in range(w))
    il = bool(i % 2) if interlace is None else interlace
    return (encode_gif(idx, pal, w, h, interlace=il),
            w, h, b"".join(bytes(pal[j]) for j in idx))


def test_gif_roundtrip_plain_and_interlaced():
    """Lossless round-trip across sizes, palette widths (4..16 entries
    → LZW code width GROWS mid-stream) and both interlace modes."""
    from photon_spark.functions.multimodal import decode_gif
    for i in range(26):
        blob, w, h, want = _gif_fixture(i)
        dw, dh, ch, rgb = decode_gif(blob)
        assert (dw, dh, ch) == (w, h, 3)
        assert rgb == want


def test_gif_lzw_kwkwk_case():
    """The KwKwK self-referencing code (code == table size) decodes:
    a run like aaaa... forces it immediately."""
    from photon_spark.functions.multimodal import decode_gif, encode_gif
    idx = bytes([1] * 64 + [0, 2, 1, 1, 1, 0] * 6)
    pal = [(0, 0, 0), (10, 20, 30), (40, 50, 60)]
    blob = encode_gif(idx, pal, 10, 10)
    _, _, _, rgb = decode_gif(blob)
    assert rgb == b"".join(bytes(pal[j]) for j in idx)


def test_gif_decode_rejects_corruption():
    """The ValueError taxonomy the per-row degrade contract needs:
    every corruption class raises ValueError, never anything else."""
    import pytest
    from photon_spark.functions.multimodal import decode_gif
    blob, _, _, _ = _gif_fixture(3, interlace=False)

    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + blob[6:])
    with pytest.raises(ValueError, match="truncated|sub-block"):
        decode_gif(blob[:len(blob) // 2])
    with pytest.raises(ValueError, match="trailing"):
        decode_gif(blob + b"xx")
    with pytest.raises(ValueError, match="animated"):
        # splice a second image descriptor stream before the trailer
        body = blob[:-1] + blob[13 + 3 * 8:]   # skip hdr+GCT of copy
        decode_gif(body)
    with pytest.raises(ValueError, match="LZW|truncated"):
        # corrupt the LZW payload mid-stream
        bad = bytearray(blob)
        bad[-12:-4] = b"\xff" * 8
        decode_gif(bytes(bad))
    with pytest.raises(ValueError, match="unknown GIF block"):
        bad = bytearray(blob)
        # image separator 0x2C is right after header+GCT
        sep = blob.index(b"\x2c", 13)
        bad[sep] = 0x7E
        decode_gif(bytes(bad))


def test_gif_routes_through_decode_image_any():
    from photon_spark.functions.multimodal import decode_image_any
    blob, w, h, want = _gif_fixture(7)
    dw, dh, ch, rgb = decode_image_any(blob)
    assert (dw, dh, ch, rgb) == (w, h, 3, want)
