"""Property-based tests (hypothesis) for the invariant-heavy kernels.

Each example drives real Spark jobs, so example counts are deliberately
small — the strategies still cover the interesting boundaries (empty
partitions, dense per-ms batches, gap ties) far better than fixed fixtures.
"""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from photon_spark.events import EventStore
from photon_spark.functions.sessions import sessionize

_SETTINGS = dict(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


@settings(**_SETTINGS)
@given(sizes=st.lists(st.integers(min_value=1, max_value=40),
                      min_size=1, max_size=4),
       parts=st.integers(min_value=1, max_value=5))
def test_ingest_order_ids_dense_unique_monotonic(spark, tmp_path_factory,
                                                 sizes, parts):
    """Across any batch sizes and input partitioning: order_ids are unique,
    strictly increasing batch-over-batch, and each batch's ids form one
    dense consecutive run (the reference's per-ms counter semantics,
    streams.clj:298-301)."""
    store = EventStore(spark, os.path.join(
        str(tmp_path_factory.mktemp("prop")), "events"))
    prev_max = 0
    for b, n in enumerate(sizes):
        df = (spark.createDataFrame(
            [(f"s{i % 3}", str(b * 1000 + i)) for i in range(n)],
            "stream_name string, local_id string")
            .repartition(parts))
        assert store.ingest(df) == n
        ids = sorted(r["order_id"] for r in
                     store.read_all().where(
                         F.col("local_id").cast("long") >= b * 1000)
                     .select("order_id").collect())
        assert len(set(ids)) == n
        assert ids[0] > prev_max
        assert ids[-1] - ids[0] == n - 1  # dense consecutive run
        prev_max = ids[-1]


@settings(**_SETTINGS)
@given(gaps=st.lists(st.integers(min_value=0, max_value=200),
                     min_size=1, max_size=30),
       gap_ns=st.integers(min_value=1, max_value=150))
def test_sessionize_matches_python_fold(spark, gaps, gap_ns):
    """session_idx equals the trivial sequential fold: increment exactly
    when the inter-event gap exceeds gap_ns (boundary: gap == gap_ns stays
    in-session)."""
    ts, t = [], 0
    for g in gaps:
        t += g
        ts.append(t)
    df = spark.createDataFrame(
        [(1, t_, i) for i, t_ in enumerate(ts)],
        "user_id long, ts long, event_id long")
    got = {r["event_id"]: r["session_idx"]
           for r in sessionize(df, ["user_id"], ts_col="ts",
                               tiebreak_col="event_id",
                               gap_ns=gap_ns).collect()}
    expect, sid, prev = {}, 0, None
    for i, t_ in enumerate(ts):
        if prev is None or t_ - prev > gap_ns:
            sid += 1
        expect[i] = sid
        prev = t_
    assert got == expect


# --------------------------------------------------------------- as-of join

_asof_events = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),    # key
              st.integers(min_value=0, max_value=50),   # ts (dense → ties)
              st.booleans()),                           # side: right?
    min_size=1, max_size=40)


@settings(**_SETTINGS)
@given(evs=_asof_events, strict=st.booleans())
def test_asof_join_matches_sequential_scan(spark, evs, strict):
    """asof_join ≡ the obvious per-key sequential scan, including equal-ts
    inclusion/exclusion and last-by-tiebreak among equal-ts right rows."""
    from pyspark.sql import Row
    from photon_spark.functions.asof import asof_join

    left = [(k, t, i) for i, (k, t, r) in enumerate(evs) if not r]
    right = [(k, t, i) for i, (k, t, r) in enumerate(evs) if r]
    if not left or not right:
        return
    ldf = spark.createDataFrame([Row(k=k, ts=t, lid=i) for k, t, i in left])
    rdf = spark.createDataFrame([Row(k=k, ts=t, rid=i) for k, t, i in right])

    got = {r["lid"]: r["asof_rid"]
           for r in asof_join(ldf, rdf, on=["k"], left_ts="ts",
                              right_cols=["rid"], strict=strict,
                              tiebreak="rid").collect()}
    for k, lts, lid in left:
        cand = [(rts, rid) for rk, rts, rid in right
                if rk == k and ((rts < lts) if strict else (rts <= lts))]
        want = max(cand)[1] if cand else None
        assert got[lid] == want, (lid, got[lid], want)


@settings(**_SETTINGS)
@given(words_a=st.lists(st.sampled_from(
           ["join", "scan", "hash", "filter", "merge", "row"]),
       min_size=1, max_size=8),
       words_b=st.lists(st.sampled_from(
           ["join", "scan", "hash", "filter", "merge", "row"]),
       min_size=1, max_size=8))
def test_feature_hash_additive_over_concatenation(spark, tmp_path_factory,
                                                  words_a, words_b):
    """Signed feature hashing is LINEAR in the token multiset:
    vec(A ++ B) = vec(A) + vec(B) — the property that makes hashed
    features mergeable across shards without re-featurizing."""
    import os
    from photon_spark import queries_ranking as qr
    d = os.path.join(str(tmp_path_factory.mktemp("fh")), "documents.parquet")
    rows = [(0, " ".join(words_a), "en", "s", 1),
            (50, " ".join(words_b), "en", "s", 1),
            (100, " ".join(words_a + words_b), "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.mode("overwrite").parquet(d)
    # gated `vec` is the ','-joined fixed-width string (driver
    # scalar-primitive rule); parse back to ints for the linearity check
    out = {r["doc_id"]: [int(x) for x in r["vec"].split(",")]
           for r in qr.q_feature_hash_vectors(
               spark, os.path.dirname(d)).collect()}
    assert [a + b for a, b in zip(out[0], out[50])] == out[100]


def _naive_covered_positions(token_lists: dict[int, list[str]], L: int):
    """Naive repeated-span coverage by DIRECT token comparison (no gram
    hashing): position t of doc d is covered iff some window [i, i+L)
    containing t equals a window elsewhere in the corpus (other doc or
    other position)."""
    windows: dict[tuple, list[tuple[int, int]]] = {}
    for d, toks in token_lists.items():
        for i in range(len(toks) - L + 1):
            windows.setdefault(tuple(toks[i:i + L]), []).append((d, i))
    covered: dict[int, set[int]] = {d: set() for d in token_lists}
    for w, occs in windows.items():
        if len(occs) < 2:
            continue
        for d, i in occs:
            covered[d].update(range(i, i + L))
    return covered


@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from("ab"), min_size=1, max_size=18),
                min_size=2, max_size=6),
       st.integers(min_value=2, max_value=4))
def test_repeated_span_profile_matches_naive_token_compare(spark, docs, L):
    """substring.repeated_span_profile over a 2-letter alphabet (dense
    collisions) equals a naive direct-token-comparison recompute."""
    from photon_spark.functions import substring

    token_lists = {i: [f"w{c}" for c in toks] for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in token_lists.items()],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
           for r in substring.repeated_span_profile(df, L).collect()}
    covered = _naive_covered_positions(token_lists, L)
    want = {d: (len(token_lists[d]), len(c))
            for d, c in covered.items() if c}
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from("ab"), min_size=4, max_size=16),
                min_size=2, max_size=4),
       st.integers(min_value=2, max_value=3))
def test_repeated_spans_match_naive_diagonal_scan(spark, docs, L):
    """substring.repeated_spans equals a naive per-pair diagonal scan
    comparing TOKENS directly: for docs (a, b) and offset k, maximal
    runs of positions where a[i] == b[i+k] of length ≥ L."""
    from photon_spark.functions import substring

    token_lists = {i: [f"w{c}" for c in toks] for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in token_lists.items()],
        "doc_id long, text string")
    got = {(r["lo_id"], r["hi_id"], r["start_a"], r["start_b"], r["span_len"])
           for r in substring.repeated_spans(df, L, max_occ=10**6).collect()}

    want = set()
    ids = sorted(token_lists)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = token_lists[ids[ai]], token_lists[ids[bi]]
            for diag in range(-(len(b) - 1), len(a)):
                run = 0
                # walk the diagonal; close runs at mismatch/end
                pa0 = max(0, diag)
                pb0 = pa0 - diag
                length = min(len(a) - pa0, len(b) - pb0)
                for step in range(length + 1):
                    match = (step < length
                             and a[pa0 + step] == b[pb0 + step])
                    if match:
                        run += 1
                    else:
                        if run >= L:
                            want.add((ids[ai], ids[bi],
                                      pa0 + step - run, pb0 + step - run,
                                      run))
                        run = 0
    assert got == want


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(min_value=0, max_value=10_000),
                    min_size=1, max_size=60, unique=True),
       seed=st.integers(min_value=0, max_value=99),
       buckets=st.sampled_from([1, 3, 16, 256]))
def test_seeded_shuffle_matches_reference_sort(spark, ids, seed, buckets):
    """For ANY id set, seed, and bucket fan-out: positions are exactly the
    rank under sorted (md5(seed:id), id) — the two-pass bucket plan is
    indistinguishable from the naive global sort it replaces."""
    import hashlib as _h
    from photon_spark.functions.ordering import seeded_shuffle
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r["doc_id"]: (r["global_pos"], r["shard_id"], r["pos_in_shard"])
           for r in seeded_shuffle(df, "doc_id", seed=seed,
                                   docs_per_shard=7,
                                   buckets=buckets).collect()}
    ranked = sorted(ids, key=lambda i: (
        _h.md5(f"{seed}:{i}".encode()).hexdigest(), i))
    for pos, i in enumerate(ranked):
        assert out[i] == (pos, pos // 7, pos % 7)


@settings(**_SETTINGS)
@given(pts=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                    min_size=1, max_size=60),
       parts=st.integers(min_value=1, max_value=6))
def test_skyline_matches_not_exists_spec(spark, pts, parts):
    """Any point cloud (dense duplicates, collinear runs, singletons),
    any partitioning: the two-phase skyline equals the brute-force
    strict-dominance NOT EXISTS spec."""
    from photon_spark.functions.skyline import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = (spark.createDataFrame(rows, "k long, x long, y long")
               .repartition(parts))
    got = sorted(tuple(r) for r in skyline_2d(df, "x", "y").collect())
    brute = sorted(
        p for p in rows
        if not any(q[1] <= p[1] and q[2] <= p[2]
                   and (q[1] < p[1] or q[2] < p[2]) for q in rows))
    assert got == brute


@settings(**_SETTINGS)
@given(iv=st.lists(st.tuples(st.integers(0, 50), st.integers(1, 10)),
                   min_size=1, max_size=40))
def test_interval_union_matches_python_sweep(spark, iv):
    """The window-based island union equals a sequential sweep for any
    interval multiset (nested, touching, duplicate, point-adjacent)."""
    from photon_spark.queries_pipeline import IU_SEC_NS  # noqa: F401

    rows = [(7, i, s, s + d) for i, (s, d) in enumerate(iv)]
    df = spark.createDataFrame(
        rows, "user_id long, eid long, start_ns long, end_ns long")
    from pyspark.sql import Window

    order = [F.asc("start_ns"), F.asc("eid")]
    w_prev = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = df.withColumn(
        "new_island",
        F.when(F.col("start_ns") > F.coalesce(
            F.max("end_ns").over(w_prev), F.lit(-1)), 1).otherwise(0))
    got = (flagged.withColumn("island", F.sum("new_island").over(w_run))
                  .groupBy("user_id", "island")
                  .agg((F.max("end_ns") - F.min("start_ns"))
                        .alias("len"))
                  .groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("len").alias("tot")).collect()[0])

    ivs = sorted((s, e) for (_, _, s, e) in rows)
    islands = []
    for s, e in ivs:
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
        else:
            islands.append([s, e])
    assert got["n"] == len(islands)
    assert got["tot"] == sum(e - s for s, e in islands)
