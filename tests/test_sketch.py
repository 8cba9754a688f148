"""Sketch operators: accuracy envelopes, mergeability, and the
guarantees each sketch is supposed to give (HLL error ~1.04/sqrt(m),
KMV exactness below k, Count-Min never-undercounts)."""

import math

import pytest
from pyspark.sql import functions as F

from photon_spark.functions import sketches
from photon_spark.functions.text import tokens
from photon_spark.streaming.tuning import drain


@pytest.fixture(scope="module")
def toks(spark, sf_dir):
    t = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("source", F.explode(tokens(F.col("text"))).alias("t"))
         .where(F.col("t") != "")
         .select("source", F.lower("t").alias("tok"))
         .persist())
    yield t
    t.unpersist()


def test_hll_estimate_error_envelope(toks):
    est = sketches.hll_estimate(toks, "source", F.col("tok"))
    exact = toks.groupBy("source").agg(
        F.count_distinct("tok").alias("exact"))
    rows = est.join(exact, "source").collect()
    assert rows
    for r in rows:
        # Flajolet's small-range correction, applied by the caller as
        # hll_estimate documents (linear counting below 2.5m): allow ~3x
        # the 1.04/sqrt(1024) std error
        got = r.est_distinct
        if got <= 2.5 * sketches.HLL_M and r.n_zero_regs > 0:
            got = sketches.HLL_M * math.log(sketches.HLL_M / r.n_zero_regs)
        rel = abs(got - r.exact) / max(r.exact, 1)
        assert rel < 0.10, (r.source, got, r.exact)


def _merge_registers(*register_dfs):
    # cell-wise max over a union of register tables
    out = register_dfs[0]
    for d in register_dfs[1:]:
        out = out.unionByName(d)
    return out.groupBy("grp", "idx").agg(F.max("rank").alias("rank"))


def test_hll_registers_merge_is_union_max(spark, toks):
    # sketch(A ∪ B) == cellwise-max(sketch(A), sketch(B)) — the property
    # that makes HLL maintainable incrementally at 100 TB
    a = toks.where(F.col("tok") < "m")
    b = toks.where(F.col("tok") >= "m")
    whole = sketches.hll_registers(toks, "source", F.col("tok"))
    merged = _merge_registers(
        sketches.hll_registers(a, "source", F.col("tok")),
        sketches.hll_registers(b, "source", F.col("tok")))
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0


def test_hll_incremental_batches_equal_full_sketch(spark, toks):
    # the foreachBatch maintenance shape: 3 arriving batches folded into
    # a running register table == the sketch of everything at once
    b0 = toks.where(F.md5("tok") < "6")
    b1 = toks.where((F.md5("tok") >= "6") & (F.md5("tok") < "b"))
    b2 = toks.where(F.md5("tok") >= "b")
    running = sketches.hll_registers(b0, "source", F.col("tok"))
    for b in (b1, b2):
        running = _merge_registers(
            running, sketches.hll_registers(b, "source", F.col("tok")))
    whole = sketches.hll_registers(toks, "source", F.col("tok"))
    assert running.exceptAll(whole).count() == 0
    assert whole.exceptAll(running).count() == 0


def test_kmv_exact_below_k(spark):
    # fewer than k distinct values -> the sketch IS the distinct set
    df = spark.createDataFrame(
        [("g", f"v{i % 40}") for i in range(500)], "grp string, v string")
    out = sketches.kmv_estimate(df, "grp", F.col("v"), k=256).collect()[0]
    assert out.n_kept == 40
    assert out.est_distinct == 40.0


def test_kmv_estimate_error_envelope(toks):
    est = sketches.kmv_estimate(toks, "source", F.col("tok"))
    exact = toks.groupBy("source").agg(
        F.count_distinct("tok").alias("exact"))
    for r in est.join(exact, "source").collect():
        rel = abs(r.est_distinct - r.exact) / max(r.exact, 1)
        # KMV std error ~ 1/sqrt(k-2) ≈ 6.3% at k=256; allow 3 sigma
        assert rel < 0.20, (r.source, r.est_distinct, r.exact)


def test_countmin_never_undercounts_and_is_tight_on_heavy(spark, toks):
    items = toks.select(F.col("tok").alias("item"))
    exact = (items.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
                  .orderBy(F.desc("c"), "item").limit(50))
    est = sketches.countmin_point_estimates(items, exact, "item", "item")
    rows = exact.join(est, "item").collect()
    assert len(rows) == exact.count()  # sf0.001 vocab may be < 50
    assert rows
    n_total = items.count()
    for r in rows:
        assert r.est_count >= r.c, (r.item, r.est_count, r.c)
        # CM guarantee: overshoot <= eps * N with eps = e/w, w.h.p.
        assert r.est_count - r.c <= (2.72 / sketches.CM_W) * n_total * 4


def test_countmin_merge_is_cellwise_sum(spark, toks):
    items = toks.select(F.col("tok").alias("item"))
    a = items.where(F.md5("item") < "8")
    b = items.where(F.md5("item") >= "8")
    whole = sketches.countmin_table(items, "item")
    merged = (sketches.countmin_table(a, "item")
              .unionByName(sketches.countmin_table(b, "item"))
              .groupBy("r", "cell").agg(F.sum("total").alias("total")))
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0


def test_countmin_probe_plan_broadcasts_sketch(spark, toks):
    items = toks.select(F.col("tok").alias("item"))
    q = spark.createDataFrame([("the",), ("zzz",)], "item string")
    plan = (sketches.countmin_point_estimates(items, q, "item", "item")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan  # sketch side broadcasts, 4096 rows


def test_histogram_quantiles_within_bin_width_of_exact(spark, sf_dir):
    from photon_spark.functions import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = (text.text_profile(d).select("doc_id", "quality")
            .join(d.select("doc_id", "source"), "doc_id").persist())
    est = {r.source: r for r in sketches.histogram_quantiles(
        prof, "source", F.col("quality")).collect()}
    rows = prof.collect()
    prof.unpersist()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.quality)
    for src, vals in by_src.items():
        vals.sort()
        n = len(vals)
        for p in (50, 90, 99):
            exact = vals[(n * p + 99) // 100 - 1]  # percentile_disc
            got = getattr(est[src], f"est_p{p}")
            assert abs(got - exact) <= 0.5 / sketches.HIST_BINS + 1e-9, (
                src, p, got, exact)
        assert est[src].n == n


def test_histogram_registers_merge_is_cellwise_sum(spark, sf_dir):
    from photon_spark.functions import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = (text.text_profile(d).select("doc_id", "quality")
            .join(d.select("doc_id", "source"), "doc_id").persist())
    a = prof.where(F.col("doc_id") % 2 == 0)
    b = prof.where(F.col("doc_id") % 2 == 1)
    whole = sketches.histogram_registers(prof, "source", F.col("quality"))
    merged = (sketches.histogram_registers(a, "source", F.col("quality"))
              .unionByName(
                  sketches.histogram_registers(b, "source", F.col("quality")))
              .groupBy("grp", "bin").agg(F.sum("cnt").alias("cnt")))
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0
    prof.unpersist()


def test_hll_streaming_foreachbatch_maintenance(spark, sf_dir, tmp_path):
    """End-to-end incremental HLL over Structured Streaming: documents
    arrive as files, each micro-batch's registers merge into a persisted
    register table via foreachBatch — the final table equals the batch
    sketch of the whole corpus (never rescanned)."""
    import shutil

    from photon_spark.functions import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    drop = tmp_path / "drop"
    drop.mkdir()
    # two arriving files
    for i, cond in enumerate((F.col("doc_id") % 2 == 0,
                              F.col("doc_id") % 2 == 1)):
        docs.where(cond).coalesce(1).write.parquet(str(tmp_path / f"p{i}"))
        part = next((tmp_path / f"p{i}").glob("*.parquet"))
        shutil.copy(part, drop / f"batch{i}.parquet")

    state = str(tmp_path / "registers")

    def apply_batch(batch_df, batch_id):
        toks = (batch_df
                .select("source", F.explode(tokens(F.col("text"))).alias("t"))
                .where(F.col("t") != "")
                .select("source", F.lower("t").alias("tok")))
        new = sketches.hll_registers(toks, "source", F.col("tok"))
        import os
        if os.path.exists(state):
            old = batch_df.sparkSession.read.parquet(state)
            new = _merge_registers(old, new)
        new.localCheckpoint()  # cut lineage off the overwritten input
        pdf = new.toPandas()
        batch_df.sparkSession.createDataFrame(pdf) \
            .write.mode("overwrite").parquet(state)

    w = (spark.readStream.schema(docs.schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(str(drop))
         .writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt")))
    drain(w, spark, timeout_sec=120)

    got = spark.read.parquet(state)
    toks_all = (docs.select("source",
                            F.explode(tokens(F.col("text"))).alias("t"))
                .where(F.col("t") != "")
                .select("source", F.lower("t").alias("tok")))
    whole = sketches.hll_registers(toks_all, "source", F.col("tok"))
    assert got.exceptAll(whole).count() == 0
    assert whole.exceptAll(got).count() == 0


def test_kmv_source_overlap_exact_columns_and_envelope(spark, sf_dir):
    """Exact union/intersection columns match a Python set recompute; the
    KMV estimates equal the exact values whenever the sketch holds the
    whole set (n < k), and stay within the k=256 error envelope when it
    estimates."""
    import hashlib
    import re

    from photon_spark import queries_sketch as qs

    rows = qs.q_kmv_source_overlap(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                     .select("source", "text").collect()
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    sets: dict = {}
    for r in docs:
        t = ws.sub(" ", (r["text"] or "").lower()).strip(" ")
        toks = t.split(" ") if t else []
        for i in range(len(toks) - 2):
            g = " ".join(toks[i:i + 3])
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            sets.setdefault(r["source"], set()).add(h)
    assert rows, "no source pairs"
    for r in rows:
        a, b = sets[r["source_a"]], sets[r["source_b"]]
        assert r["exact_intersection"] == len(a & b)
        assert r["exact_union"] == len(a | b)
        if len(a) < qs.KMV_OV_K and len(b) < qs.KMV_OV_K:
            assert r["est_union"] == len(a | b)
            assert r["est_intersection"] == len(a & b)
        else:
            # 1/sqrt(k) ≈ 6.3% std err per sketch; inclusion-exclusion
            # compounds three of them — allow 5 sigma on the union size
            tol = 0.32 * r["exact_union"] + 2
            assert abs(r["est_union"] - r["exact_union"]) <= tol
            assert abs(r["est_intersection"]
                       - r["exact_intersection"]) <= tol


def test_join_size_estimate_overestimates_and_exact_matches(spark, sf_dir):
    from photon_spark import queries_sketch as qs
    r = qs.q_join_size_estimate(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
              .select("user_id").collect()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet") \
              .select("o_custkey").collect()
    ca: dict = {}
    cb: dict = {}
    for x in ev:
        ca[str(x["user_id"])] = ca.get(str(x["user_id"]), 0) + 1
    for x in od:
        cb[str(x["o_custkey"])] = cb.get(str(x["o_custkey"]), 0) + 1
    exact = sum(c * cb[k] for k, c in ca.items() if k in cb)
    assert r["exact_join_size"] == exact
    # the CM inner product can only over-count (hash collisions add mass)
    assert r["est_join_size"] >= exact
    assert r["overestimate_ratio"] >= 1.0
