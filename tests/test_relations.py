"""Plan-construction memo (photon_spark.relations): the optimization
must reuse PLANS, never results — these tests pin the safety rules."""

import os
import time
import warnings

import pytest
from pyspark.sql import functions as F

from photon_spark import relations
from photon_spark.relations import memo_query, plan_memo, read_base


@pytest.fixture()
def corpus(spark, tmp_path):
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s0", 10) for i in range(20)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    return sf


def test_read_base_memoizes_per_stamp(spark, corpus):
    df1 = read_base(spark, corpus, "documents")
    df2 = read_base(spark, corpus, "documents")
    assert df1 is df2
    # regenerating the table in place must invalidate the memo
    time.sleep(0.02)
    path = f"{corpus}/documents.parquet"
    probe = os.path.join(path, "_memo_probe")
    open(probe, "w").write("x")
    try:
        df3 = read_base(spark, corpus, "documents")
        assert df3 is not df1
    finally:
        os.remove(probe)


def test_memo_query_pure_plan_reused_not_result(spark, corpus):
    calls = []

    def q(sp, sf):
        calls.append(1)
        return (read_base(sp, sf, "documents")
                .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))

    # warm the base-table read so the first wrapped call constructs
    # with zero jobs (a cold read runs a one-time schema job, which the
    # probe — correctly — refuses to memoize over)
    read_base(spark, corpus, "documents").schema
    w = memo_query("_test_pure", q)
    d1 = w(spark, corpus)
    rows1 = sorted(map(tuple, d1.collect()))
    d2 = w(spark, corpus)
    # constructor ran once; the hit is a FRESH Dataset over the stored
    # plan (new query execution → no cross-run shuffle reuse), so the
    # objects differ while the values are identical
    assert len(calls) == 1
    assert d2 is not d1
    rows2 = sorted(map(tuple, d2.collect()))
    assert rows1 == rows2 == [("en", 20)]


def test_memo_query_probe_failure_warns_once(spark, corpus, monkeypatch):
    # a failing private job-count probe (e.g. after a Spark upgrade)
    # leaves every query unmemoized: it must say so, once per process
    def broken(sc):
        raise AttributeError("nextJobId")

    monkeypatch.setattr(relations, "_jobs_submitted", broken)
    monkeypatch.setattr(relations, "_PROBE_WARNED", False)
    calls = []

    def q(sp, sf):
        calls.append(1)
        return read_base(sp, sf, "documents").select("doc_id")

    read_base(spark, corpus, "documents").schema
    w = memo_query("_test_probe_broken", q)
    with pytest.warns(RuntimeWarning, match="plan memo disabled"):
        w(spark, corpus)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        w(spark, corpus)
    assert len(calls) == 2  # never memoized


def test_memo_query_side_effecting_never_memoized(spark, corpus):
    calls = []

    def q(sp, sf):
        calls.append(1)
        d = read_base(sp, sf, "documents")
        d.limit(1).collect()  # a per-call action = per-call side work
        return d.groupBy("source").count()

    w = memo_query("_test_sideeffect", q)
    w(spark, corpus)
    w(spark, corpus)
    assert len(calls) == 2  # constructor re-ran: jobs during construct


def test_memo_query_checkpoint_plan_denied(spark, corpus):
    def q(sp, sf):
        return (read_base(sp, sf, "documents")
                .localCheckpoint(eager=False)
                .groupBy("lang").count())

    w = memo_query("_test_ckpt", q)
    d1 = w(spark, corpus)
    d2 = w(spark, corpus)
    # LogicalRDD leaf → denied (reusing it would pin materialized blocks)
    assert "_test_ckpt" in relations._MEMO_DENY
    assert d1 is not d2


def test_memo_query_outside_sf_dir_denied(spark, corpus, tmp_path):
    other = str(tmp_path / "staged")
    spark.range(5).write.mode("overwrite").parquet(other)
    staged = spark.read.parquet(other)  # pre-built, like a staged-store
    staged.schema                       # relation held by a query module

    def q(sp, sf):
        return staged.groupBy().count()

    w = memo_query("_test_outside", q)
    w(spark, corpus)
    w(spark, corpus)
    assert "_test_outside" in relations._MEMO_DENY


def test_memo_query_immutable_dir_allowed(spark, corpus, tmp_path):
    staged = str(tmp_path / "write_once")
    spark.range(7).write.mode("overwrite").parquet(staged)
    table = spark.read.parquet(staged)
    table.schema
    relations.IMMUTABLE_DIRS.add(os.path.realpath(staged))
    try:
        calls = []

        def q(sp, sf):
            calls.append(1)
            return table.groupBy().count()

        w = memo_query("_test_immutable", q)
        d1 = w(spark, corpus)
        d2 = w(spark, corpus)
        assert len(calls) == 1 and d1 is not d2
        assert d2.collect()[0][0] == 7
        assert "_test_immutable" not in relations._MEMO_DENY
    finally:
        relations.IMMUTABLE_DIRS.discard(os.path.realpath(staged))


def test_stamp_sees_depth2_inplace_rewrite(tmp_path):
    # a file rewritten IN PLACE two levels below the stamped dir (same
    # name → the parent dir's mtime does not move) must change the stamp
    sub = tmp_path / "table.parquet"
    sub.mkdir()
    f = sub / "part-0"
    f.write_text("v1")
    s1 = relations._stamp(str(tmp_path))
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))
    s2 = relations._stamp(str(tmp_path))
    assert s1 != s2


def test_memo_query_invalidates_on_depth2_rewrite(spark, corpus):
    calls = []

    def q(sp, sf):
        calls.append(1)
        return (read_base(sp, sf, "documents")
                .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))

    read_base(spark, corpus, "documents").schema
    w = memo_query("_test_depth2", q)
    w(spark, corpus)
    w(spark, corpus)
    assert len(calls) == 1
    # rewrite a leaf data file in place: name unchanged, parent dir
    # mtime unchanged — only the recursive stamp can see it
    table = os.path.join(corpus, "documents.parquet")
    part = next(p for p in os.listdir(table)
                if p.startswith("part-"))
    os.utime(os.path.join(table, part),
             ns=(1_000_000_000, 1_000_000_000))
    w(spark, corpus)
    assert len(calls) == 2


def test_memo_query_thread_submitted_job_blocks_memo(spark, corpus):
    # jobs submitted from a worker thread during construction must be
    # visible to the zero-jobs probe (the job-group probe was blind to
    # them — ADVICE r12)
    from concurrent.futures import ThreadPoolExecutor

    calls = []

    def q(sp, sf):
        calls.append(1)
        d = read_base(sp, sf, "documents")
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(lambda: sp.range(3).collect()).result()
        return d.groupBy("lang").count()

    read_base(spark, corpus, "documents").schema
    w = memo_query("_test_threadjob", q)
    w(spark, corpus)
    w(spark, corpus)
    assert len(calls) == 2  # never memoized: every call submits a job


def test_memo_query_subquery_leaf_outside_sf_denied(spark, corpus,
                                                    tmp_path):
    # the ONLY reference to the outside table sits inside a scalar
    # subquery — collectLeaves on the main plan misses it; the
    # subquery-aware walk must deny the memo
    other = str(tmp_path / "staged_sub")
    spark.range(5).write.mode("overwrite").parquet(other)
    staged = spark.read.parquet(other)
    staged.schema

    def q(sp, sf):
        read_base(sp, sf, "documents").createOrReplaceTempView(
            "_t_docs_sub")
        staged.createOrReplaceTempView("_t_staged_sub")
        return sp.sql(
            "SELECT lang, count(*) AS n FROM _t_docs_sub "
            "WHERE doc_id >= (SELECT min(id) FROM _t_staged_sub) "
            "GROUP BY lang")

    read_base(spark, corpus, "documents").schema
    w = memo_query("_test_subquery", q)
    w(spark, corpus)
    w(spark, corpus)
    assert "_test_subquery" in relations._MEMO_DENY


def test_memo_query_preserves_caller_job_group(spark, corpus):
    def q(sp, sf):
        return read_base(sp, sf, "documents").groupBy("source").count()

    read_base(spark, corpus, "documents").schema
    sc = spark.sparkContext
    sc.setJobGroup("_caller_group", "caller-owned")
    try:
        w = memo_query("_test_group_kept", q)
        w(spark, corpus)  # miss path: probe must not clobber the group
        assert (sc.getLocalProperty("spark.jobGroup.id")
                == "_caller_group")
    finally:
        sc._jsc.clearJobGroup()


def test_plan_memo_keys_by_session_and_key(spark):
    built = []

    def build():
        built.append(1)
        return spark.range(3)

    a = plan_memo(spark, ("k1",), build)
    b = plan_memo(spark, ("k1",), build)
    c = plan_memo(spark, ("k2",), build)
    assert a is b and a is not c and len(built) == 2
