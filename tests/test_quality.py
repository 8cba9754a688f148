"""Quality-signal operators: repetition metrics, winnowing fingerprints,
TF-IDF top terms. Hash-parity vs DuckDB is covered by the driver gate
(tools/check_correctness.py); these pin the semantics the oracle can't
express — golden values, the winnowing match guarantee, scale-shape
invariants."""

import pytest

from photon_spark.functions import quality


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


# ------------------------------------------------------------- repetition

def test_repetition_profile_golden(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),        # bigrams: 'a b'×3, 'b a'×2
         (2, "x y z"),              # all distinct
         (3, "w w w w"),            # maximal repetition
         (4, "solo"),               # <2 tokens: no bigram
         (5, "")],                  # empty
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in quality.repetition_profile(df).collect()}
    r1 = got[1]
    assert r1["n_tokens"] == 6
    assert r1["distinct_frac"] == round(2 / 6, 6)
    assert r1["top_bigram"] == "a b" and r1["top_bigram_frac"] == 0.6
    # trigrams: aba bab aba bab -> 4 instances, 2 distinct
    assert r1["dup_trigram_frac"] == 0.5
    assert got[2]["distinct_frac"] == 1.0
    assert got[2]["dup_trigram_frac"] == 0.0
    r3 = got[3]
    assert r3["top_bigram"] == "w w" and r3["top_bigram_frac"] == 1.0
    assert r3["dup_trigram_frac"] == 0.5  # 2 instances, 1 distinct
    r4 = got[4]
    assert r4["top_bigram"] is None and r4["top_bigram_frac"] == 0.0
    assert got[5]["n_tokens"] == 0 and got[5]["distinct_frac"] == 0.0


def test_repetition_top_bigram_tie_breaks_lexicographically(spark):
    # 'b c' and 'c b' both appear twice; the smaller gram must win on both
    # engines (ORDER BY c DESC, g in the oracle).
    df = spark.createDataFrame([(1, "c b c b c")], "doc_id long, text string")
    r = quality.repetition_profile(df).first()
    assert r["top_bigram"] == "b c"


# -------------------------------------------------------------- winnowing

def test_winnowing_match_guarantee(spark):
    # Core winnowing property: two documents sharing a verbatim span of
    # length >= k+w-1 chars MUST share at least one selected fingerprint.
    shared = "the quick brown fox jumps over the lazy dog"  # 43 > 16+8-1
    df = spark.createDataFrame(
        [(1, f"prefix one {shared} suffix alpha"),
         (2, f"completely different head {shared} other tail")],
        "doc_id long, text string")
    fps = {r["doc_id"]: set(r["f"]) for r in
           df.select("doc_id", quality.winnow_udf("text").alias("f"))
             .collect()}
    assert fps[1] & fps[2]


def test_winnowing_density(spark):
    # Selected fingerprints ~ 2/(w+1) of grams (the winnowing density
    # bound); short docs (< k+w-1 chars) yield no fingerprints.
    df = spark.createDataFrame(
        [(1, "x " * 300), (2, "tiny")], "doc_id long, text string")
    rows = {r["doc_id"]: r["f"] for r in
            df.select("doc_id", quality.winnow_udf("text").alias("f"))
              .collect()}
    assert rows[2] == []
    n_grams = len(("x " * 300).strip()) - quality.WINNOW_K + 1
    assert 0 < len(rows[1]) <= n_grams  # distinct set, far below gram count


def test_winnow_overlap_finds_planted_near_dups(docs):
    # The high-jaccard planted pairs are verbatim-heavy: winnowing overlap
    # must recover most of them (independent evidence vs the shingle path).
    from photon_spark.functions import dedup
    jac = {(r["lo_id"], r["hi_id"])
           for r in dedup.jaccard_pairs(docs, threshold=0.9).collect()}
    win = {(r["lo_id"], r["hi_id"])
           for r in quality.winnow_overlap_pairs(docs).collect()}
    assert jac
    hits = len(jac & win)
    assert hits >= len(jac) * 0.8


# ----------------------------------------------------------------- tf-idf

def test_tfidf_ranks_distinctive_terms(spark):
    # 'zebra' appears only in doc 1 (df=1) and must outrank the ubiquitous
    # 'common' (df=3, idf=0) despite equal tf.
    df = spark.createDataFrame(
        [(1, "zebra common common"),
         (2, "common filler words"),
         (3, "common other stuff")],
        "doc_id long, text string")
    top = quality.tfidf_top_terms(df, top_k=1).collect()
    by_doc = {r["doc_id"]: r for r in top}
    assert by_doc[1]["term"] == "zebra"
    assert by_doc[1]["df"] == 1
    # rank-1 rows only, one per doc
    assert sorted(by_doc) == [1, 2, 3]
    assert all(r["rank"] == 1 for r in top)


def test_tfidf_topk_uses_rank_limited_window(docs):
    # The per-doc top-k must compile to a rank-limit (WindowGroupLimit)
    # plan, not a full window over every (doc, term) row.
    plan = (quality.tfidf_top_terms(docs, top_k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan


def test_repetition_profile_is_map_only(docs):
    # No shuffle: the per-doc profile must contain no Exchange at all.
    plan = (quality.repetition_profile(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
