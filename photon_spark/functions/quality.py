"""Corpus-quality signals a training-data pipeline filters on:
word-n-gram repetition metrics (the Gopher-style "repetitious text"
signals) and winnowing rolling-hash fingerprints (MOSS-style content
overlap detection).

Scale design: per-document metrics are ONE Arrow-batched map pass over the
corpus — no shuffle at all; overlap mining shuffles only (fingerprint, id)
postings through a df-capped inverted index (the same bounded self-join
shape as dedup.jaccard_pairs). Document bodies never shuffle.

Parity rules (see photon_spark/queries.py): every ratio is a single
float64 division of exact integer counts rounded HALF_UP to 6dp via the
shortest-repr Decimal rule; fingerprints are md5 hex (identical across
Spark/Python/DuckDB); tokenization is the normalized-text single-space
split shared with dedup.shingles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Winnowing defaults: md5 over k-char grams, window of w grams, posting
#: lists capped at df ≤ cap (ubiquitous fingerprints carry no signal —
#: standard winnowing practice, and the bound that keeps the self-join
#: linear at 100 TB).
WINNOW_K = 16
WINNOW_W = 8
MAX_FP_DF = 10


def _r6(x: float) -> float:
    """Spark F.round twin: HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _norm_tokens(t: str) -> list[str]:
    """normalize_text + single-space split, the shingle tokenization:
    lowercase, collapse ASCII whitespace runs to one space, spaces-only
    strip (Spark/DuckDB trim parity), '' → []."""
    import re
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", (t or "").lower()).strip(" ")
    return norm.split(" ") if norm else []


# ------------------------------------------------------------- repetition

def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document word-n-gram repetition signals, one map-only pass:

    - ``n_tokens``, ``distinct_frac`` = distinct tokens / tokens;
    - ``top_bigram`` (most frequent word 2-gram; ties break to the
      lexicographically smallest — NULL when < 2 tokens) with
      ``top_bigram_frac`` = its count / bigram count;
    - ``dup_trigram_frac`` = fraction of trigram instances that repeat an
      earlier trigram of the same document.

    The Gopher-class repetition filters ("duplicate line/paragraph/n-gram
    fraction") reduce to exactly these counts on a line-less corpus. All
    counts are integers, every emitted ratio is one float64 division
    rounded to 6dp — hash-exact against the SQL oracle.
    """

    def run(batches):
        from collections import Counter
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                toks = _norm_tokens(getattr(rec, text_col))
                doc_id = getattr(rec, id_col)
                n = len(toks)
                distinct_frac = _r6(len(set(toks)) / n) if n else 0.0
                top_bi, top_bi_frac = None, 0.0
                if n >= 2:
                    bi = Counter(" ".join(p) for p in zip(toks, toks[1:]))
                    # max count, then lexicographically smallest gram
                    top_bi = min(bi, key=lambda g: (-bi[g], g))
                    top_bi_frac = _r6(bi[top_bi] / (n - 1))
                dup_tri_frac = 0.0
                if n >= 3:
                    tris = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
                    dup_tri_frac = _r6((len(tris) - len(set(tris)))
                                       / len(tris))
                rows.append((doc_id, n, distinct_frac, top_bi, top_bi_frac,
                             dup_tri_frac))
            yield pd.DataFrame(rows, columns=[
                id_col, "n_tokens", "distinct_frac", "top_bigram",
                "top_bigram_frac", "dup_trigram_frac"])

    return df.select(id_col, text_col).mapInPandas(
        run,
        schema=(f"{id_col} long, n_tokens long, distinct_frac double, "
                "top_bigram string, top_bigram_frac double, "
                "dup_trigram_frac double"))


# -------------------------------------------------------------- winnowing

def winnow_udf(col, k: int = WINNOW_K, w: int = WINNOW_W):
    """Winnowing fingerprints as an Arrow-batched pandas UDF →
    array<string> of DISTINCT selected hashes.

    The scheme (Schleimer/Wilkerson/Aiken winnowing): hash every k-char
    gram of the normalized text (the rolling-k-gram sequence), slide a
    window of ``w`` consecutive gram hashes, keep each window's minimum.
    Guarantees every match of length ≥ k+w-1 chars shares a fingerprint,
    while storing ~2/(w+1) of the grams. md5 stands in for the classic
    Rabin-Karp rolling polynomial so the selection is reproducible in SQL
    (position-wise the scheme is identical; the rolling-update trick is a
    constant-factor optimization md5 trades away for engine parity).
    """

    @F.pandas_udf("array<string>")
    def _wn(texts: pd.Series) -> pd.Series:
        import hashlib
        out = []
        for t in texts:
            import re
            norm = re.sub(r"[ \t\n\x0b\f\r]+", " ",
                          (t or "").lower()).strip(" ")
            n_grams = len(norm) - k + 1
            if n_grams < w:
                out.append([])
                continue
            hs = [hashlib.md5(norm[i:i + k].encode("utf-8")).hexdigest()
                  for i in range(n_grams)]
            # sliding-window minima over w gram hashes; dict preserves
            # first-seen order, output is the distinct selected set
            fps = dict.fromkeys(min(hs[j:j + w])
                                for j in range(n_grams - w + 1))
            out.append(list(fps))
        return pd.Series(out)

    return _wn(F.col(col) if isinstance(col, str) else col)


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = WINNOW_K,
                         w: int = WINNOW_W, min_shared: int = 15,
                         max_fp_df: int = MAX_FP_DF) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnow fingerprints —
    plagiarism/containment-style overlap mining (catches long verbatim
    spans that token-level Jaccard dilutes away).

    Plan: fingerprints are computed scan-side (map-only UDF), the df cap
    is a windowed count over the fingerprint key (sharing the exchange the
    self-join needs anyway — the jaccard_pairs shape), and only
    (fingerprint, id) postings ever shuffle. At 100 TB the capped inverted
    index bounds candidate pairs by cap·|postings| regardless of how
    common a boilerplate span is.
    """
    from photon_spark.functions._util import spread
    ex = (spread(df)
          .select(F.col(id_col).alias("id"),
                  F.explode(winnow_udf(text_col, k, w)).alias("fp")))
    wf = Window.partitionBy("fp")
    capped = (ex.withColumn("_df", F.count(F.lit(1)).over(wf))
                .where(F.col("_df") <= max_fp_df).drop("_df"))
    a, b = capped.alias("a"), capped.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("lo_id"),
                      F.col("b.id").alias("hi_id"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))


# ----------------------------------------------------------------- tf-idf

def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 3) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document:
    score = tf · ln(N / df), ranked (score DESC, term ASC).

    Plan: one (doc, term) shuffle for tf, a term-keyed aggregate for df
    (broadcast back onto tf — a vocabulary dim table), then the per-doc
    top-k as a rank-limited window (WindowGroupLimit keeps ≤ k rows per
    doc per map partition before the exchange).

    ln parity: java.lang.Math.log differs from libm by 1 ulp on some
    arguments (verified — a latent 6dp-boundary hash flip), while Python's
    math.log and DuckDB's ln are the SAME glibc libm call, bitwise equal
    (pinned in tests/test_parity_rules.py). The idf is therefore computed
    by a Python UDF over the tiny vocabulary dim — never the big tf
    relation — and the exact-IEEE tf·idf multiply + HALF_UP round happen
    JVM-side.

    tf needs NO shuffle: the aggregation key (doc, term) nests the row
    unit (doc), so one Arrow Counter pass per document is map-side
    complete — Catalyst's explode→hash-agg plan would shuffle every
    distinct (doc, term) pair for nothing. The packed tf relation is
    persisted (it feeds both the df branch and the score branch) and
    released via dedup.release_cache.
    """

    def doc_tf(batches):
        from collections import Counter
        for pdf in batches:
            ids, terms, tfs = [], [], []
            for rec in pdf.itertuples(index=False):
                cnt = Counter(_norm_tokens(getattr(rec, text_col)))
                doc_id = getattr(rec, id_col)
                for term, c in cnt.items():
                    ids.append(doc_id)
                    terms.append(term)
                    tfs.append(c)
            yield pd.DataFrame({"doc_id": ids, "term": terms, "tf": tfs})

    tf = (df.select(id_col, text_col)
            .mapInPandas(doc_tf, schema="doc_id long, term string, tf long")
            .persist())
    n_docs = df.select(id_col).distinct().count()

    @F.pandas_udf("double")
    def _idf(dfs: pd.Series) -> pd.Series:
        import math
        return dfs.map(lambda d: math.log(float(n_docs) / d))

    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
               .withColumn("idf", _idf("df")))
    scored = (tf.join(F.broadcast(dfreq), "term")
                .withColumn("score",
                            F.round(F.col("tf") * F.col("idf"), 6)))
    wd = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                              F.col("term"))
    from photon_spark.functions.dedup import _own_cache
    return _own_cache(
        scored.withColumn("rank", F.row_number().over(wd))
              .where(F.col("rank") <= top_k)
              .select("doc_id", "term",
                      F.col("tf").cast("long").alias("tf"),
                      F.col("df").cast("long").alias("df"),
                      "score", F.col("rank").cast("long").alias("rank")),
        [tf])

