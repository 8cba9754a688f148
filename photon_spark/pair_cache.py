"""Process-scoped materialization of the mined near-duplicate pair
relation.

Seven registry queries consume the MinHash-LSH near-dup pairs
(keep-best, split leakage, cross-source matrix, dup-graph degree /
clustering / PageRank, cluster sizes). Re-mining per query is honest but
wasteful — at 100 TB the pipeline mines ONCE and every downstream
decision reads the shared pair table. This module is that shape locally:
the first consumer runs :func:`photon_spark.functions.dedup.
minhash_near_duplicates` and writes the (lo_id, hi_id, jaccard) relation
to a parquet table; later consumers (same process, same corpus, same
params) read the table. On a cluster the write target would be shared
storage (object store / warehouse table); the semantics are identical.

Values are bit-identical to a fresh mine (parquet round-trips the exact
6dp-rounded doubles), so the correctness gate's hashes are unchanged —
only the plan differs. `minhash_near_dups` itself keeps mining from
scratch: it IS the mining benchmark.

The memo key deliberately excludes the SparkSession: the parquet table
outlives any one session, exactly like the shared table it models. Keyed
by corpus path, so tests with their own tmp corpora never collide.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.functions import dedup

_PAIR_TABLES: dict[tuple, str] = {}


def _corpus_stamp(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of the corpus file/dir — part of the
    memo key, so a corpus regenerated IN PLACE (same path, new content)
    invalidates the cached pair table instead of silently serving stale
    pairs to the seven consumer queries."""
    if os.path.isdir(path):
        entries = sorted(os.listdir(path))
        return (len(entries),
                max((os.path.getmtime(os.path.join(path, e))
                     for e in entries), default=0.0))
    st = os.stat(path)
    return (st.st_mtime, st.st_size)


@atexit.register
def _cleanup() -> None:
    if not _PAIR_TABLES:
        return
    from photon_spark.relations import IMMUTABLE_DIRS
    for path in _PAIR_TABLES.values():
        # de-register BEFORE the delete (realpath of a removed dir may
        # no longer resolve identically): a later process reusing the
        # tmp path must never inherit the immutability certificate
        IMMUTABLE_DIRS.discard(os.path.realpath(path))
        shutil.rmtree(path, ignore_errors=True)
    _PAIR_TABLES.clear()


class PairTable:
    """Durable near-dup pair table maintained INCREMENTALLY — the
    store-adjacent promotion of the process-scoped cache above, and the
    real mine-once pipeline shape at 100 TB: the corpus is mined exactly
    once (`build`), and every later batch extends the table through the
    LSH band index (`update`) without ever re-scanning corpus text.

    Two relations persist under ``path`` (on a cluster: shared-storage
    tables, bucketed by (band, bucket) / id):

    - ``pairs/`` — (lo_id, hi_id, jaccard), the product relation the
      seven consumer queries read;
    - ``bands/`` — (id, band, bucket), the LSH index new batches probe.

    Deliberately NOT stored: shingle arrays. Exact verification needs
    the shingle sets of CANDIDATE corpus docs only, and candidates are
    ≪ corpus by construction — so `update` fetches just those docs from
    the corpus relation (a partition-prunable id semi-join) and
    re-shingles them, exactly like the streaming ingest
    (streaming/corpus.py) does. Storing the index as short digests and
    re-deriving verification inputs from source text is the 100 TB
    layout: the index stays tiny and the corpus is read only where the
    index says it matters.

    Update math: a MinHash candidate pair exists iff the two docs share a
    band bucket — a doc-local property — so
    ``pairs(A ∪ B) = pairs(A) ∪ probe(B × (A ∪ B))`` exactly: batch docs
    probe the stored index for cross pairs and mine among themselves for
    within-batch pairs; no stored pair is ever revisited. The
    `pair_table_incremental_audit` gate query hash-checks this identity
    against DuckDB's full-corpus re-mine.

    Verification (exact Jaccard, 6dp) goes through the single shared
    :func:`photon_spark.functions.dedup.verify_candidate_pairs`, so the
    incremental path can never drift from the batch miner's values.
    """

    def __init__(self, spark: SparkSession, path: str,
                 num_hashes: int = 16, bands: int = 4,
                 shingle_n: int = 3, threshold: float = 0.7) -> None:
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.threshold = threshold

    def _p(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def build(self, docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> None:
        """Mine the initial corpus and materialize pairs + band index.
        One shingle pass feeds the signature/banding branch and candidate
        verification."""
        sh = dedup._shingled(docs, text_col, id_col,
                             self.shingle_n).persist()
        # ONE signature pass: the persisted band index is also the
        # candidate generator (self-join on (band, bucket)), exactly the
        # relation later updates probe
        buckets = dedup.minhash_band_buckets(sh, self.num_hashes,
                                             self.bands).persist()
        cands = (buckets.alias("a")
                 .join(buckets.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.id") < F.col("b.id")))
                 .select(F.col("a.id").alias("lo_id"),
                         F.col("b.id").alias("hi_id"))
                 .distinct())
        pairs = dedup.verify_candidate_pairs(cands, sh, self.threshold)
        # wipe any previous table at this path, then land the base mine
        # in its own batch partition (see _write_batch's replay contract)
        for rel in ("bands", "pairs"):
            shutil.rmtree(self._p(rel), ignore_errors=True)
        self._write_batch("base", pairs, buckets)
        sh.unpersist()
        buckets.unpersist()

    def _write_batch(self, tag: str, pairs: DataFrame,
                     bands: DataFrame) -> None:
        """Land one batch's rows as ``batch=<tag>`` partition dirs written
        with OVERWRITE — the replay contract the streaming ingest uses:
        a crashed-and-retried update (at-least-once callers) clobbers its
        own partial partition instead of double-appending, so the
        pairs(A∪B) identity survives retries. Non-atomicity across the
        two writes is likewise healed by the retry (same tag, both dirs
        rewritten).

        The writes MUST stay sequential: the pairs relation of an
        update READS the stored band index (its cross-probe leg), so
        overlapping it with the bands overwrite of the same retried
        batch races the read against the delete (observed as
        FAILED_READ_FILE on a retry run when this was briefly
        parallelized)."""
        pairs.write.mode("overwrite").parquet(
            os.path.join(self._p("pairs"), f"batch={tag}"))
        bands.write.mode("overwrite").parquet(
            os.path.join(self._p("bands"), f"batch={tag}"))

    def update(self, new_docs: DataFrame, corpus_docs: DataFrame,
               text_col: str = "text", id_col: str = "doc_id") -> None:
        """Fold a new batch into the table: batch×corpus pairs via the
        stored band index, batch×batch pairs via a batch-local mine;
        append pairs + the batch's index rows. ``corpus_docs`` is the
        already-indexed corpus relation — read ONLY at candidate ids (a
        semi-join the storage layout can prune), never scanned."""
        sh_new = dedup._shingled(new_docs, text_col, id_col,
                                 self.shingle_n).persist()
        # one signature pass for the batch; b_new feeds THREE consumers
        # (cross probe, within-batch self-join, index append)
        b_new = dedup.minhash_band_buckets(sh_new, self.num_hashes,
                                           self.bands).persist()
        from photon_spark.relations import _stamp, plan_memo
        bands_path = self._p("bands")
        b_old = plan_memo(
            self.spark, ("pair_bands", bands_path, _stamp(bands_path)),
            lambda: self.spark.read.parquet(bands_path))

        # A RETRIED update finds its own bands already in the store —
        # exclude the batch's own ids from the probe (batch-self pairs
        # are the within-batch mine's job), so retry candidates reduce to
        # exactly the first attempt's.
        new_ids = b_new.select(F.col("id").alias("corp_id")).distinct()
        cross = (b_new.alias("a")
                 .join(b_old.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket")))
                 .select(F.col("a.id").alias("new_id"),
                         F.col("b.id").alias("corp_id"))
                 .distinct()
                 .join(new_ids, "corp_id", "left_anti"))
        # fetch + re-shingle ONLY candidate corpus docs
        cand_ids = cross.select(F.col("corp_id").alias(id_col)).distinct()
        # corpus_docs must cover every already-indexed doc: a candidate id
        # absent from it would silently vanish through the inner shingle
        # join in verify_candidate_pairs, breaking the pairs(A∪B)
        # identity. Id-only anti-join (corpus text untouched; cand_ids is
        # broadcast-sized), fail loudly instead.
        missing = (cand_ids
                   .join(corpus_docs.select(id_col), id_col, "left_anti")
                   .limit(5).collect())
        if missing:
            raise ValueError(
                "PairTable.update: corpus_docs is missing indexed docs "
                f"referenced by the band index (e.g. ids "
                f"{[r[id_col] for r in missing]}); pass the FULL "
                "already-indexed corpus relation")
        head = new_docs.agg(F.min(id_col).alias("mn"),
                            F.count(F.lit(1)).alias("n")).collect()[0]
        sh_old = dedup._shingled(
            corpus_docs.join(cand_ids, id_col, "left_semi"),
            text_col, id_col, self.shingle_n)
        cross_hits = dedup.verify_candidate_pairs(
            cross, sh_new, self.threshold,
            left="new_id", right="corp_id", sh_right=sh_old)
        cross_pairs = cross_hits.select(
            F.least("new_id", "corp_id").alias("lo_id"),
            F.greatest("new_id", "corp_id").alias("hi_id"),
            "jaccard")

        within = (b_new.alias("x")
                  .join(b_new.alias("y"),
                        (F.col("x.band") == F.col("y.band"))
                        & (F.col("x.bucket") == F.col("y.bucket"))
                        & (F.col("x.id") < F.col("y.id")))
                  .select(F.col("x.id").alias("lo_id"),
                          F.col("y.id").alias("hi_id"))
                  .distinct())
        within_pairs = dedup.verify_candidate_pairs(
            within, sh_new, self.threshold)

        # cross (new×old) and within (new×new) candidate sets are
        # disjoint by id membership, so the union never double-counts.
        # The batch tag derives from the batch's own ids (min id is
        # unique per batch under the global-id-uniqueness contract), so
        # a RETRY of the same batch reuses its tag and overwrites its
        # own partitions instead of double-appending.
        tag = f"u{head['mn']}-{head['n']}"
        self._write_batch(tag, cross_pairs.unionByName(within_pairs),
                          b_new)
        sh_new.unpersist()
        b_new.unpersist()

    def pairs(self) -> DataFrame:
        # drop the batch partition column — consumers see the pure
        # (lo_id, hi_id, jaccard) relation. Plan construction is
        # stamp-keyed (relations.plan_memo): an update/overwrite of any
        # batch partition changes the stamp and rebuilds the plan, so
        # the captured file listing can never go stale.
        from photon_spark.relations import _stamp, plan_memo
        path = self._p("pairs")
        return plan_memo(
            self.spark, ("pair_pairs", path, _stamp(path)),
            lambda: (self.spark.read.parquet(path)
                     .select("lo_id", "hi_id", "jaccard")))


def near_dup_pairs(spark: SparkSession, sf_dir: str,
                   num_hashes: int = 16, bands: int = 4,
                   shingle_n: int = 3,
                   threshold: float = 0.7) -> DataFrame:
    """The mined (lo_id, hi_id, jaccard) near-dup relation for
    ``{sf_dir}/documents.parquet`` — mined on first request, served from
    the materialized pair table afterwards."""
    corpus = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (corpus, _corpus_stamp(corpus), num_hashes, bands, shingle_n,
           round(threshold, 6))
    path = _PAIR_TABLES.get(key)
    if path is None:
        docs = spark.read.parquet(corpus)
        pairs = dedup.minhash_near_duplicates(
            docs, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, threshold=threshold)
        path = tempfile.mkdtemp(prefix="photon_pair_table_")
        pairs.write.mode("overwrite").parquet(path)
        dedup.release_cache(pairs)
        _PAIR_TABLES[key] = path
    # write-once table: the plan (reader construction + file listing)
    # is memoized per session, and the dir is registered immutable so
    # consumer-query plans over it qualify for the registry-level plan
    # memo; every action still scans the parquet. The memo key carries
    # the dir STAMP like every other plan_memo call site (ADVICE r12):
    # a deleted-and-recreated path can never serve the old file listing.
    from photon_spark.relations import IMMUTABLE_DIRS, _stamp, plan_memo
    IMMUTABLE_DIRS.add(os.path.realpath(path))
    return plan_memo(spark, ("near_dup_pairs", path, _stamp(path)),
                     lambda: spark.read.parquet(path))
