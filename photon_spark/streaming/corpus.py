"""Streaming corpus ingest with ONLINE near-duplicate rejection — the
day-2 LLM-data-pipeline shape run continuously: documents arrive as a
stream, each micro-batch is checked against the persisted LSH band index
of everything accepted so far (plus within-batch), near-dups are
rejected, and survivors append to BOTH the corpus table and the index.

Reference anchor: photon's continuous-ingest lifecycle (SURVEY.md §3.1,
src/photon/streams.clj:288-308) carried over to the north-star dedup
surface; the batch-mode twin is queries_select.q_dedup_incremental.

Scale design:
- The index table holds (id, band, bucket) short digests — never text.
  At 100 TB, write it bucketed by (band, bucket) so each micro-batch's
  candidate join is co-located; here corpus and index are per-batch
  partition dirs (batch=N) written with OVERWRITE, so an at-least-once
  replay of a crashed batch clobbers its partial output instead of
  double-appending (the accepted/rejected counters, by contrast, are
  session-scope best-effort).
- Candidate verification re-shingles ONLY the candidate corpus docs
  (a partition-prunable id fetch), never the whole corpus.
- Within-batch dups resolve by keep-lowest-id (the dup_clusters keeper
  rule): any doc that is the hi side of a verified pair is rejected.

Invariant (pinned in tests): the accepted corpus never contains a
near-dup pair under the same (num_hashes, bands, threshold) miner.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from photon_spark.functions import dedup
from photon_spark.streaming.tuning import drain

#: client-side document envelope for the drop-dir source
DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
])


class StreamingCorpusIngest:
    """Continuous doc ingest: JSON-lines drop dir → deduped corpus +
    LSH band index, one micro-batch at a time."""

    def __init__(self, spark, source_dir: str, corpus_dir: str,
                 index_dir: str, checkpoint_dir: str | None = None,
                 num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
                 threshold: float = 0.7,
                 exact_dedup_watermark: str | None = None,
                 pair_dir: str | None = None, reject: bool = True):
        self.spark = spark
        self.source_dir = source_dir
        self.corpus_dir = corpus_dir
        self.index_dir = index_dir
        #: ``pair_dir``: when set, every verified near-dup pair this
        #: ingest discovers (cross-batch AND within-batch) is appended as
        #: (lo_id, hi_id, jaccard) — a per-batch partition of the SAME
        #: shared pair relation pair_cache.PairTable maintains in batch
        #: mode, so streaming ingest and the seven batch consumers read
        #: one table. ``reject=False`` turns rejection off (annotate-only
        #: mode: every doc enters the corpus + index, duplicates are
        #: RECORDED, keep-best is decided downstream) — in that mode the
        #: accumulated pair table over any batch sequence equals the
        #: batch miner's full-corpus mine exactly (pinned in tests),
        #: because band membership is doc-local.
        self.pair_dir = pair_dir
        self.reject = reject
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(
            prefix="photon_spark_corpus_ckpt_")
        self.num_hashes, self.bands = num_hashes, bands
        self.shingle_n, self.threshold = shingle_n, threshold
        #: optional HYBRID stage: a watermark delay string (e.g. "1 hour")
        #: turns on exact-content dedup via Spark's own
        #: dropDuplicatesWithinWatermark BEFORE the LSH near-dup check.
        #: At 100 TB most duplicates are exact (re-crawls, mirrors): the
        #: built-in operator kills them with bounded per-key state and no
        #: shingling, so the expensive band-index path sees only the
        #: near-dup residue. Docs dropped here never reach _apply_batch
        #: and are NOT counted in accepted/rejected (those counters audit
        #: the near-dup stage only).
        self.exact_dedup_watermark = exact_dedup_watermark
        self.accepted = 0
        self.rejected = 0
        # Partition key for this ingest session's batches: stable across
        # restarts of the SAME checkpoint (so a crashed batch's replay
        # overwrites its own ghost partition) and unique across different
        # checkpoints sharing the corpus dirs (foreachBatch batch_ids
        # restart at 0 per checkpoint — a bare batch_id key would let a
        # day-2 session clobber day-1's batch=0 data).
        import hashlib
        self._ck = hashlib.md5(
            self.checkpoint_dir.encode()).hexdigest()[:8]
        # resume support: a pre-existing index keeps its authority (local
        # fs check; on a cluster store this would be a catalog lookup)
        import os
        self._has_corpus = os.path.isdir(index_dir) and any(
            f.startswith("batch=") for f in os.listdir(index_dir))

    # ------------------------------------------------------------ helpers

    def _jaccard_pairs(self, cands, sh_a, sh_b):
        """Exact verify of candidate (a, b) pairs given two (id, sh)
        relations — delegates to the shared miner definition
        (dedup.verify_candidate_pairs) so streaming and batch can never
        disagree on the verify rule."""
        return dedup.verify_candidate_pairs(cands, sh_a, self.threshold,
                                            left="a", right="b",
                                            sh_right=sh_b)

    # -------------------------------------------------------------- batch

    def _apply_batch(self, batch_df, batch_id: int) -> None:
        n_input = batch_df.count()
        if n_input == 0:
            return
        cur = f"{self._ck}-{batch_id}"
        # doc_id is the corpus key: in-batch id duplicates count as
        # rejected (they ARE duplicates); cross-batch id reuse is the
        # caller's contract to avoid (ids must be globally unique).
        docs = batch_df.dropDuplicates(["doc_id"]).persist()
        sh_new = dedup._shingled(docs, "text", "doc_id",
                                 self.shingle_n).persist()
        buckets_new = dedup.minhash_band_buckets(
            sh_new, self.num_hashes, self.bands).persist()

        rejected_ids = None
        hits = None

        # 1. cross-batch: new docs vs the persisted index. Exclude THIS
        # batch's own partition: after a crash between the writes and the
        # checkpoint commit, the replay would otherwise see the crashed
        # attempt's ghost rows, match every doc against itself
        # (jaccard=1.0) and reject the whole batch.
        if self._has_corpus:
            idx = (self.spark.read.parquet(self.index_dir)
                   .where(F.col("batch") != cur))
            cands = (buckets_new.alias("n")
                     .join(idx.alias("c"),
                           (F.col("n.band") == F.col("c.band"))
                           & (F.col("n.bucket") == F.col("c.bucket")))
                     .select(F.col("n.id").alias("a"),
                             F.col("c.id").alias("b"))
                     .distinct())
            corp_ids = cands.select(F.col("b").alias("doc_id")).distinct()
            # fetch + re-shingle ONLY candidate corpus docs
            corp_docs = (self.spark.read.parquet(self.corpus_dir)
                         .where(F.col("batch") != cur)
                         .join(corp_ids, "doc_id", "left_semi"))
            sh_corp = dedup._shingled(corp_docs, "text", "doc_id",
                                      self.shingle_n)
            hits = self._jaccard_pairs(cands, sh_new, sh_corp).persist()
            rejected_ids = hits.select(F.col("a").alias("doc_id")).distinct()

        # 2. within-batch: keep-lowest-id among batch near-dups
        bcands = (buckets_new.alias("x")
                  .join(buckets_new.alias("y"),
                        (F.col("x.band") == F.col("y.band"))
                        & (F.col("x.bucket") == F.col("y.bucket"))
                        & (F.col("x.id") < F.col("y.id")))
                  .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
                  .distinct())
        bpairs = self._jaccard_pairs(bcands, sh_new, sh_new).persist()
        bhits = bpairs.select(F.col("b").alias("doc_id")).distinct()
        rejected_ids = (bhits if rejected_ids is None
                        else rejected_ids.unionByName(bhits).distinct())

        if self.pair_dir is not None:
            # shared pair relation: normalized (lo_id, hi_id, jaccard),
            # per-batch partition with OVERWRITE (same replay-clobber
            # contract as the corpus/index writes)
            pairs = bpairs.select(F.col("a").alias("lo_id"),
                                  F.col("b").alias("hi_id"), "jaccard")
            if hits is not None:
                pairs = pairs.unionByName(
                    hits.select(F.least("a", "b").alias("lo_id"),
                                F.greatest("a", "b").alias("hi_id"),
                                "jaccard"))
            pairs.write.mode("overwrite").parquet(
                f"{self.pair_dir}/batch={cur}")

        if not self.reject:
            # annotate-only mode: duplicates are recorded, not dropped —
            # every doc enters the corpus and the index, so later batches
            # still pair against it (the mine-once table stays COMPLETE;
            # rejection mode, by contrast, deliberately forgets dropped
            # docs and prunes their future pairs)
            rejected_ids = docs.select("doc_id").limit(0)
        rejected_ids = rejected_ids.persist()

        accepted = docs.join(rejected_ids, "doc_id", "left_anti")
        n_acc = accepted.count()
        # Replay safety: foreachBatch is at-least-once, so a crash between
        # the two writes and the checkpoint commit replays this batch_id.
        # Per-batch partition dirs written with OVERWRITE make the replay
        # clobber the partial attempt instead of double-appending — the
        # decision is deterministic given the index state of batches < N
        # (this batch's own partial index partition is overwritten), so
        # the no-near-dup corpus invariant survives the crash.
        accepted.write.mode("overwrite").parquet(
            f"{self.corpus_dir}/batch={cur}")
        (buckets_new.join(rejected_ids.withColumnRenamed("doc_id", "id"),
                          "id", "left_anti")
         .write.mode("overwrite").parquet(f"{self.index_dir}/batch={cur}"))
        self.accepted += n_acc
        self.rejected += n_input - n_acc
        self._has_corpus = True
        for df in (docs, sh_new, buckets_new, rejected_ids, bpairs):
            df.unpersist()
        if hits is not None:
            hits.unpersist()

    # --------------------------------------------------------------- run

    def run(self, timeout_sec: float = 300.0) -> tuple[int, int]:
        """Drain everything currently dropped, then stop.
        Returns (accepted, rejected) totals since construction."""
        src = (self.spark.readStream.schema(DOC_SCHEMA)
               .option("maxFilesPerTrigger", 1)
               .json(self.source_dir))
        if self.exact_dedup_watermark:
            # Hybrid stage: exact-content dedup with watermark-bounded
            # state. Key = md5(text) (content identity, not doc_id); the
            # first arrival wins, later exact copies are dropped by the
            # state store before any shingling. Processing-time watermark:
            # the drop-dir source has no event time, so the state horizon
            # is "copies arriving within <delay> of the original".
            src = (src.withColumn("_content_md5", F.md5(F.col("text")))
                      .withColumn("_arrival", F.current_timestamp())
                      .withWatermark("_arrival", self.exact_dedup_watermark)
                      .dropDuplicatesWithinWatermark(["_content_md5"])
                      .drop("_content_md5", "_arrival"))
        # Shuffle partitions sized from the drop-dir volume: acceptance
        # is content-keyed, so the result is partition-count invariant.
        drain(src.writeStream
              .foreachBatch(self._apply_batch)
              .option("checkpointLocation", self.checkpoint_dir)
              .queryName("photon_spark_corpus_ingest"),
              self.spark, self.source_dir, timeout_sec=timeout_sec)
        return self.accepted, self.rejected
