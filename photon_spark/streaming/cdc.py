"""Continuous CDC merge maintenance — the streaming twin of
``queries_pipeline.q_upsert_merge``.

A ``CdcMergeTable`` keeps the compacted latest-record-per-key state of a
changelog under continuous micro-batch arrival, with MERGE semantics
(latest record wins; a winning tombstone deletes the key). It is the
state photon's keyed projections hold live (streams.clj:125-145) made
durable and restartable.

Scale design (the PairTable philosophy, pair_cache.py):

- **Write cost is O(batch), never O(table).** Each micro-batch first
  compacts ITSELF to one record per touched key (map-side struct max),
  then lands as a ``batch=<id>`` partition dir — existing state is never
  rewritten on the hot path.
- **Reads compact lazily.** ``state()`` is one keyed aggregate over the
  live partition set: argmax by the total (ts, event_id) order, then
  drop keys whose winning record is a tombstone. Because argmax is
  associative, N incremental batches and one big batch produce the SAME
  state (pinned in tests) — ordering across batches does not matter, so
  late/replayed data is safe.
- **At-least-once replay is idempotent twice over.** The ``batch=<id>``
  partition is written with OVERWRITE (the pair_cache._write_batch
  replay contract): a crashed-and-retried foreachBatch clobbers its own
  partial output. And where a replay lands beside already-folded history
  (an id the last compaction summarized), its verbatim duplicates
  collapse under the argmax while genuinely new records merge in —
  duplication is never an error in this table, only loss is.
- **The commit protocol is object-store-portable.** Compaction never
  renames or moves a data file. A fold is written to a fresh invisible
  ``_fold-…`` directory and becomes live by atomically replacing ONE
  tiny manifest file (``_live``) — the single primitive required is an
  atomic small-object PUT, which local ``os.replace`` provides here and
  every object store (S3/GCS/ABFS) provides natively. Data files are
  only ever created and deleted, never mutated or moved.
- **``compact()`` bounds read amplification**: folds the current fold
  plus every committed batch partition into a single new fold — exactly
  a Delta/Hudi minor compaction. Winning tombstones are RETAINED in the
  fold by default: a future batch (new id, at-least-once source re-read)
  can carry records OLDER than the tombstone, and the tombstone must
  keep beating them. Dropping them (major compaction) requires a
  caller-declared replay horizon — see ``drop_tombstones_below``.

At 100 TB, write the table bucketed by the key columns so ``state()``'s
aggregate and any downstream as-of probe are co-located; the relation
holds only keys + order columns + compact payloads, never wide rows.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NEG_INF = -(1 << 62)


class CdcMergeTable:
    """Durable, incrementally-maintained MERGE state.

    ``key_cols`` identify an entity; ``ord_cols`` must be a total
    deterministic order (e.g. ``["ts", "event_id"]`` with a unique id
    tie-break); ``tombstone_col`` is a boolean column in the changelog —
    a record with it true deletes the key when it wins the argmax (a
    NULL flag is treated as false, never as a delete). All other columns
    are carried as payload.

    Multi-writer ingest: two producers with independent foreachBatch
    checkpoints both emit batch ids 0,1,2,… — colliding in one id space.
    Pass ``writer_id``/``n_writers`` (the events-table sub-range design,
    events.py:74-105) and ``apply_batch`` namespaces every id as
    ``id * n_writers + writer_id``: writers own disjoint residue
    classes, so neither can overwrite the other's partitions,
    ``state()`` merges both under the argmax, and compaction folds the
    union. ``state_at`` addresses the NAMESPACED id space — use
    :meth:`effective_batch_id` to translate a writer-local id.
    """

    def __init__(self, spark, path: str, key_cols: list[str],
                 ord_cols: list[str], tombstone_col: str = "is_tombstone",
                 writer_id: int = 0, n_writers: int = 1):
        if not (0 <= int(writer_id) < int(n_writers)):
            raise ValueError(
                f"writer_id must be in [0, n_writers); got "
                f"writer_id={writer_id} n_writers={n_writers}")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.ord_cols = list(ord_cols)
        self.tombstone_col = tombstone_col
        self.writer_id = int(writer_id)
        self.n_writers = int(n_writers)

    # ---------------------------------------------------------- manifest
    _MANIFEST = "_live"
    _SENTINEL = "_compact_in_progress"
    #: default compaction-lease lifetime — generous for a maintenance
    #: fold; a compactor that dies leaves a lease a later writer or
    #: compactor reclaims after this many seconds instead of
    #: deadlocking the table forever
    _LEASE_TTL_SEC = 3600

    # ------------------------------------------------------------- lease
    def _read_lease(self) -> dict | None:
        """The compaction lease ``{"owner": ..., "expires": <epoch
        sec>}``, or None. Leases are written whole by an atomic replace,
        so any other content is corruption and raises: writers and
        compactors stay locked out until an operator removes it."""
        path = os.path.join(self.path, self._SENTINEL)
        try:
            with open(path) as f:
                lease = json.load(f)
        except FileNotFoundError:
            return None
        except ValueError:
            lease = None
        if not isinstance(lease, dict):
            raise RuntimeError(
                f"corrupt compaction lease {path}: a compact() may still "
                "be running; remove the file once none is")
        return lease

    @staticmethod
    def _lease_expired(lease: dict) -> bool:
        import time
        return time.time() > float(lease["expires"])

    def _acquire_lease(self, owner: str, ttl_sec: float) -> None:
        """Take the compaction lease: refuse while another holder's
        UNEXPIRED lease exists; reclaim an expired one (the crashed-
        compactor case the bare sentinel used to deadlock). The write
        is an atomic replace, the same small-file PUT primitive as the
        manifest commit."""
        import time
        lease = self._read_lease()
        if lease is not None and lease.get("owner") != owner \
                and not self._lease_expired(lease):
            raise RuntimeError(
                f"compact: lease held by {lease.get('owner')!r} until "
                f"epoch {lease.get('expires'):.0f}; a second compactor "
                "must wait or the holder's lease must expire")
        tmp = os.path.join(self.path, self._SENTINEL + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"owner": owner,
                       "expires": time.time() + float(ttl_sec)}, f)
        os.replace(tmp, os.path.join(self.path, self._SENTINEL))

    def _release_lease(self, owner: str) -> None:
        lease = self._read_lease()
        if lease is not None and lease.get("owner") == owner:
            os.remove(os.path.join(self.path, self._SENTINEL))

    # -------------------------------------------------- derived horizon
    def derive_gc_horizon(self, checkpoint_dirs) -> int:
        """The tightest SAFE major-compaction horizon from the writers'
        own streaming checkpoints — replacing the caller-guessed
        number with the committed truth. ``checkpoint_dirs`` maps
        writer_id -> that writer's Structured Streaming checkpoint
        location (a single path is accepted for n_writers == 1).

        Structured Streaming never re-runs a batch id recorded under
        ``commits/``; writer w's next possible foreachBatch id is
        (last committed) + 1, whose namespaced id is
        ``(L_w + 1) * n_writers + w``. The horizon is the MINIMUM of
        that over every writer: every future write by any writer lands
        at or above it, so ids strictly below can never be written
        again — declaration (1) of drop_tombstones_below, derived.
        Declaration (2) — source max-lateness for record ORDER —
        remains the caller's (subtract a retention window from the
        result if late records can arrive under fresh batch ids).

        Every declared writer must have a committed checkpoint: a
        writer with none could still (re)write id 0, so the only safe
        horizon is -inf and this raises instead of returning one.
        """
        if isinstance(checkpoint_dirs, str):
            checkpoint_dirs = {0: checkpoint_dirs}
        horizons = []
        for w in range(self.n_writers):
            d = checkpoint_dirs.get(w)
            if d is None:
                raise ValueError(
                    f"derive_gc_horizon: no checkpoint for writer {w} "
                    f"of {self.n_writers} — cannot bound its replay")
            commits = os.path.join(d, "commits")
            ids = []
            if os.path.isdir(commits):
                for n in os.listdir(commits):
                    try:
                        ids.append(int(n))
                    except ValueError:
                        continue  # .tmp / metadata files
            if not ids:
                raise ValueError(
                    f"derive_gc_horizon: writer {w} checkpoint at {d} "
                    "has no committed batches — it could still write "
                    "id 0, so no horizon above -inf is safe")
            horizons.append((max(ids) + 1) * self.n_writers + w)
        return min(horizons)

    def _manifest(self) -> dict | None:
        """The committed fold, or None before the first compaction:
        ``{"tag": <highest folded id>, "dir": <fold dir name>,
        "gc_horizon": <id below which tombstones were dropped>}``. The
        underscore-prefixed name keeps it (and fold dirs) invisible to
        Spark partition discovery; readers consult it explicitly."""
        try:
            with open(os.path.join(self.path, self._MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _publish_manifest(self, tag: int, fold_dir: str,
                          gc_horizon: int = _NEG_INF) -> None:
        """THE commit point: one atomic small-file replace makes the fold
        live and raises the floor in the same instant. On an object
        store this is an atomic PUT of the manifest object — the only
        atomicity primitive the protocol needs."""
        tmp = os.path.join(self.path, self._MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"tag": int(tag), "dir": fold_dir,
                       "gc_horizon": int(gc_horizon)}, f)
        os.replace(tmp, os.path.join(self.path, self._MANIFEST))

    def _compacted_to(self) -> int:
        """Lowest batch id still individually addressable as an as-of
        boundary: boundaries strictly below this were folded.
        -inf-equivalent before the first compaction."""
        man = self._manifest()
        return int(man["tag"]) if man else _NEG_INF

    def _gc_horizon(self) -> int:
        """Ids strictly below this were declared dead by a major
        compaction (their tombstones may be gone): writes there are
        refused and any leftover dir is garbage, never read."""
        man = self._manifest()
        return int(man.get("gc_horizon", _NEG_INF)) if man else _NEG_INF

    # ------------------------------------------------------------ write
    def effective_batch_id(self, batch_id: int) -> int:
        """The namespaced partition id a writer-local ``batch_id`` lands
        under (identity when ``n_writers == 1``)."""
        return int(batch_id) * self.n_writers + self.writer_id

    def _compact_batch(self, batch_df: DataFrame) -> DataFrame:
        """One record per key: null-skipping max over (ord..., payload)
        structs — partial-then-final, no window, no join."""
        payload = [c for c in batch_df.columns
                   if c not in self.key_cols]
        rec = F.struct(*self.ord_cols,
                       *[c for c in payload if c not in self.ord_cols])
        return (batch_df.groupBy(*self.key_cols)
                        .agg(F.max(rec).alias("rec"))
                        .select(*self.key_cols, "rec.*"))

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Compact one changelog micro-batch and land it as its own
        ``batch=<id>`` OVERWRITE partition (id namespaced per writer —
        see the class docstring). Safe under at-least-once replay; cost
        is O(batch). A replayed id the last compaction already folded is
        still accepted — its verbatim duplicates collapse under the
        argmax and genuinely new records (a producer whose checkpoint
        restarted its id space) merge in. Only ids below a declared
        major-compaction horizon are refused: their tombstones may be
        gone, so writes there were declared impossible by the caller.

        Batch ids must be integers — the ``batch`` partition level is
        ordered numerically by ``state_at`` and ``compact``; a
        non-numeric tag would silently alias, so it is rejected here
        instead. Raises if a ``compact()`` is in progress (or crashed
        mid-run — re-run it to converge, which clears the sentinel)."""
        try:
            # int(str(..)) rejects floats ("2.7") and bools ("True")
            # instead of silently truncating/aliasing onto an existing
            # partition, which mode=overwrite would then destroy
            batch_id = int(str(batch_id))
        except (TypeError, ValueError):
            raise ValueError(
                f"apply_batch: batch_id must be an integer, got "
                f"{batch_id!r} — state_at/compact order batches "
                "numerically") from None
        lease = self._read_lease()
        if lease is not None and not self._lease_expired(lease):
            raise RuntimeError(
                "apply_batch: a compact() is in progress on this table "
                f"(lease owner {lease.get('owner')!r}); retry after it "
                "finishes")
        # an EXPIRED lease is a crashed compactor: its fold was never
        # published (the manifest swap is the commit), so writing is
        # safe and nothing deadlocks; the next compact() reclaims
        eff = self.effective_batch_id(batch_id)
        if eff < self._gc_horizon():
            raise ValueError(
                f"apply_batch: effective batch id {eff} is below the "
                f"major-compaction horizon {self._gc_horizon()} — "
                "tombstones there were garbage-collected on the "
                "caller's declaration that such batches can never "
                "arrive again, so this write cannot be merged safely")
        dest = os.path.join(self.path, f"batch={eff}")
        self._compact_batch(batch_df).write.mode("overwrite").parquet(dest)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` over a changelog
        stream whose rows match the constructor's column contract."""
        def _apply(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, batch_id)
        return _apply

    # ------------------------------------------------------------- read
    _SRC = "_src_batch"

    def _live_batch_dirs(self, max_batch: int | None = None) -> list:
        """(id, absolute dir) for every readable ``batch=`` partition:
        everything at or above the GC horizon (a dir the last fold
        already summarized is still safe to read — duplicates collapse
        under the argmax, and a post-fold write at an old id carries new
        records the argmax merges), at most ``max_batch``. Ids come from
        the directory layout (free), not a Spark scan."""
        horizon = self._gc_horizon()
        out = []
        for d in os.listdir(self.path):
            if not d.startswith("batch="):
                continue
            i = int(d.split("=", 1)[1])
            if i >= horizon and (max_batch is None or i <= max_batch):
                out.append((i, os.path.join(self.path, d)))
        return sorted(out)

    def _read_live(self, max_batch: int | None = None) -> DataFrame:
        """The live relation: data columns plus a long ``batch`` column —
        for fold records the PER-RECORD source batch id the fold stored
        (every fold record's source is ≤ the fold tag, so an as-of read
        at or above the floor includes them all exactly); for batch
        partitions the directory id. One multi-dir scan covers all batch
        partitions (partition pruning = not listing the dir at all)."""
        man = self._manifest()
        parts = []
        if man is not None and (max_batch is None
                                or int(man["tag"]) <= max_batch):
            # the underscore prefix hides fold dirs from anyone reading
            # the TABLE ROOT directly; an explicit-path read still works
            # (Spark logs a cosmetic "All paths were ignored" WARN and
            # reads the files — pinned by every CDC test)
            fold = self.spark.read.parquet(
                os.path.join(self.path, man["dir"]))
            parts.append(fold.withColumnRenamed(self._SRC, "batch"))
        dirs = [p for _, p in self._live_batch_dirs(max_batch)]
        if dirs:
            batches = (self.spark.read.option("basePath", self.path)
                       .parquet(*dirs)
                       .withColumn("batch", F.col("batch").cast("long")))
            parts.append(batches)
        if not parts:
            raise ValueError(
                f"CdcMergeTable at {self.path}: no live data (no batch "
                "partitions and no committed fold)")
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _compact_src(self, df: DataFrame) -> DataFrame:
        """Per-key argmax like ``_compact_batch`` but carrying the
        ``batch`` column LAST in the struct — the winner's source batch
        id survives (for fold storage and horizon GC) without ever
        influencing the (ord, payload) order, except as a final
        deterministic tie-break between verbatim replay duplicates."""
        payload = [c for c in df.columns
                   if c not in self.key_cols and c != "batch"]
        rec = F.struct(*self.ord_cols,
                       *[c for c in payload if c not in self.ord_cols],
                       "batch")
        return (df.groupBy(*self.key_cols)
                  .agg(F.max(rec).alias("rec"))
                  .select(*self.key_cols, "rec.*"))

    def _alive(self, col):
        # NULL-safe: a NULL tombstone flag is "not a delete", never a
        # silent key drop (the q_upsert_merge coalesce contract)
        return ~F.coalesce(F.col(col), F.lit(False))

    def state(self, include_tombstones: bool = False) -> DataFrame:
        """The compacted current state: per key, the record winning the
        total (ord_cols) order across the live partition set; keys whose
        winner is a tombstone are deleted (or flagged, when
        ``include_tombstones``). One keyed aggregate — associative, so
        batch boundaries are invisible."""
        out = self._compact_src(self._read_live()).drop("batch")
        if include_tombstones:
            return out
        return out.where(self._alive(self.tombstone_col)) \
                  .drop(self.tombstone_col)

    def state_at(self, batch_id: int,
                 include_tombstones: bool = False) -> DataFrame:
        """Time travel: the compacted state as of ``batch_id`` — the same
        associative argmax restricted to live partitions with batch ≤ id
        (fold records carry their per-record source batch, all ≤ the
        fold tag), so the cost of an as-of read is proportional to the
        history read. ``compact()`` folds history through its tag;
        asking for a boundary the compaction erased raises instead of
        answering wrong."""
        floor = self._compacted_to()
        if int(batch_id) < floor:
            raise ValueError(
                f"state_at({batch_id}): batches below {floor} were "
                "folded by compact(); that boundary no longer exists")
        out = self._compact_src(self._read_live(int(batch_id))) \
                  .drop("batch")
        if include_tombstones:
            return out
        return out.where(self._alive(self.tombstone_col)) \
                  .drop(self.tombstone_col)

    # -------------------------------------------------------- maintain
    def compact(self, allow_unmarked: bool = False,
                drop_tombstones_below: int | None = None,
                lease_ttl_sec: float | None = None) -> None:
        """Fold the current fold plus every committed batch partition
        into ONE new fold, commit it by atomically replacing the
        ``_live`` manifest, then delete the superseded partitions. State
        is unchanged (pinned in tests); read amplification resets to one
        fold; ``state_at`` stays exact at and above the fold point and
        refuses erased boundaries below it.

        Rename-free, object-store-portable: data files are written once
        into a fresh invisible ``_fold-<tag>-<nonce>`` dir and never
        moved; the ONLY file replaced in place is the one-line manifest
        (atomic PUT on S3/GCS, ``os.replace`` locally); cleanup is plain
        deletes. Crash-safe at every step: before the manifest swap the
        old live set is untouched (the new fold dir is invisible); after
        it, leftover already-folded originals are read as harmless
        duplicates (argmax) until the deletions finish. Re-running
        ``compact()`` from any crash point converges — it re-folds
        whatever is readable, drops orphaned fold dirs, and finishes the
        deletions.

        ``allow_unmarked``: only batches whose dir carries a ``_SUCCESS``
        marker are folded or deleted — an in-flight ``apply_batch``
        (dir exists, job uncommitted) is neither read nor touched. When
        batch dirs exist but NONE is marked, committed cannot be told
        from in-flight, so compact RAISES (touching nothing) rather than
        silently skipping the backlog; pass ``allow_unmarked=True`` only
        after quiescing every producer (e.g. for a table written with
        marksuccessfuljobs=false) — the flag folds whatever is on disk.

        ``drop_tombstones_below``: MAJOR compaction behind an explicit
        replay horizon. Tombstone-winning keys whose winning record came
        from a batch id < the horizon are garbage-collected from the
        fold, and ids below the horizon become permanently dead:
        ``apply_batch`` refuses them and readers never consult leftover
        dirs there. Only the caller can know the horizon, and the
        declaration it makes is two-fold: (1) batches with ids below it
        will never be written again (checkpoints retired), and (2) no
        FUTURE batch at or above it will carry a record so old that a
        dropped tombstone was needed to beat it — i.e. the horizon sits
        beyond the source's maximum lateness, exactly a Delta/Hudi
        tombstone-retention window.

        Concurrency contract: producers that START during the run are
        excluded by the compaction LEASE (an ``_compact_in_progress``
        file carrying owner + expiry, ``lease_ttl_sec``, default
        :attr:`_LEASE_TTL_SEC`); a producer write job already IN FLIGHT
        when compact() begins is protected by the _SUCCESS gate instead
        (its dir is spared). A compactor that dies mid-run leaves a
        lease that EXPIRES: writers pass it once expired and the next
        compact() reclaims it — a crashed compactor can no longer
        deadlock a second writer (the crashed run published nothing;
        the manifest swap is the only commit point). A second compactor
        racing an unexpired lease is refused loudly.

        Pair ``drop_tombstones_below`` with :meth:`derive_gc_horizon`
        to take the horizon from the writers' own streaming checkpoints
        instead of guessing."""
        import shutil

        man = self._manifest()
        floor = self._compacted_to()
        horizon = self._gc_horizon()
        if drop_tombstones_below is not None:
            horizon = max(horizon, int(drop_tombstones_below))
        # lease first: the fold's input snapshot, the manifest swap and
        # the deletions must all see a frozen producer set. The lease
        # carries (owner, expiry) so a compactor that DIES here cannot
        # deadlock the table: writers pass an expired lease, and the
        # next compact() reclaims it (a crashed run published nothing —
        # the manifest swap is the only commit point)
        owner = f"w{self.writer_id}:{uuid.uuid4().hex[:8]}"
        self._acquire_lease(owner, lease_ttl_sec
                            if lease_ttl_sec is not None
                            else self._LEASE_TTL_SEC)
        try:
            live = self._live_batch_dirs()
            committed = [(i, p) for i, p in live
                         if os.path.exists(os.path.join(p, "_SUCCESS"))]
            unmarked = [(i, p) for i, p in live
                        if not os.path.exists(os.path.join(p, "_SUCCESS"))]
            if unmarked and allow_unmarked:
                committed, unmarked = sorted(committed + unmarked), []
            elif unmarked and not committed:
                # NOTHING is provably committed but data exists — a
                # silent no-op fold here would let a marksuccessfuljobs=
                # false table's backlog grow unbounded while the caller
                # believes compaction ran (this must hold on every call,
                # not just before the first manifest exists). The dirs
                # are left untouched either way; the raise only fails
                # the MAINTENANCE call, loudly.
                raise ValueError(
                    "compact: batch partitions exist but none carries a "
                    "_SUCCESS marker, so committed cannot be told from "
                    "in-flight; nothing was folded or deleted. If these "
                    "are a markerless committer's finished batches, "
                    "re-run with allow_unmarked=True AFTER quiescing "
                    "every producer — the flag folds whatever is on "
                    "disk, including a write that is still in flight")
            if not committed and man is None:
                raise ValueError("compact: no batch partitions to fold")

            tag = max([floor] + [i for i, _ in committed])
            parts = []
            if man is not None:
                parts.append(self.spark.read.parquet(
                    os.path.join(self.path, man["dir"]))
                    .withColumnRenamed(self._SRC, "batch"))
            if committed:
                parts.append(
                    self.spark.read.option("basePath", self.path)
                    .parquet(*[p for _, p in committed])
                    .withColumn("batch", F.col("batch").cast("long")))
            fold = self._compact_src(
                reduce(lambda a, b: a.unionByName(b), parts))
            if drop_tombstones_below is not None:
                dead = (F.coalesce(F.col(self.tombstone_col), F.lit(False))
                        & (F.col("batch") < int(drop_tombstones_below)))
                fold = fold.where(~dead)
            fold_dir = f"_fold-{tag}-{uuid.uuid4().hex[:12]}"
            (fold.withColumnRenamed("batch", self._SRC)
                 .write.mode("overwrite")
                 .parquet(os.path.join(self.path, fold_dir)))

            # THE commit: fold live + floor/horizon raised, one atomic PUT
            self._publish_manifest(tag, fold_dir, horizon)

            # cleanup — plain deletes, all safe to crash out of: every
            # dir removed here is either folded into the live fold
            # (duplicates while both exist, loss never) or below the
            # declared-dead horizon (readers already skip it)
            for i, p in committed:
                shutil.rmtree(p, ignore_errors=True)
            for d in os.listdir(self.path):
                full = os.path.join(self.path, d)
                if d.startswith("batch=") \
                        and int(d.split("=", 1)[1]) < horizon:
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith("_fold-") and d != fold_dir:
                    # superseded or orphaned (crashed-before-publish) fold
                    shutil.rmtree(full, ignore_errors=True)
        finally:
            # release only what we still hold — if our lease expired
            # mid-run and someone reclaimed it, theirs survives
            self._release_lease(owner)
