"""The streaming projection — the reference's data plane, Spark-first.

Reference behavior being reproduced (SURVEY.md §3.2): consume the event
stream, fold each event into a keyed last-write-wins view (upsert on
created/updated, evict on deleted), commit the offset only after the write
succeeds, tolerate at-least-once replay via idempotent application
(data-plane/internal/consumer/consumer.go:32-67,
internal/projection/signal.go:38-67).

Spark realization: Structured Streaming ``foreachBatch`` + an ACID-ish
parquet view store. Delta's MERGE INTO is the natural sink but the delta
package isn't available here, so ``ParquetViewStore`` provides the same
guarantees with versioned snapshots:

- each epoch writes a NEW snapshot directory ``v=N`` (never in-place);
- a pointer file is atomically renamed over to commit {version, epoch};
- readers resolve the pointer first — they never see a partial write;
- the recorded epoch id makes re-delivered micro-batches no-ops, which
  together with checkpointing upgrades at-least-once to exactly-once
  (the reference needs idempotent Redis upserts for the same reason; here
  idempotency is structural).

At scale the store maps directly onto Delta/Iceberg (swap write() for
MERGE INTO); the LWW merge itself (operators/lww.py) is one shuffle on the
entity key over |view|+|batch| rows, and the view can additionally be
partitioned by a stable hash of the key to keep per-file sizes bounded.

``BucketedViewStore`` is that hash-bucketed shape, and it is also the
one segment-store lifecycle under the derived stores (rollup, BM25,
embedding, signature): the reference applies a ``deleted`` event to its
view the way it applies an upsert (signal.go:38-67), and the derived
stores carry that over as right-to-be-forgotten takedowns (a queue in
the pointer, ``forget``) and segment folds (``compact``), with one rule
for when to fold (``MAX_SEGMENTS``, ``MAX_TOMBSTONES``).
"""

from __future__ import annotations

import datetime as dt
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.lww import (
    latest_state,
    live_view,
    lww_merge_batch,
)
from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.streaming.commit import PointerStore, vacuum

logger = logging.getLogger(__name__)

POINTER = "_CURRENT"

#: ``cur`` default of the bucketed write paths: read the pointer at
#: write time (a caller's pinned snapshot may legitimately be None).
_READ_POINTER = object()

#: Tiebreak making the per-key order total when updated_at collides.
_TIEBREAK = ("created_at", "title")

#: Touched-bucket fraction at or above which a bucketed epoch rewrites
#: EVERY bucket — the measured ``replay800k_*`` crossover (SCALE.md:
#: sparse epochs win ~2.7× with the partial rewrite, an all-buckets epoch
#: wins ~4× with the full one, because a partial rewrite of most buckets
#: is a full rewrite plus per-bucket file overhead).
FULL_REWRITE_FRAC = 0.6

#: Segment-list length past which an append folds the bucket: an
#: append-store bucket's read unions one directory per segment, so the
#: fold bounds per-bucket file counts at O(MAX_SEGMENTS) over unbounded
#: epochs, at a cost that tracks the hot buckets, not the store.
MAX_SEGMENTS = 8

#: Takedown-queue length past which an append escalates to a FULL fold
#: (the only fold that may clear the queue): partial folds never clear
#: it, so without the cap a stream would grow the queue, and every
#: read's anti-filter, without bound. At most one full sweep per
#: MAX_TOMBSTONES takedowns.
MAX_TOMBSTONES = 512


class ParquetViewStore(PointerStore):
    """Versioned parquet snapshots of the LWW state (``STATE_SCHEMA``)
    with an atomically-updated pointer — the full-snapshot store: every
    epoch rewrites the whole view, the simplest layout for small views
    (``BucketedViewStore`` is the at-scale shape).

    ``backend`` is the pointer-commit strategy (streaming/commit.py):
    default POSIX rename; inject ConditionalPutBackend for object-store
    deployments where rename is not atomic.
    """

    def __init__(self, path: str, backend=None):
        #: replay discipline (streaming/replay.py): the LWW snapshot is
        #: idempotent under re-application, so the guard suppresses only
        #: positively-identified same-run replays and lets cross-run
        #: re-applies through harmlessly.
        super().__init__(os.path.join(path, POINTER), backend, "idempotent")
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- read/write ---------------------------------------------------------

    def read(self, spark: SparkSession, cur=None) -> DataFrame | None:
        """Full state table (latest event per key, tombstones included).
        ``cur`` pins a pointer snapshot the caller already read."""
        if cur is None:
            cur = self.current()
        if cur is None:
            return None
        return spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.path, f"v={cur['version']}")
        )

    def read_live(self, spark: SparkSession, cur=None) -> DataFrame | None:
        """Serving view: tombstones filtered, action column dropped."""
        state = self.read(spark, cur=cur)
        return None if state is None else live_view(state)

    def write(
        self, df: DataFrame, epoch: int | None = None, run_token: str | None = None
    ) -> int:
        cur = self.current()
        version = (cur["version"] + 1) if cur else 0
        out = os.path.join(self.path, f"v={version}")
        df.write.mode("overwrite").parquet(out)
        # `expected=cur`: under a CAS backend a concurrent commit since
        # our read surfaces as CommitConflictError, not a lost update
        self._commit(
            {"version": version, "epoch": epoch, "run_token": run_token},
            expected=cur,
        )
        # keep current + previous snapshot (in-flight readers)
        vacuum(self.path, {f"v={version}", f"v={version - 1}"}, "v=")
        return version


def apply_batch(
    spark: SparkSession,
    store: ParquetViewStore,
    batch: DataFrame,
    epoch: int,
    run_token: str | None = None,
) -> None:
    """One foreachBatch application: idempotent LWW merge + commit.

    Re-delivered epochs (failure between write and Spark's own commit) are
    detected via the recorded (run_token, epoch) pair and skipped — the
    Redis-upsert idempotency of the reference, made structural. Epoch ids
    are only monotonic *per streaming run*: a fresh checkpoint restarts
    them at 0, so the guard compares epochs only within the same run token
    (a restarted run re-applies instead of silently skipping new data —
    harmless, because the LWW merge is idempotent).
    """
    cur = store.current()
    if store.guard.is_replay(cur, epoch, run_token):
        return  # already applied within this run
    state = store.read(spark)
    if state is None:
        merged = latest_state(
            batch, key=["id"], ts_col="updated_at", tiebreak=list(_TIEBREAK)
        )
    else:
        merged = lww_merge_batch(
            state,
            batch,
            key=["id"],
            ts_col="updated_at",
            tiebreak=list(_TIEBREAK),
        )
    # Materialize via the store (new snapshot dir) — never in-place.
    store.write(
        merged.select(*[f.name for f in STATE_SCHEMA.fields]), epoch, run_token
    )


def _stale_tombstone(horizon: dt.datetime):
    """A delete tombstone older than the out-of-order horizon. NULL-ts
    tombstones (2-key envelopes) are never stale: they carry no event
    time, so no horizon can prove them collectable."""
    return (
        (F.col("action") == F.lit("deleted"))
        & F.col("updated_at").isNotNull()
        & (F.col("updated_at") < F.lit(horizon))
    )


def _drop_stale(state: DataFrame, horizon: dt.datetime) -> DataFrame:
    # NULL action rows are live (tolerant reader: event with id but no
    # action) — three-valued logic would silently drop them from a plain
    # `~stale` keep-filter.
    return state.filter(F.col("action").isNull() | ~_stale_tombstone(horizon))


def compact_tombstones(
    spark: SparkSession, store: ParquetViewStore, horizon: dt.datetime
) -> int | None:
    """Drop delete tombstones older than the out-of-order horizon.

    A tombstone only needs to outlive the window in which an out-of-order
    event for its key could still arrive (the streaming watermark). Running
    this periodically bounds state size at |live keys| + |recent deletes|.
    Tombstones with NULL timestamps (2-key envelopes) are retained — they
    carry no event time, so no horizon can prove them stale; production
    flows that need them collected should stamp deletes with a broker
    timestamp at ingest.

    Concurrency contract: compaction is a read-modify-write of the whole
    snapshot, so it must run from the projection's single writer (between
    micro-batches, or while the stream is stopped). As a backstop against
    accidental overlap, the write is skipped if the snapshot version moved
    while compacting — losing a concurrent epoch's merge would otherwise be
    silent.

    Returns the new snapshot version; None if there is no state yet, if
    nothing is collectable (no rewrite — a no-op must not burn a retention
    slot), or if a concurrent write was detected.
    """
    cur = store.current()
    state = store.read(spark)
    if state is None:
        return None
    if state.filter(_stale_tombstone(horizon)).limit(1).count() == 0:
        return None
    keep = _drop_stale(state, horizon)
    if store.current() != cur:
        return None  # a writer committed meanwhile; retry next period
    return store.write(keep, cur.get("epoch"), cur.get("run_token"))


def _manifest_versions(manifest: dict) -> set[int]:
    """Every version referenced by a manifest — values are a single
    owning version (merge stores) or a segment-version list (append
    stores)."""
    out: set[int] = set()
    for v in manifest.values():
        if isinstance(v, list):
            out.update(v)
        else:
            out.add(v)
    return out


def _bucket_expr(n_buckets: int, key_col: str = "id"):
    """Stable key → bucket: pmod(xxhash64(key), B); NULL keys land in 0."""
    return F.coalesce(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)), F.lit(0)
    ).cast("int")


class BucketedViewStore(PointerStore):
    """Manifest-tracked view store: the snapshot is split into ``n_buckets``
    key-hash buckets, and an epoch rewrites ONLY the buckets its batch
    touches — per-epoch write cost is O(|batch| + |touched buckets|), not
    O(|view|). This is the scale shape of the projection (the same idea as
    Delta MERGE file skipping / Iceberg partition-level rewrite): at 100 TB
    a micro-batch touching 1% of keys rewrites ~1% of the view.

    Layout: ``v={version}/__bucket={k}/*.parquet``; the pointer file maps
    every bucket to the version that owns its current data, so a bucket
    untouched for many epochs keeps living in an old version directory.
    Commit is still a single atomic pointer rename; vacuum keeps every
    version referenced by the current or the immediately previous pointer
    (in-flight readers), so partial writes and crashes never corrupt a
    committed snapshot.

    The store also owns the segment-store lifecycle its delegates (the
    rollup, BM25, embedding and signature stores) share:

    - **Pointer carry-through.** Every commit starts from the pointer it
      replaces, so store-level keys (corpus counters, centroids, corpus
      versions, the takedown queue) survive appends, folds and forgets
      unless a write overlays them.
    - **Takedowns.** A store constructed with ``id_col`` (the row
      identity its delegate forgets by) keeps a queue of forgotten ids in
      the pointer (``tombstones``); ``read`` drops queued ids on every
      path, and ``forget`` either queues victims (one pointer swing, no
      data write) or sweeps them.
    - **The fold.** ``compact`` rewrites buckets as one version each
      through the queue filter, applying the store's row fold
      (``fold_rows``: identity here, the partial merge for rollups).
    - **When to fold.** After an append commits, buckets whose segment
      list is longer than ``MAX_SEGMENTS`` fold (through
      ``rewrite_set``), and a queue longer than ``MAX_TOMBSTONES``
      escalates to a full fold.

    ``rewrite_set`` and every fold emit one ``logging`` record (INFO,
    the decision as a dict in ``record.rewrite``) and run no Spark job
    for it.
    """

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        backend=None,
        schema=None,
        key_col: str = "id",
        guard_mode: str = "idempotent",
        id_col: str | None = None,
    ):
        #: replay discipline, declared at construction (streaming/replay.py).
        #: Idempotent for LWW/label snapshots; ADDITIVE substrates (rollup
        #: partials, BM25 postings — where a re-applied epoch double-counts)
        #: must construct with guard_mode="additive" so a fresh-checkpoint
        #: query can never be silently swallowed.
        super().__init__(os.path.join(path, POINTER), backend, guard_mode)
        self.path = path
        self.n_buckets = n_buckets
        #: schema/key_col generalize the store beyond the LWW state —
        #: e.g. the near-dup label relation buckets by ``comp`` so a
        #: relabel rewrite touches only affected components' buckets.
        self.schema = schema or STATE_SCHEMA
        self.key_col = key_col
        #: row identity of takedowns (None: the store has no queue)
        self.id_col = id_col
        os.makedirs(path, exist_ok=True)

    # -- read ---------------------------------------------------------------

    def _bucket_paths(self, manifest: dict, buckets=None) -> list[str]:
        items = manifest.items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, v) for b, v in manifest.items() if b in want]
        # a manifest value is either one owning version (merge stores) or
        # a LIST of segment versions (append stores) — reads union them
        return [
            os.path.join(self.path, f"v={ver}", f"__bucket={b}")
            for b, vers in items
            for ver in (vers if isinstance(vers, list) else [vers])
        ]

    def read(self, spark: SparkSession, buckets=None, cur=None) -> DataFrame | None:
        """State table; ``buckets`` restricts the read to those buckets'
        paths — the merge path never scans untouched buckets. ``cur``
        pins a pointer snapshot the CALLER already read: a serving
        request must resolve every path under ONE pointer (re-reading
        here could interleave with a concurrent commit and mix two
        snapshots' buckets); the one-generation ``prev_refs`` vacuum
        grace keeps the pinned snapshot's files alive through a racing
        commit. Rows of queued takedowns are dropped here, so every
        consumer sees them gone the moment the forget pointer lands (the
        queue is bounded by ``MAX_TOMBSTONES``, so an ``isin`` literal
        list, parquet-pushable, beats a join)."""
        if cur is None:
            cur = self.current()
        if cur is None or not cur["manifest"]:
            return None
        paths = self._bucket_paths(cur["manifest"], buckets)
        if not paths:
            return None
        df = spark.read.schema(self.schema).parquet(*paths)
        queue = cur.get("tombstones")
        return df.filter(~F.col(self.id_col).isin(queue)) if queue else df

    def read_live(self, spark: SparkSession, cur=None) -> DataFrame | None:
        state = self.read(spark, cur=cur)
        return None if state is None else live_view(state)

    def touched_buckets(self, df: DataFrame, col: str) -> list[int]:
        """The sorted buckets ``df``'s ``col`` values hash into — the one
        bucket-of-a-relation collect every bucketed writer and probe
        runs (one job, bounded by ``n_buckets`` rows)."""
        return sorted(
            r[0]
            for r in df.select(_bucket_expr(self.n_buckets, col).alias("b"))
            .distinct()
            .collect()
        )

    @staticmethod
    def deep_buckets(cur: dict | None, n: int) -> list[str]:
        """Buckets of ``cur`` whose segment list is longer than ``n``."""
        return [
            b
            for b, v in ((cur or {}).get("manifest") or {}).items()
            if isinstance(v, list) and len(v) > n
        ]

    # -- write --------------------------------------------------------------

    def _rewrite_shape(self, touched: list[int]) -> list[int]:
        if len(touched) >= FULL_REWRITE_FRAC * self.n_buckets:
            return list(range(self.n_buckets))
        return touched

    def rewrite_set(self, touched: list[int]) -> list[int]:
        """The buckets an epoch rewrites when its input lands in
        ``touched``: those alone while they are fewer than
        ``FULL_REWRITE_FRAC`` of the store, else every bucket (which also
        collapses the manifest to one version). The fraction comes from
        the touched-bucket collect the partial path pays anyway."""
        rewritten = self._rewrite_shape(touched)
        self._record(
            touched, rewritten, len(rewritten) == self.n_buckets, False, "epoch"
        )
        return rewritten

    def _record(self, touched, rewritten, full, cleared, trigger) -> None:
        """The one decision record of a rewrite (pure driver state)."""
        record = {
            "store": self.path,
            "touched": [int(b) for b in touched],
            "rewritten": [int(b) for b in rewritten],
            "shape": "full" if full else "partial",
            "queue_cleared": cleared,
            "trigger": trigger,
        }
        logger.info("bucket rewrite %s", record, extra={"rewrite": record})

    def _write_partitioned(
        self, df: DataFrame, out: str, n_parts: int
    ) -> None:
        """Bucket-tag ``df`` and write it dynamic-partitioned by bucket,
        ALIGNED so ~one task owns each bucket. Without the repartition a
        dense epoch (every input partition holding rows of most buckets)
        writes up to tasks × buckets small files — the measured 17×
        replay800k dense-bucketed-vs-full gap was almost entirely this
        file fan-out, not merge work. One small hash shuffle buys
        one-file-per-bucket output, which is also what a 100 TB reader
        wants (a bucket scan = one file listing, no small-file storm)."""
        tagged = df.withColumn(
            "__bucket", _bucket_expr(self.n_buckets, self.key_col)
        )
        (
            tagged.repartition(n_parts, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out)
        )

    def write_buckets(
        self,
        df: DataFrame,
        touched: list[int],
        epoch: int | None = None,
        run_token: str | None = None,
        extra: dict | None = None,
        cur=_READ_POINTER,
    ) -> int:
        """Write ``df`` (rows of the touched buckets only) as the new
        version of those buckets and commit the stitched manifest: each
        touched bucket is REPLACED by the new version, or dropped when
        none of its rows survived (every key deleted upstream — e.g. a
        compaction). ``extra`` overlays store-level keys on the carried
        pointer in the SAME atomic commit — store-level scalars (e.g. the
        search index's exact corpus counters) must never land in a
        second commit, or a crash between the two leaves data committed
        with its bookkeeping lost. An empty ``touched`` writes no data:
        it commits a new version with the manifest unchanged (the epoch
        marker and ``extra``), so the replay guard engages on an epoch
        that wrote nothing.

        ``cur`` is the pointer snapshot (None: no pointer yet) the caller
        built ``extra`` from; the commit is conditional on THAT snapshot,
        so a writer that moved the pointer in between raises
        ``CommitConflictError`` under a compare-and-swap backend instead
        of losing its update. Default: read the pointer here."""
        return self._write_segment(
            df, touched, epoch, run_token, extra, cur, append=False
        )

    def append_buckets(
        self,
        df: DataFrame,
        touched: list[int] | None,
        epoch: int | None = None,
        run_token: str | None = None,
        extra: dict | None = None,
        cur=_READ_POINTER,
    ) -> int:
        """APPEND ``df``'s rows as a new SEGMENT of every bucket they land
        in — nothing already stored is read or rewritten; the manifest
        keeps a segment-version LIST per bucket and reads union the
        segments. ``touched`` only sizes the aligned write (one task per
        bucket); None — the caller did not count its rows' buckets —
        runs one task per core. The manifest records every bucket the
        write produced, so a ``touched`` list that undercounts the rows'
        buckets cannot drop any of them. ``extra``, ``cur`` and an empty
        ``touched`` as in ``write_buckets``.

        The additive-store write path (BM25 postings, signature postings
        and any append-only substrate): per-epoch write cost is O(|batch|)
        regardless of how many buckets the batch touches — a merge-store
        ``write_buckets`` would re-read and re-write every touched
        bucket's history, which for natural-language postings (every
        batch touches nearly every term bucket) degenerates to rewriting
        the whole index per epoch. Same pointer-last atomic commit, same
        vacuum safety (every listed segment version stays referenced).

        Once the append has committed, the store folds: the buckets whose
        segment list outgrew ``MAX_SEGMENTS`` (through ``rewrite_set``'s
        partial-vs-full rule), or every bucket once the takedown queue
        outgrew ``MAX_TOMBSTONES``. A failed fold is logged and the
        committed epoch stands — the fold is file-count maintenance and
        must never take down ingest."""
        version = self._write_segment(
            df, touched, epoch, run_token, extra, cur, append=True
        )
        committed = self.current()
        deep = self.deep_buckets(committed, MAX_SEGMENTS)
        if len(committed.get("tombstones", ())) > MAX_TOMBSTONES:
            targets, trigger = None, "tombstones"
        elif deep:
            targets = self._rewrite_shape(sorted(map(int, deep)))
            trigger = "segments"
        else:
            return version
        try:
            self.compact(df.sparkSession, targets, cur=committed, trigger=trigger)
        except Exception:  # noqa: BLE001 — ingest must survive
            logger.warning(
                "bucketed fold failed (%s, version %d)",
                trigger,
                version,
                exc_info=True,
            )
        return version

    def _write_segment(
        self, df, touched, epoch, run_token, extra, cur, append: bool
    ) -> int:
        if cur is _READ_POINTER:
            cur = self.current()
        pointer = dict(cur or {"version": -1, "manifest": {}, "prev_refs": []})
        if append and self.id_col is not None:
            # an append store's pointer carries its takedown queue from
            # the first commit on; a merge store's appears with a forget
            pointer.setdefault("tombstones", [])
        version = pointer["version"] + 1
        pointer.update(extra or {}, version=version, epoch=epoch, run_token=run_token)
        if touched is not None and not touched:
            # the epoch marker alone: no data, the manifest (and so the
            # files every reader needs) unchanged
            self._commit(pointer, expected=cur)
            return version
        out = os.path.join(self.path, f"v={version}")
        n_parts = (
            df.sparkSession.sparkContext.defaultParallelism
            if touched is None
            else max(1, len(touched))
        )
        self._write_partitioned(df, out, min(self.n_buckets, n_parts))
        manifest = dict(pointer["manifest"])
        written = {
            name.split("=", 1)[1]
            for name in os.listdir(out)
            if name.startswith("__bucket=")
        }
        if append:
            for b in sorted(written, key=int):
                prev = manifest.get(b, [])
                manifest[b] = (prev if isinstance(prev, list) else [prev]) + [
                    version
                ]
        else:
            for b in map(str, touched):
                if b in written:
                    manifest[b] = version
                else:
                    manifest.pop(b, None)
        prev_refs = sorted(_manifest_versions(cur["manifest"]) | {cur["version"]}) if cur else []
        pointer.update(manifest=manifest, prev_refs=prev_refs)
        self._commit(pointer, expected=cur)
        keep = _manifest_versions(manifest) | set(prev_refs) | {version}
        vacuum(self.path, {f"v={v}" for v in keep}, "v=")
        return version

    # -- lifecycle ------------------------------------------------------------

    def fold_rows(self, df: DataFrame) -> DataFrame:
        """The row fold ``compact`` applies to a bucket's rows: identity
        (a bucket's segments already hold distinct rows); the rollup's
        store merges partials instead."""
        return df

    def compact(
        self,
        spark: SparkSession,
        buckets=None,
        drop: DataFrame | None = None,
        *,
        cur=_READ_POINTER,
        extra: dict | None = None,
        trigger: str = "compact",
    ) -> int | None:
        """Fold ``buckets`` (default: every bucket) into one version each:
        read them through the queue filter, remove ``drop``'s ids (an
        ``id_col`` relation), apply ``fold_rows`` and write them in one
        ``write_buckets`` commit. Reads answer the same before and after;
        this is the Lucene-merge / parquet-compaction analogue.

        A fold that covered every bucket has physically removed every
        queued victim, so it clears the queue; a partial fold keeps it
        (victims may still have rows in unfolded buckets). Epoch, token
        and the store-level keys ride through (``extra`` overlays them),
        and the commit is conditional on ``cur`` (default: read here): an
        append or takedown that landed after that read fails the fold
        under a compare-and-swap backend instead of being folded away.
        Single-writer, like every store write. Returns the new version,
        or None when there is nothing to fold or drop (no target bucket
        holds a segment list and no queue is due to clear)."""
        if cur is _READ_POINTER:
            cur = self.current()
        if cur is None or not cur["manifest"]:
            return None
        manifest = cur["manifest"]
        targets = sorted(
            {str(b) for b in (manifest if buckets is None else buckets)}
            & set(manifest),
            key=int,
        )
        full = len(targets) == len(manifest)
        cleared = full and bool(cur.get("tombstones"))
        if drop is None and not cleared and not any(
            isinstance(manifest[b], list) for b in targets
        ):
            return None
        df = self.read(spark, buckets=targets, cur=cur)
        if df is None:
            return None
        if drop is not None:
            df = df.join(F.broadcast(drop), self.id_col, "left_anti")
        self._record(targets, targets, full, cleared, trigger)
        return self.write_buckets(
            self.fold_rows(df),
            [int(b) for b in targets],
            cur.get("epoch"),
            cur.get("run_token"),
            extra={**(extra or {}), **({"tombstones": []} if cleared else {})},
            cur=cur,
        )

    def forget(
        self,
        spark: SparkSession,
        ids,
        mode: str = "tombstone",
        cols: tuple[str, ...] = (),
        extra=None,
    ) -> int:
        """Right-to-be-forgotten: remove every row whose ``id_col`` is in
        ``ids``. Returns how many distinct ids were present.

        One job collects the present victims (``id_col`` plus ``cols``),
        read through the queue filter, so a repeated request counts and
        queues nothing twice. ``mode='tombstone'`` (default) queues them:
        one atomic pointer swing, ZERO data writes; every read drops them
        at once, and the next full fold sweeps them physically, so N
        takedowns between folds cost ONE sweep. ``mode='sweep'`` folds
        every bucket now, less the victims (``compact``), clearing the
        queue alongside. ``extra(cur, victims)`` returns store-level keys
        (e.g. decremented corpus counters) that land in the same commit.
        Epoch and run token ride through, so the owning stream keeps
        appending."""
        if mode not in ("tombstone", "sweep"):
            raise ValueError(f"mode must be tombstone|sweep, got {mode!r}")
        cur = self.current()
        ids = [int(i) for i in ids]
        if cur is None or not cur["manifest"] or not ids:
            return 0
        idf = spark.createDataFrame([(i,) for i in ids], f"{self.id_col} long")
        victims = (
            self.read(spark, cur=cur)
            .join(F.broadcast(idf), self.id_col, "left_semi")
            .select(self.id_col, *cols)
            .distinct()
            .collect()
        )
        if not victims:
            return 0
        overlay = extra(cur, victims) if extra else {}
        if mode == "tombstone":
            queue = set(cur.get("tombstones", [])) | {int(r[0]) for r in victims}
            self._commit(
                {**cur, **overlay, "tombstones": sorted(queue)}, expected=cur
            )
        else:
            self.compact(spark, drop=idf, cur=cur, extra=overlay, trigger="forget")
        return len({r[0] for r in victims})


def apply_batch_bucketed(
    spark: SparkSession,
    store: BucketedViewStore,
    batch: DataFrame,
    epoch: int,
    run_token: str | None = None,
) -> None:
    """foreachBatch body against the bucketed store: idempotent-epoch guard,
    then LWW-merge the batch against the state it touches.

    Same delivery contract as ``apply_batch`` (epoch replay is a no-op
    within a run; cross-run replay is harmless because the merge is
    idempotent) with per-epoch cost bounded by the touched buckets. The
    store picks the rewrite per epoch (``BucketedViewStore.rewrite_set``):
    a sparse epoch merges and rewrites only the buckets its keys land in,
    a dense one merges against the whole view and rewrites every bucket.
    """
    cur = store.current()
    if store.guard.is_replay(cur, epoch, run_token):
        return
    # Reduce the batch once; its latest-per-key result is reused for the
    # touched-bucket probe and the merge (tiny relation — persist not worth
    # it, but the bucket list collect is bounded by n_buckets).
    batch_latest = latest_state(
        batch, key=["id"], ts_col="updated_at", tiebreak=list(_TIEBREAK)
    )
    touched = store.touched_buckets(batch_latest, store.key_col)
    if not touched:
        return
    touched = store.rewrite_set(touched)
    state_slice = store.read(spark, buckets=touched) if cur else None
    if state_slice is None:
        merged = batch_latest
    else:
        merged = lww_merge_batch(
            state_slice,
            batch_latest,
            key=["id"],
            ts_col="updated_at",
            tiebreak=list(_TIEBREAK),
        )
    store.write_buckets(
        merged.select(*[f.name for f in STATE_SCHEMA.fields]),
        touched,
        epoch,
        run_token,
    )


def compact_tombstones_bucketed(
    spark: SparkSession, store: BucketedViewStore, horizon: dt.datetime
) -> int | None:
    """Bucket-scoped tombstone GC: rewrite ONLY buckets holding a stale
    tombstone — compaction cost tracks garbage, not view size.

    Same contract as ``compact_tombstones`` (single-writer, version-moved
    guard, NULL-ts tombstones retained, no-op burns no retention slot);
    a bucket whose every key was a stale tombstone disappears from the
    manifest entirely (write_buckets drops buckets with no surviving rows).
    """
    cur = store.current()
    state = store.read(spark)
    if state is None:
        return None
    dirty = store.touched_buckets(
        state.filter(_stale_tombstone(horizon)), store.key_col
    )
    if not dirty:
        return None
    keep = _drop_stale(store.read(spark, buckets=dirty), horizon)
    if store.current() != cur:
        return None  # a writer committed meanwhile; retry next period
    return store.write_buckets(keep, dirty, cur.get("epoch"), cur.get("run_token"))


def start_projection(
    spark: SparkSession,
    events: DataFrame,
    view_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
    bucketed: bool = False,
    n_buckets: int = 64,
    serving_path: str | None = None,
    publish_every: int = 8,
):
    """Wire a parsed event stream into the LWW view and start it.

    ``bucketed=True`` uses the manifest-tracked BucketedViewStore (per-epoch
    cost bounded by touched buckets, partial-vs-full rewrite picked per
    epoch by the store — the at-scale configuration); the
    default full-snapshot store keeps the simplest possible layout for
    small views. Returns the StreamingQuery; callers use
    ``processAllAvailable()`` in tests or let it run continuously.

    ``serving_path`` (bucketed mode) schedules the read-optimized layout:
    every ``publish_every`` epochs the live view is re-clustered into the
    Z-ordered serving snapshot (streaming/serving_layout.py) — the same
    inline-scheduled-maintenance shape as streaming/dedup.py's compaction.
    Publish failures are logged-and-continued: the serving layout is a
    read optimization with its own staleness contract; it must never take
    down ingest.
    """
    import uuid

    run_token = uuid.uuid4().hex  # epoch ids are only monotonic per run

    if serving_path is not None and not bucketed:
        raise ValueError("serving_path requires bucketed=True")

    if bucketed:
        bstore = BucketedViewStore(view_path, n_buckets=n_buckets)

        def _apply(batch: DataFrame, epoch: int) -> None:
            apply_batch_bucketed(spark, bstore, batch, epoch, run_token)
            if serving_path is not None and epoch % publish_every == (
                publish_every - 1
            ):
                from nexus_event_stream_spark.streaming.serving_layout import (
                    publish_serving_snapshot,
                )

                try:
                    publish_serving_snapshot(spark, bstore, serving_path)
                except Exception:  # noqa: BLE001 — ingest must survive
                    logger.warning(
                        "serving-layout publish failed (epoch %d)",
                        epoch,
                        exc_info=True,
                    )

    else:
        store = ParquetViewStore(view_path)

        def _apply(batch: DataFrame, epoch: int) -> None:
            apply_batch(spark, store, batch, epoch, run_token)

    writer = (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
