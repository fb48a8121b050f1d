"""Streaming ANN index maintenance: an IVF-PQ index that grows with the
corpus, one micro-batch at a time.

The batch tier (operators/similarity.py) answers "index a finished
corpus"; a production ingest wants the index to ABSORB each epoch's new
embeddings without retraining or rebuilding: quantizers (coarse
centroids + PQ codebooks) are trained once and FROZEN — PQ codes are
only comparable under the codebooks that produced them, so retraining
invalidates every stored code. Growing the index is therefore pure
append: encode the batch against the frozen quantizers
(``pq_build_index`` — one Arrow stage, m small ints per vector) and
publish the new rows. Re-training + full re-encode is the scheduled
OPTIMIZE analog (the same decay story as Z-order boundaries: a frozen
quantizer slowly mismatches a drifting embedding distribution — the
drift tier's ``embedding_drift_report`` against the training-time
profile is the trigger instrument).

Store contract — the package's standard shape (sources/shards.py,
streaming/projection.py):

- ``append(batch, epoch)`` is ``foreachBatch``-compatible and
  idempotent WITHIN a run identity: a replayed (run, epoch) whose
  directory is already in the committed pointer is a no-op (pinned under
  both commit backends, incl. ``run_token=None``). Exactly-once ACROSS
  process restarts therefore requires a restart-STABLE token — wire
  ``foreach_batch(checkpoint_path=...)`` (which persists the token
  inside the checkpoint via ``run_token_for``) rather than minting a
  uuid per start: a fresh token makes the restarted query a different
  ingest stream, and its replayed epochs would append again.
  ``n_indexed`` is derived from per-directory row counts, never
  accumulated.
- Each epoch's rows land in their own ``epochs/run-<token>/epoch-<n>``
  directory (token-namespaced so a fresh run reusing epoch numbers can
  never clobber a prior run's committed data), partitioned by
  ``centroid_id`` — the probe phase of a search prunes whole partitions
  of every epoch dir (nprobe lists, not the corpus).
- The pointer (epoch → directory list) commits LAST through the
  pluggable backend; a crash between data write and pointer commit
  leaves an invisible directory the replay overwrites.
- Quantizers persist next to the index (`_quantizers.json`) so a
  restarted job — or a different reader — searches with exactly the
  codebooks the codes were built under; constructing a store over an
  existing index with DIFFERENT quantizers is an explicit error.

Scale shape: per-epoch cost is one Arrow encode pass over the BATCH
(never the accumulated index) + one O(1) pointer swing; the index holds
m bytes/vector however much has streamed through; search cost is
unchanged from the batch tier (probe → ADC over nprobe lists → exact
re-rank of the shortlist only).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.similarity import (
    ivf_pq_topk,
    pq_build_index,
)
from nexus_event_stream_spark.streaming.commit import PointerStore

POINTER = "_CURRENT"
_QUANTIZERS = "_quantizers.json"


class SnapshotExpiredError(RuntimeError):
    """A pinned pointer references epoch dirs that a later compact has
    vacuumed. The one-generation grace window (see :meth:`compact`)
    covers any request that raced a SINGLE compact; a pointer held
    across TWO compactions is beyond retention — the data it named was
    merged and the originals removed — so the read fails loudly here
    instead of surfacing a raw path error from the scan. Retry with a
    fresh ``current()``."""


class PQIndexStore(PointerStore):
    """Append-only IVF-PQ index over a streaming embedding corpus."""

    def __init__(
        self,
        path: str,
        centroids=None,
        codebooks=None,
        backend=None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        training_profile=None,
    ):
        #: the idempotent guard only catches a same-token replay of an
        #: epoch that committed no directory; replay of a written epoch is
        #: caught by directory membership (see ``append``)
        super().__init__(os.path.join(path, POINTER), backend, "idempotent")
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        os.makedirs(path, exist_ok=True)
        qpath = os.path.join(path, _QUANTIZERS)
        if os.path.exists(qpath):
            with open(qpath) as fh:
                stored = json.load(fh)
            s_c = np.asarray(stored["centroids"], dtype=np.float64)
            s_b = np.asarray(stored["codebooks"], dtype=np.float64)
            if centroids is not None or codebooks is not None:
                if not (
                    np.array_equal(s_c, np.asarray(centroids, dtype=np.float64))
                    and np.array_equal(
                        s_b, np.asarray(codebooks, dtype=np.float64)
                    )
                ):
                    raise ValueError(
                        "quantizers differ from the ones this index was "
                        "built under — PQ codes are only comparable under "
                        "their own codebooks; re-train + rebuild into a NEW "
                        "index path instead"
                    )
            self.centroids, self.codebooks = s_c, s_b
            self.training_profile = None
            if stored.get("training_profile"):
                from nexus_event_stream_spark.operators.drift import (
                    EmbeddingProfile,
                )

                self.training_profile = EmbeddingProfile.from_json(
                    stored["training_profile"]
                )
        else:
            if centroids is None or codebooks is None:
                raise ValueError(
                    f"no quantizers at {qpath}: a new index needs trained "
                    "centroids + codebooks (ivf_train_centroids / "
                    "pq_train_codebooks)"
                )
            self.centroids = np.asarray(centroids, dtype=np.float64)
            self.codebooks = np.asarray(codebooks, dtype=np.float64)
            self.training_profile = training_profile
            tmp = qpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "centroids": self.centroids.tolist(),
                        "codebooks": self.codebooks.tolist(),
                        "training_profile": (
                            training_profile.to_json()
                            if training_profile is not None
                            else None
                        ),
                    },
                    fh,
                )
            os.replace(tmp, qpath)

    @property
    def n_indexed(self) -> int:
        """DERIVED from the pointer's per-directory row counts (ADVICE
        r7): an accumulated counter would inflate on any replay the
        dir-membership guard didn't see (e.g. pre-upgrade pointers);
        a sum over committed dirs cannot — every committed row is counted
        exactly once however many times an epoch was attempted."""
        cur = self.current()
        if not cur:
            return 0
        dr = cur.get("dir_rows")
        if dr is None or set(cur["dirs"]) - set(dr):
            # pre-upgrade pointer (no per-dir counts yet): the legacy
            # accumulated figure is the best available until the next
            # append backfills dir_rows
            return int(cur.get("n_vectors", sum((dr or {}).values())))
        return sum(dr.values())

    # -- append ---------------------------------------------------------------

    def append(
        self,
        batch: DataFrame,
        epoch: int,
        run_token: str | None = None,
    ) -> bool:
        """Encode ``batch`` against the frozen quantizers and publish.
        Returns False for a replayed epoch (no-op). foreachBatch body:
        ``lambda df, e: store.append(df, e, token)``.

        Replay/collision discipline (ADVICE r7): epoch dirs are
        namespaced by run token (``epochs/run-<token>/epoch-<n>``), so a
        run with a DIFFERENT token reusing epoch numbers — a separate
        query legitimately feeding this store — can never clobber a
        prior run's committed data. A replayed epoch is detected by DIR
        MEMBERSHIP in the committed pointer: if this (run, epoch) dir is
        already committed, the append is a no-op — which also makes
        ``run_token=None`` replays idempotent (they share the
        ``run-anon`` namespace). The membership check is necessarily
        token-scoped, so exactly-once across PROCESS RESTARTS requires
        the restarted query to present the SAME token — use
        ``foreach_batch(checkpoint_path=...)`` / ``run_token_for`` to
        persist it in the checkpoint; a per-start uuid would re-append
        the crashed run's replayed epochs under a fresh namespace."""
        cur = self.current()
        out = os.path.join(
            self.path, "epochs", f"run-{run_token or 'anon'}",
            f"epoch-{epoch}",
        )
        if cur is not None and out in cur["dirs"]:
            return False  # this exact (run, epoch) already committed
        if self.guard.is_replay(cur, epoch, run_token):
            return False  # replayed empty epoch (no dir to match)
        rows = pq_build_index(
            batch, self.centroids, self.codebooks, self.id_col, self.vec_col
        )
        n_batch = rows.count()
        dir_rows = dict(cur.get("dir_rows") or {}) if cur else {}
        if cur:
            # pre-upgrade pointers carry dirs without per-dir counts:
            # backfill by counting once, so the derived total is honest
            # from here on
            for d in cur["dirs"]:
                if d not in dir_rows:
                    dir_rows[d] = batch.sparkSession.read.parquet(d).count()
        dirs = list(cur["dirs"]) if cur else []
        if n_batch:
            # deterministic content: a crash-replay overwrite reproduces
            # the same rows, so a half-written dir can never corrupt the
            # index
            (
                rows.write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(out)
            )
            dirs.append(out)
            dir_rows[out] = n_batch
        # an empty epoch still commits, so the replay guard stays monotone
        self._commit(
            {
                "epoch": epoch,
                "run_token": run_token,
                "dirs": dirs,
                "dir_rows": dir_rows,
                "n_vectors": sum(dir_rows.values()),
                # pointer keys must ride every commit or they silently
                # drop on the next append — losing prev_dirs would leak
                # every compact's grace set forever
                "prev_dirs": (cur or {}).get("prev_dirs", []),
            },
            expected=cur,
        )
        return True

    def needs_retrain(self, profile, thresholds: dict | None = None) -> dict:
        """The quantizer-decay instrument (the IVF analog of the Z-order
        layout-decay defense): compare the CURRENT corpus's embedding
        profile against the one the quantizers were trained under. Frozen
        centroids/codebooks slowly mismatch a drifting embedding
        distribution — recall decays silently, nothing errors. Returns the
        full ``embedding_drift_report``; ``report["drifted"]`` is the
        retrain trigger (retrain + re-encode into a NEW path — see the
        quantizer-mismatch guard). Requires the store to have been created
        with ``training_profile=``."""
        from nexus_event_stream_spark.operators.drift import (
            embedding_drift_report,
        )

        if self.training_profile is None:
            raise ValueError(
                "no training_profile pinned at index creation — pass "
                "embedding_profile(seed_corpus) to PQIndexStore() to arm "
                "the retrain trigger"
            )
        return embedding_drift_report(
            self.training_profile, profile, thresholds
        )

    def foreach_batch(
        self,
        run_token: str | None = None,
        checkpoint_path: str | None = None,
    ):
        """foreachBatch body. Pass ``checkpoint_path`` (preferred) to
        derive a restart-STABLE run token persisted inside the
        checkpoint — the identity the replay guard needs to survive
        crash recovery (see the append docstring)."""
        if checkpoint_path is not None:
            from .dedup import run_token_for

            run_token = run_token_for(checkpoint_path)

        def fn(df: DataFrame, epoch: int) -> None:
            self.append(df, epoch, run_token)

        return fn

    # -- read / search --------------------------------------------------------

    def read(self, spark: SparkSession, cur: dict | None = None) -> DataFrame | None:
        """The committed index relation (id, centroid_id, codes) across
        every published epoch; None before the first non-empty append.

        Epoch dirs are read separately and unioned — each is internally
        partitioned by ``centroid_id``, and Spark's partition discovery
        cannot span multiple roots (probe-time partition pruning still
        applies per leg). The union width is |epoch dirs|, bounded by
        :meth:`compact`.

        ``cur`` pins a pointer snapshot the caller already read — a
        serving request resolves its epoch dirs under ONE pointer, so a
        commit landing mid-request can never mix two snapshots' dirs
        (the read-consistency contract serving.py's /similar pins)."""
        from functools import reduce

        if cur is None:
            cur = self.current()
        if cur is None or not cur["dirs"]:
            return None
        missing = [d for d in cur["dirs"] if not os.path.isdir(d)]
        if missing:
            raise SnapshotExpiredError(
                "pinned snapshot (epoch %s) references vacuumed dirs %s"
                " — held across more than one compact; re-read current()"
                % (cur.get("epoch"), missing)
            )
        legs = [
            spark.read.parquet(d).select(
                self.id_col,
                F.col("centroid_id").cast("int").alias("centroid_id"),
                "codes",
            )
            for d in cur["dirs"]
        ]
        return reduce(lambda a, b: a.unionAll(b), legs)

    def compact(self, spark: SparkSession) -> int:
        """Rewrite all epoch dirs into ONE (bounding the read-union width
        and the file count) — the scheduled-maintenance analog of the
        shard store's compaction. Rows are identical by construction;
        returns the number of directories collapsed.

        Dir retention (r11): the collapsed dirs are NOT removed at the
        pointer swing — they ride the new pointer as ``prev_dirs`` and
        are vacuumed by the NEXT compact, the same one-generation grace
        window as BucketedViewStore's ``prev_refs``. A request that
        pinned the pre-compact pointer (serving.py reads current() once
        per request) can therefore finish its scan against intact
        files — mid-compact reads serve the old snapshot or the new
        one, never an error and never a mix."""

        cur = self.current()
        if cur is None or len(cur["dirs"]) <= 1:
            return 0
        df = self.read(spark)
        out = os.path.join(
            self.path, "epochs", f"compact-{cur['epoch']}"
        )
        df.write.mode("overwrite").partitionBy("centroid_id").parquet(out)
        old_dirs = cur["dirs"]
        dr = cur.get("dir_rows") or {}
        total = (
            sum(dr.values())
            if not (set(old_dirs) - set(dr))
            else spark.read.parquet(out).count()  # pre-upgrade pointer
        )
        self._commit(
            {
                **cur,
                "dirs": [out],
                "dir_rows": {out: total},
                "n_vectors": total,
                "prev_dirs": old_dirs,  # one-generation read grace
            },
            expected=cur,
        )
        # vacuum the PREVIOUS compact's grace set, never this one's —
        # readers pinned to the pre-compact pointer still need old_dirs
        for d in cur.get("prev_dirs", []):
            if d not in old_dirs and d != out:
                shutil.rmtree(d, ignore_errors=True)
        return len(old_dirs)

    def search(
        self,
        embeddings: DataFrame,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 4,
        shortlist: int = 50,
        cur: dict | None = None,
    ) -> DataFrame:
        """IVF-PQ search over the committed index. ``embeddings`` is the
        corpus relation holding the true float vectors (e.g. the sharded
        corpus read) — the exact re-rank fetches the shortlist's floats
        from it by id; the index itself carries codes only. ``cur`` pins
        the pointer snapshot (see :meth:`read`)."""
        index = self.read(embeddings.sparkSession, cur=cur)
        if index is None:
            raise ValueError("index is empty — nothing committed yet")
        return ivf_pq_topk(
            embeddings,
            self.centroids,
            self.codebooks,
            queries,
            k=k,
            nprobe=nprobe,
            shortlist=shortlist,
            id_col=self.id_col,
            vec_col=self.vec_col,
            index=index,
        )


# ----------------------------------------------------------- generations
#
# The retrain loop composed end-to-end (VERDICT r7 #4). A generation root
# holds one subdirectory per quantizer generation, each a complete
# PQIndexStore, plus a single generation pointer:
#
#   root/_GENERATION                 {"gen": n, "dir": ..., "prev_dir": ...}
#   root/gen-1-<token>/              PQIndexStore (quantizers + epochs)
#   root/gen-2-<token>/              ...
#
# The loop: needs_retrain (quantizer-decay trigger) → train fresh
# quantizers + profile on the CURRENT corpus → encode the full corpus
# into a NEW generation dir (the old generation keeps serving the whole
# time — nothing in its dir is touched) → swing the generation pointer
# last (expected=-guarded) → vacuum generations older than the previous.
# That is ``PointerStore.publish`` (streaming/commit.py), the same
# attempt-unique-dir + pointer-last helper serving_layout.py publishes
# through; the quantizer-mismatch guard in PQIndexStore is what FORCES the new-path
# design — codes are only comparable under their own codebooks, so an
# in-place retrain is structurally impossible rather than merely unwise.

GEN_POINTER = "_GENERATION"


def _generations(root: str, backend=None) -> PointerStore:
    return PointerStore(os.path.join(root, GEN_POINTER), backend)


def active_index(root: str, backend=None, **store_kwargs) -> PQIndexStore:
    """The PQIndexStore of the current generation — readers resolve the
    generation pointer first, so an in-flight retrain (building a new
    generation dir) is invisible until its pointer swing."""
    gens = _generations(root, backend)
    ptr = gens.current()
    if ptr is None:
        raise ValueError(f"no committed index generation at {root}")
    return PQIndexStore(
        os.path.join(root, ptr["dir"]), backend=gens.backend, **store_kwargs
    )


def _publish_generation(
    root: str,
    gens: PointerStore,
    ptr: dict | None,
    corpus: DataFrame,
    n_centroids: int,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    profile=None,
) -> PQIndexStore:
    """Train quantizers + profile on ``corpus``, encode it into a fresh
    attempt-unique generation dir, and publish it over ``ptr``."""
    from nexus_event_stream_spark.operators.drift import embedding_profile
    from nexus_event_stream_spark.operators.similarity import (
        ivf_train_centroids,
        pq_train_codebooks,
    )

    cents = ivf_train_centroids(
        corpus, n_centroids=n_centroids, iters=iters, vec_col=vec_col
    )
    books = pq_train_codebooks(
        corpus, m=m, ksub=ksub, iters=iters, vec_col=vec_col
    )
    # maybe_retrain already profiled this corpus for the drift trigger —
    # reuse it rather than paying a second full-corpus scan
    prof = profile if profile is not None else embedding_profile(
        corpus, vec_col=vec_col
    )
    gen = ptr["gen"] + 1 if ptr else 1
    dirname = f"gen-{gen}-{uuid.uuid4().hex[:8]}"

    def encode(out: str) -> PQIndexStore:
        store = PQIndexStore(
            out,
            cents,
            books,
            backend=gens.backend,
            id_col=id_col,
            vec_col=vec_col,
            training_profile=prof,
        )
        store.append(corpus, epoch=0, run_token="rebuild" if ptr else "seed")
        return store

    return gens.publish(
        root,
        dirname,
        encode,
        {"gen": gen, "dir": dirname, "prev_dir": ptr["dir"] if ptr else None},
        expected=ptr,
        prefix="gen-",
    )


def create_generation(
    root: str,
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    backend=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQIndexStore:
    """Train quantizers + profile on the seed corpus, encode it as
    generation 1, and commit the generation pointer. The returned store
    then absorbs micro-batches via ``append`` / ``foreach_batch``."""
    gens = _generations(root, backend)
    ptr = gens.current()
    if ptr is not None:
        raise ValueError(
            f"{root} already has generation {ptr['gen']} — use "
            "retrain_swap to supersede it"
        )
    return _publish_generation(
        root, gens, None, corpus, n_centroids, m, ksub, iters, id_col, vec_col
    )


def retrain_swap(
    root: str,
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    backend=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    profile=None,
) -> dict:
    """Re-train quantizers on the CURRENT corpus, re-encode it into a new
    generation, swap the pointer atomically, vacuum superseded dirs.

    The old generation serves every read until the single pointer swing;
    a conflicted swing (CAS backends — another maintainer won the race)
    removes the orphaned attempt dir and re-raises. ``profile`` lets the
    caller pass an already-computed embedding profile of ``corpus``
    (maybe_retrain computed one for the trigger) instead of re-scanning.
    Returns ``{"gen", "dir", "n_vectors"}``."""
    gens = _generations(root, backend)
    ptr = gens.current()
    if ptr is None:
        raise ValueError(f"no committed index generation at {root}")
    store = _publish_generation(
        root, gens, ptr, corpus, n_centroids, m, ksub, iters, id_col,
        vec_col, profile=profile,
    )
    return {
        "gen": ptr["gen"] + 1,
        "dir": os.path.basename(store.path),
        "n_vectors": store.n_indexed,
    }


def maybe_retrain(
    root: str,
    corpus: DataFrame,
    thresholds: dict | None = None,
    backend=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **train_kwargs,
) -> dict:
    """The scheduled-maintenance composition a deployment actually calls:
    profile the current corpus, check the active generation's
    quantizer-decay trigger, and swap ONLY if drifted — the no-op path
    costs one profiling pass and zero writes, so it can run every
    maintenance window unconditionally (the same shape as
    ``publish_serving_snapshot``'s unchanged-store fast path and
    ``zorder_append``'s needs_compaction deferral).

    Returns ``{"retrained": bool, "report": <drift report>,
    "swap": <retrain_swap report> | None}``.
    """
    from nexus_event_stream_spark.operators.drift import embedding_profile

    active = active_index(
        root, backend=backend, id_col=id_col, vec_col=vec_col
    )
    prof = embedding_profile(corpus, vec_col=vec_col)
    rep = active.needs_retrain(prof, thresholds)
    if not rep["drifted"]:
        return {"retrained": False, "report": rep, "swap": None}
    swap = retrain_swap(
        root, corpus, backend=backend, id_col=id_col, vec_col=vec_col,
        profile=prof, **train_kwargs,
    )
    return {"retrained": True, "report": rep, "swap": swap}
