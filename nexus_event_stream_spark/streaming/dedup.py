"""Streaming near-dup suppression — cross-batch MinHash-LSH in the
projection path.

A 100 TB training-data ingest cannot dedup after the fact: near-duplicate
documents must be suppressed AS THEY ARRIVE, against everything already
accepted, at per-batch cost O(|batch|) — never a rescan of the
accumulated corpus. This module composes the batch dedup operators
(operators/dedup.py) with the store/commit discipline of the projection
path (streaming/projection.py):

- beside the accepted corpus lives a ``SignatureStore``: the LSH posting
  relation (band-bucket key → doc, with the doc's hashed shingle set for
  exact-Jaccard verification), held in a ``BucketedViewStore`` keyed on
  the band key — ``n_buckets`` key-hash bucket directories of append
  segments, so a micro-batch probes ONLY the bucket directories its own
  band keys hash into;
- each ``foreachBatch``: signatures for the batch (narrow map) →
  within-batch LSH self-join (earlier id wins) → bucket-pruned equi-join
  against the store's touched buckets → exact-Jaccard verify → survivors
  registered back into the store (one append segment + atomic
  pointer commit). That body, ``_suppress_banded``, is shared with the
  perceptual tier (streaming/phash_dedup.py): the two differ only in
  their signatures, band keys and ``close(a, b)`` verify predicate;
- every signature-store tier (lexical, perceptual, exact, paragraph,
  substring) reads history through ``SignatureStore.probe``: only the
  buckets its keys hash into, tombstones filtered, and on a replay less
  the postings that epoch wrote itself (``replay.replay_mask``);
  ``SignatureStore.append`` stamps each posting's ``epoch``/``run``;
- the (run_token, epoch) guard from the projection path makes replayed
  micro-batches no-ops on the store, and the suppression decision itself
  is a deterministic recompute (same batch + same visible postings →
  same survivors), mirroring the reference's idempotent-apply contract
  (data-plane/internal/projection/signal_test.go:132-151) extended to
  near-duplicates.

Scale notes: the posting row carries the shingle set once per band
(bands× write amplification) so the verify join needs no second hop back
to a shingle table; at extreme scale store shingles once per doc and
verify via a doc-keyed join instead — the probe shape is unchanged.
Buckets accumulate one segment per epoch; the inner store folds a
bucket back to one version once its segment list outgrows
``projection.MAX_SEGMENTS``, and takedowns queue and sweep through it
(``BucketedViewStore.forget``/``compact``).

Exactly-once corpus: the survivor append shares the store's pointer
commit — survivors are written to ``corpus_root/v={version}`` BEFORE the
single atomic pointer rename that also publishes the postings, and
readers (``read_corpus``) union only pointer-referenced directories. A
crash between the data writes and the commit leaves unreferenced
directories that the replayed epoch deterministically overwrites; a
crash after the commit makes the replay a pure no-op — so a batch lands
in the corpus exactly once, never zero or two times.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_event_stream_spark.streaming.projection import BucketedViewStore
from nexus_event_stream_spark.streaming.replay import replay_mask
from nexus_event_stream_spark.operators.dedup import (
    band_key_array,
    bucket_candidates,
    jaccard,
    minhash_signatures,
)

#: On-disk posting schema. ``shingles`` is the doc's hashed shingle set
#: (the exact-Jaccard verify input); ``run``/``epoch`` scope replay.
POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
        T.StructField("shingles", T.ArrayType(T.LongType())),
    ]
)


class SignatureStore:
    """Append-only bucketed LSH posting store: a thin delegate over
    ``BucketedViewStore`` keyed on ``bucket_key``, the way the rollup,
    BM25 and embedding stores are.

    Layout, commit, vacuum, takedowns and folds are the inner store's:
    postings land as append segments (``append_buckets``), the manifest
    maps each bucket to the list of versions holding its postings, and
    reading a bucket unions those directories and nothing else, less the
    queued takedowns (``id_col = doc_id``). Commit is a single atomic
    pointer rename; a crash between data write and commit leaves an
    unreferenced directory, never a corrupt store. Buckets whose segment
    list grows past ``MAX_SEGMENTS`` fold after the append that grew
    them, so per-bucket file counts stay bounded over unbounded epochs
    while the fold's cost tracks the hot buckets, not the store.

    The same pointer also publishes the survivor CORPUS (when ``append``
    is given one): corpus directories live under a caller-supplied root
    as ``v={version}`` and only pointer-listed versions
    (``corpus_versions``) are visible — that one rename is what makes
    the corpus append exactly-once.
    """

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        backend=None,
        schema: T.StructType | None = None,
    ):
        #: posting row schema — default is the lexical MinHash shape;
        #: other suppression tiers (streaming/phash_dedup.py) reuse the
        #: whole store with their own payload columns, as long as
        #: ``bucket_key`` (string) and ``doc_id`` (long) stay: bucketing,
        #: probes, tombstones, forget, and compaction key on those two.
        #: Replay discipline is the inner store's idempotent guard
        #: (streaming/replay.py): replayed signature registration
        #: self-suppresses (an exact replay has Jaccard 1), so cross-run
        #: re-applies are harmless and only positively-identified
        #: same-run replays skip the append.
        self._store = BucketedViewStore(
            path,
            n_buckets=n_buckets,
            backend=backend,
            schema=schema or POSTING_SCHEMA,
            key_col="bucket_key",
            id_col="doc_id",
        )
        self.path = path
        self.n_buckets = n_buckets
        self.backend = self._store.backend
        self.schema = self._store.schema
        self.guard = self._store.guard
        #: paths touched by the most recent probe — lets tests pin the
        #: "no full rescan" contract.
        self.last_probe_paths: list[str] | None = None

    def current(self) -> dict | None:
        return self._store.current()

    # -- read ---------------------------------------------------------------

    def read_buckets(self, spark: SparkSession, buckets) -> DataFrame | None:
        """Postings of ``buckets`` only — the probe path; never the whole
        store. Postings of queued-takedown docs are already gone (the
        inner store's read drops them)."""
        cur = self.current()
        self.last_probe_paths = (
            self._store._bucket_paths(cur["manifest"], buckets) if cur else []
        )
        return self._store.read(spark, buckets=buckets, cur=cur)

    def probe(
        self,
        spark: SparkSession,
        keys: DataFrame,
        epoch: int | None,
        run_token: str | None,
        replay: bool,
    ) -> DataFrame | None:
        """The stored postings a batch must be checked against: only the
        buckets ``keys.bucket_key`` hashes into (``read_buckets``, so
        tombstoned docs are already gone), and on a ``replay`` less the
        postings this epoch wrote itself (``replay.replay_mask``) — a
        replayed epoch recomputes the survivors of its first delivery.
        None when nothing is stored there; ``last_probe_paths`` is ``[]``
        when ``keys`` touches no bucket."""
        touched = self._store.touched_buckets(keys, "bucket_key")
        if not touched:
            self.last_probe_paths = []
            return None
        stored = self.read_buckets(spark, touched)
        if stored is None or not replay:
            return stored
        return replay_mask(stored, epoch, run_token)

    # -- write --------------------------------------------------------------

    def append(
        self,
        postings: DataFrame,
        epoch: int | None = None,
        run_token: str | None = None,
        corpus: DataFrame | None = None,
        corpus_root: str | None = None,
    ) -> int:
        """Append posting rows as a new segment of their buckets — and,
        when ``corpus``/``corpus_root`` are given, the epoch's survivor
        rows as ``corpus_root/v={version}`` — then commit BOTH with one
        atomic pointer rename. Epoch metadata is recorded even when the
        batch produced no survivors, so the replay guard still engages.
        Each posting is stamped with ``epoch``/``run_token`` here (its
        ``epoch``/``run`` columns, what ``probe``'s replay mask reads);
        ``postings`` carries the schema's other columns.

        Exactly-once: every data write targets a directory named by the
        not-yet-committed version with ``mode("overwrite")``, so a replay
        after a crash-before-commit rewrites the identical directories
        instead of appending beside them. The corpus version and the
        commit come from ONE pointer read: a writer that moved the
        pointer in between (a takedown, a sweep) makes the commit fail
        under a compare-and-swap backend, never lose its update.
        """
        cur = self.current()
        version = (cur["version"] + 1) if cur else 0
        corpus_versions = list((cur or {}).get("corpus_versions", []))
        if corpus is not None and corpus_root is not None:
            cdir = os.path.join(corpus_root, f"v={version}")
            corpus.write.mode("overwrite").parquet(cdir)
            # an all-suppressed batch writes no row groups; don't make
            # readers open an empty directory
            if any(n.endswith(".parquet") for n in os.listdir(cdir)):
                corpus_versions.append(version)
        stamp = {
            "epoch": F.lit(epoch).cast("long").alias("epoch"),
            "run": F.lit(run_token).cast("string").alias("run"),
        }
        self._store.append_buckets(
            postings.select(
                *[stamp.get(f.name, F.col(f.name)) for f in self.schema.fields]
            ),
            None,  # band keys were not counted: the inner store sizes the write
            epoch,
            run_token,
            extra={"corpus_versions": corpus_versions},
            cur=cur,
        )
        return version

    def read_corpus(self, spark: SparkSession, corpus_root: str) -> DataFrame | None:
        """The committed survivor corpus — pointer-listed versions only,
        so uncommitted crash leftovers are invisible."""
        cur = self.current()
        if cur is None or not cur.get("corpus_versions"):
            return None
        return spark.read.parquet(
            *[
                os.path.join(corpus_root, f"v={v}")
                for v in cur["corpus_versions"]
            ]
        )

    def compact(self, spark: SparkSession, buckets=None) -> int | None:
        """Fold the segment lists of ``buckets`` (default: all) into one
        version each and, on a full fold, sweep queued takedowns
        (``BucketedViewStore.compact``). Corpus references ride through;
        returns the new version or None if there is nothing to fold."""
        return self._store.compact(spark, buckets)


def forget_signatures(
    spark: SparkSession, store: SignatureStore, doc_ids, mode: str = "tombstone"
) -> int:
    """Right-to-be-forgotten maintenance for a signature store: remove
    every posting of ``doc_ids`` (``BucketedViewStore.forget``; a doc's
    band keys scatter across buckets, so the physical removal is a
    full-sweep fold less the victims). ``mode='tombstone'`` (default)
    queues the victims — one pointer swing, zero data writes, every
    probe treats them as gone IMMEDIATELY, and the next full fold sweeps
    them; ``mode='sweep'`` rewrites now, clearing the queue alongside.

    Returns how many distinct victim docs held postings. A forgotten
    doc stops suppressing future near-duplicates of itself; docs it
    already suppressed stay suppressed. Epoch/token/corpus references
    ride through unchanged (the survivor CORPUS dirs are the caller's
    to redact — this sweeps the signature index)."""
    return store._store.forget(spark, doc_ids, mode)


def suppress_and_register(
    spark: SparkSession,
    store: SignatureStore,
    docs: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    num_perm: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_path: str | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """One micro-batch of near-dup suppression: returns the surviving rows
    of ``docs`` and registers their signatures in the store. When
    ``corpus_path`` is given, the survivors are ALSO written there under
    the store's pointer commit — the exactly-once corpus append.

    Suppression rule (greedy, arrival-order): a doc is dropped iff a
    verified near-match (exact Jaccard of hashed shingle sets ≥
    ``threshold``) exists among (a) already-accepted docs in the store or
    (b) same-batch docs with a smaller ``id_col`` — the earliest-accepted
    copy wins, the streaming analogue of dedup_groups' min-id
    representative. An exact replay (same text, any id) has Jaccard 1 and
    is always suppressed.

    Replayed epochs (same run_token, epoch ≤ last committed) recompute the
    same survivor set — postings the replayed epoch itself wrote are
    filtered out of the probe — and skip the store append, so replay is a
    pure no-op on state. Per-batch cost: a narrow signature map + LSH
    self-join over the batch, plus a probe of only the store buckets the
    batch's band keys hash into (``store.last_probe_paths`` pins that).

    ``max_bucket_size`` caps the within-batch LSH self-join exactly like
    the batch operator (hot buckets → star on the min id; see
    operators/dedup.minhash_lsh_candidates) — a boilerplate-heavy
    micro-batch has the same quadratic risk as a batch corpus, and the
    star's suppression decisions are identical for mutually-similar
    copies (every non-hub member still pairs with the hub and loses).
    The cross-batch probe needs no cap: its traffic is |batch postings| ×
    |stored bucket|, linear in the batch.
    """
    rows_per_band = num_perm // bands
    minhash = minhash_signatures(
        docs, num_perm, shingle_n, id_col, text_col
    ).persist()
    try:
        return _suppress_banded(
            spark,
            store,
            docs,
            minhash.select(
                "doc_id", "sig", F.col("__shingles").alias("shingles")
            ),
            band_key_array(bands, rows_per_band),
            "shingles",
            lambda a, b: jaccard(a, b) >= F.lit(threshold),
            epoch,
            run_token,
            id_col,
            corpus_path,
            max_bucket_size,
        )
    finally:
        # Release the per-batch cache unconditionally, or a long-running
        # caller accumulates one pinned relation per epoch. The posting
        # append (and corpus write, when configured) already materialized
        # everything this epoch commits; collecting the returned
        # survivors afterwards reads the checkpointed suppressed-id set,
        # so it cannot see this epoch's own postings.
        minhash.unpersist()


def _suppress_banded(
    spark: SparkSession,
    store: SignatureStore,
    rows: DataFrame,
    sigs: DataFrame,
    band_keys: Column,
    payload: str,
    close: Callable[[Column, Column], Column],
    epoch: int | None,
    run_token: str | None,
    id_col: str,
    corpus_path: str | None,
    max_bucket_size: int | None,
) -> DataFrame:
    """The banded suppress-and-register body shared by the lexical
    (MinHash bands, Jaccard verify) and perceptual (dHash bands, Hamming
    verify — streaming/phash_dedup.py) tiers. ``sigs`` holds one row per
    judgeable doc of ``rows``: ``doc_id``, the verify ``payload`` column
    (named as in the store's posting schema) and whatever ``band_keys``
    (the doc's array of band keys) reads; ``close(a, b)`` is the verify
    predicate over two payloads. A doc is suppressed iff a ``close``
    doc shares a band key with it among (a) same-batch docs with a
    smaller id or (b) the store's visible postings; the survivors of
    ``rows`` are returned and, unless the epoch is a replay, their
    postings (plus the survivor corpus when ``corpus_path`` is given)
    are appended under one pointer commit."""
    replay = store.guard.is_replay(store.current(), epoch, run_token)
    posts = sigs.select(
        "doc_id", F.explode(band_keys).alias("bucket_key"), payload
    )

    # (a) within-batch: band candidates (hot buckets starred) + verify;
    # the larger id loses.
    cands = bucket_candidates(
        posts.select("doc_id", F.col("bucket_key").alias("bucket")),
        max_bucket_size,
    )
    intra = (
        cands.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(close(F.col(f"sa.{payload}"), F.col(f"sb.{payload}")))
        .select(F.col("doc_b").alias("doc_id"))
    )

    # (b) cross-batch: probe ONLY the store buckets this batch touches.
    stored = store.probe(spark, posts, epoch, run_token, replay)
    suppressed = intra
    if stored is not None:
        suppressed = intra.union(
            posts.join(
                stored.select("bucket_key", F.col(payload).alias("__stored")),
                "bucket_key",
            )
            .filter(close(F.col(payload), F.col("__stored")))
            .select("doc_id")
        )
    # Materialize the small suppressed-id set ONCE: the posting write,
    # the corpus write and the caller's collect of the survivors then
    # read it, instead of each recomputing the candidates, both
    # verifies and the probe (the exact tier checkpoints its survivors
    # the same way).
    suppressed = suppressed.distinct().localCheckpoint()

    survivors = rows.join(
        suppressed.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
    if not replay:
        store.append(
            posts.join(suppressed, "doc_id", "left_anti"),
            epoch,
            run_token,
            corpus=survivors if corpus_path is not None else None,
            corpus_root=corpus_path,
        )
    return survivors


def run_token_for(checkpoint_path: str) -> str:
    """Run token tied to the checkpoint's LIFETIME, not just its path.

    A restart from the same checkpoint REDELIVERS the last possibly-
    uncommitted epoch with the same batch id; the replay guard only
    engages if the restarted run presents the same token, so the token
    must survive process restarts (a fresh uuid per process would let
    the crashed epoch's own committed postings suppress its redelivered
    docs — permanent data loss). But it must NOT survive a checkpoint
    RESET: wiping the checkpoint restarts epoch numbering at 0, and a
    path-derived token would make the guard discard every new batch as
    a "replay" until the counter caught up. So the token is a uuid
    minted once per checkpoint generation and persisted INSIDE the
    checkpoint directory — restart reuses it, reset mints a new one.
    """
    import uuid

    os.makedirs(checkpoint_path, exist_ok=True)
    marker = os.path.join(checkpoint_path, "__dedup_run_token")
    try:
        with open(marker) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        pass
    token = uuid.uuid4().hex[:16]
    fd, tmp = tempfile.mkstemp(dir=checkpoint_path, prefix="._tok")
    with os.fdopen(fd, "w") as fh:
        fh.write(token)
    os.replace(tmp, marker)
    return token


def read_dedup_corpus(
    spark: SparkSession, store_path: str, corpus_path: str
) -> DataFrame | None:
    """Committed view of a ``start_dedup_ingest`` corpus (pointer-listed
    versions only; crash leftovers invisible)."""
    return SignatureStore(store_path).read_corpus(spark, corpus_path)


def start_dedup_ingest(
    spark: SparkSession,
    doc_stream: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint_path: str,
    n_buckets: int = 64,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
):
    """Wire a document stream into a dedup-suppressed corpus sink.

    Each micro-batch: suppress near-dups (within-batch + against all
    accepted history) → survivors land in ``corpus_path`` under the
    signature store's atomic pointer commit, so the corpus append is
    EXACTLY-ONCE across crashes and restarts: a replayed epoch either
    deterministically overwrites the uncommitted ``v={n}`` directory
    (crash before commit) or is skipped entirely (crash after). Read the
    corpus with ``read_dedup_corpus`` — only committed versions are
    visible. The run token derives from the checkpoint path so a restart
    presents the same identity to the replay guard (see run_token_for).
    Returns the StreamingQuery.
    """
    run_token = run_token_for(checkpoint_path)
    store = SignatureStore(store_path, n_buckets=n_buckets)

    def _apply(batch: DataFrame, epoch: int) -> None:
        if store.guard.is_replay(store.current(), epoch, run_token):
            return
        # the corpus write inside store.append materializes the survivors;
        # nothing further to execute here
        suppress_and_register(
            spark,
            store,
            batch,
            epoch,
            run_token,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            corpus_path=corpus_path,
            max_bucket_size=max_bucket_size,
        )

    return (
        doc_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
        .start()
    )


#: (node, comp) labeling relation — comp = min doc_id reachable through
#: verified near-dup pairs, the provenance record a training pipeline
#: keeps alongside the deduped corpus.
LABEL_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType()),
        T.StructField("comp", T.LongType()),
    ]
)


def bucketed_label_store(path: str, n_buckets: int = 64, backend=None):
    """Labels bucketed BY COMPONENT LABEL (``comp``): a relabel rewrites
    only the buckets housing affected components — the write-cost shape
    ``update_cluster_labels_bucketed`` needs."""
    return BucketedViewStore(
        path, n_buckets=n_buckets, backend=backend,
        schema=LABEL_SCHEMA, key_col="comp",
    )


def update_cluster_labels_bucketed(
    spark: SparkSession,
    store,
    pairs: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> None:
    """Maintain near-dup cluster labels ACROSS micro-batches: fold the
    epoch's verified pairs into the committed ``(node, comp)`` relation
    (``bucketed_label_store``), comp = min node id of the component.
    Per-epoch cost scales with the DELTA, never a recompute over the
    accumulated pair graph, and the write touches O(affected
    components), not O(all labels).

    Correctness rests on component contraction: a labeling IS the edge
    set up to connectivity, so a delta edge (a, b) only needs CC over the
    contracted graph (comp(a), comp(b)), each never-seen node standing
    for itself. Labels stay min-id because min is associative. An epoch:

    1. looks up comp(node) for the delta's nodes with one broadcast join
       of the (tiny) node set against the label scan — a filter-scan,
       never a shuffle of the labels;
    2. runs CC over the contracted edges (O(delta) rows);
    3. rewrites the buckets of components whose label changes — rows
       move from bucket(old comp) to bucket(new comp), both of which are
       in the touched set. The store picks the rewrite
       (``BucketedViewStore.rewrite_set``): only the touched buckets on
       a sparse epoch, every bucket on a dense one. A no-component-changed
       epoch rewrites nothing (the epoch marker alone commits).

    Same (run_token, epoch) replay guard as the other foreachBatch
    bodies (a redelivered epoch is a no-op, and min-id labels make a
    re-merge idempotent anyway). Label-equivalence to a full
    ``connected_components`` over every pair ever seen is pinned in
    tests/test_streaming_dedup.py and tests/test_dedup_similarity.py,
    alongside an untouched-bucket pin.
    """
    from nexus_event_stream_spark.operators.dedup import connected_components

    cur = store.current()
    if store.guard.is_replay(cur, epoch, run_token):
        return  # already applied within this run

    edges = pairs.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    ).localCheckpoint()
    delta_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )

    labels_all = store.read(spark) if cur else None
    if labels_all is None:
        new = connected_components(pairs, a_col, b_col)
        touched = store.touched_buckets(new, "comp")
        store.write_buckets(new.select("node", "comp"), touched, epoch, run_token)
        return

    # 1. contraction lookup: broadcast the delta's node set onto the label
    # scan — comp(node) for delta nodes only, no label shuffle
    node_comp = labels_all.join(F.broadcast(delta_nodes), "node").localCheckpoint()
    # 2. contracted CC over O(delta) rows: each edge end becomes its
    # component label, a never-seen node stands for itself
    lab_a = node_comp.select(F.col("node").alias("__na"), F.col("comp").alias("__ca"))
    lab_b = node_comp.select(F.col("node").alias("__nb"), F.col("comp").alias("__cb"))
    contracted = (
        edges.join(lab_a, edges.src == lab_a.__na, "left")
        .join(lab_b, edges.dst == lab_b.__nb, "left")
        .select(
            F.coalesce("__ca", "src").alias("ca"),
            F.coalesce("__cb", "dst").alias("cb"),
        )
        .localCheckpoint()
    )
    groups = connected_components(contracted, "ca", "cb").select(
        F.col("node").alias("__gnode"), F.col("comp").alias("__gcomp")
    )
    # only genuinely-moving components force a rewrite
    changed = groups.filter(F.col("__gnode") != F.col("__gcomp")).localCheckpoint()
    new_nodes = delta_nodes.join(node_comp.select("node"), "node", "left_anti")
    new_rows = (
        new_nodes.join(groups, new_nodes.node == groups.__gnode, "left")
        .select("node", F.coalesce("__gcomp", "node").alias("comp"))
        .localCheckpoint()
    )
    # 3. touched buckets: old comps being renamed + their new labels +
    # new nodes' labels (rows MOVE between comp buckets)
    touched = store.touched_buckets(
        changed.select(F.col("__gnode").alias("comp"))
        .unionByName(changed.select(F.col("__gcomp").alias("comp")))
        .unionByName(new_rows.select("comp")),
        "comp",
    )
    # touched can be empty (every delta edge lands inside an existing
    # component): still commit the epoch marker so the replay guard
    # engages — same contract as SignatureStore.append on an
    # all-suppressed batch.
    touched = store.rewrite_set(touched)
    slice_ = store.read(spark, buckets=touched)  # None when touched is empty
    if slice_ is None:
        updated = new_rows
    else:
        relabeled = slice_.join(
            F.broadcast(changed), slice_.comp == changed.__gnode, "left"
        ).select("node", F.coalesce("__gcomp", "comp").alias("comp"))
        updated = relabeled.unionByName(new_rows)
    store.write_buckets(updated, touched, epoch, run_token)
