"""Streaming near-dup suppression (streaming/dedup.py): the projection
path's idempotent-apply contract extended to near-duplicates.

Mirrors the reference's redelivery tests
(data-plane/internal/projection/signal_test.go:132-151): replayed work is
a no-op, and here additionally a near-duplicate document arriving in a
LATER micro-batch is suppressed against everything already accepted —
at probe cost bounded by the batch's own LSH buckets, never a store scan.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.dedup import (
    SignatureStore,
    suppress_and_register,
)

# Long enough that a one-word edit keeps shingle-Jaccard ≈ 0.83 and the
# 4×4 LSH bands are guaranteed to collide (deterministic for fixed text;
# verified: minhash_dedup pairs (A, A_NEAR) at jaccard 0.833).
A_TEXT = (
    "the quick brown fox jumps over the lazy dog while the old river bank "
    "slowly erodes under heavy spring rain and the village children watch "
    "from the wooden bridge every single morning before school begins"
)
A_NEAR = A_TEXT.replace("wooden", "stone")
B_TEXT = "colorless green ideas sleep furiously under a pale winter moon tonight"
C_TEXT = "completely different content about distributed query engines and columnar formats"


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="sigstore_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(params=["rename", "cas"])
def backend(request):
    """The exactly-once pins run under BOTH pointer-commit backends: the
    POSIX-rename default and the object-store conditional-put twin."""
    if request.param == "rename":
        return PosixRenameBackend()
    return ConditionalPutBackend()


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def surviving_ids(spark, store, rows, epoch, run="run1"):
    out = suppress_and_register(
        spark, store, docs_df(spark, rows), epoch=epoch, run_token=run
    )
    return sorted(r.doc_id for r in out.collect())


def stored_doc_ids(spark, store):
    cur = store.current()
    if cur is None:
        return set()
    df = store.read_buckets(spark, list(cur["manifest"]))
    if df is None:
        return set()
    return {r.doc_id for r in df.select("doc_id").distinct().collect()}


def test_within_batch_and_cross_batch_suppression(spark, store_dir):
    store = SignatureStore(store_dir, n_buckets=16)

    # epoch 0: A and B are distinct — both survive and are registered
    assert surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT)], 0) == [1, 2]
    assert stored_doc_ids(spark, store) == {1, 2}

    # epoch 1: near-dup of A (one word changed) is suppressed against the
    # ACCEPTED history; C is novel and survives.
    assert surviving_ids(spark, store, [(3, A_NEAR), (4, C_TEXT)], 1) == [4]
    assert stored_doc_ids(spark, store) == {1, 2, 4}

    # epoch 2: exact replay of A's text under a fresh id → Jaccard 1 →
    # suppressed; within-batch exact dups resolve to the smallest id.
    novel = "a genuinely novel paragraph describing watermark semantics in stateful stream processing"
    got = surviving_ids(spark, store, [(5, A_TEXT), (6, novel), (7, novel)], 2)
    assert got == [6]
    assert stored_doc_ids(spark, store) == {1, 2, 4, 6}


def test_replayed_epoch_is_noop_on_state_and_deterministic(
    spark, store_dir, backend
):
    store = SignatureStore(store_dir, n_buckets=16, backend=backend)
    assert surviving_ids(spark, store, [(1, A_TEXT)], 0) == [1]
    assert surviving_ids(spark, store, [(2, B_TEXT)], 1) == [2]
    ver_before = store.current()["version"]

    # replay epoch 1 (same run token): same survivors, NO new store version
    # — in particular doc 2's own epoch-1 postings must not suppress it.
    assert surviving_ids(spark, store, [(2, B_TEXT)], 1) == [2]
    assert store.current()["version"] == ver_before
    assert stored_doc_ids(spark, store) == {1, 2}


def test_probe_reads_only_touched_buckets(spark, store_dir):
    store = SignatureStore(store_dir, n_buckets=64)
    surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT), (3, C_TEXT)], 0)
    n_store_buckets = len(store.current()["manifest"])

    # a one-doc batch probes ≤ bands (=4) bucket directories, not the store
    surviving_ids(spark, store, [(9, "tiny single document probe text here")], 1)
    assert store.last_probe_paths is not None
    probed_buckets = {p.split("__bucket=")[1] for p in store.last_probe_paths}
    assert len(probed_buckets) <= 4
    assert n_store_buckets >= 9  # 3 docs × 4 bands mostly distinct buckets


def test_compact_preserves_postings_and_suppression(spark, store_dir):
    store = SignatureStore(store_dir, n_buckets=8)
    surviving_ids(spark, store, [(1, A_TEXT)], 0)
    surviving_ids(spark, store, [(2, B_TEXT)], 1)
    before = stored_doc_ids(spark, store)
    store.compact(spark)
    assert stored_doc_ids(spark, store) == before
    # every bucket now names exactly one version (a folded entry is one
    # owning version, not a segment list)
    assert all(isinstance(v, int) for v in store.current()["manifest"].values())
    # suppression still works against compacted history
    assert surviving_ids(spark, store, [(5, A_NEAR)], 2) == []


def test_streaming_integration_end_to_end(spark, store_dir):
    """Real readStream → foreachBatch → corpus sink: a near-dup arriving in
    a later file-source batch never reaches the corpus."""
    from nexus_event_stream_spark.streaming.dedup import (
        read_dedup_corpus,
        start_dedup_ingest,
    )

    base = tempfile.mkdtemp(prefix="dedup_stream_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    try:
        docs_df(spark, [(1, A_TEXT), (2, B_TEXT)]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "b0"))
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        q = start_dedup_ingest(
            spark, stream, store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q.processAllAvailable()
            docs_df(spark, [(3, A_NEAR), (4, C_TEXT)]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, "b1"))
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            r.doc_id
            for r in read_dedup_corpus(spark, store_dir, corpus)
            .select("doc_id")
            .collect()
        )
        assert got == [1, 2, 4]  # 3 (near-dup of 1) suppressed cross-batch
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_restart_same_checkpoint_no_loss_no_dupes(spark, store_dir):
    """Stop the query and start a NEW one on the same checkpoint (process
    restart): the persisted run token keeps the replay guard armed, the
    already-committed batch is not reprocessed, and the post-restart
    batch lands exactly once — no loss, no duplicates."""
    from nexus_event_stream_spark.streaming.dedup import (
        read_dedup_corpus,
        start_dedup_ingest,
    )

    base = tempfile.mkdtemp(prefix="dedup_restart_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    try:
        def make_stream():
            return spark.readStream.schema("doc_id long, text string").option(
                "maxFilesPerTrigger", "1"
            ).parquet(src + "/*")

        docs_df(spark, [(1, A_TEXT), (2, B_TEXT)]).coalesce(1).write.parquet(
            os.path.join(src, "b0")
        )
        q = start_dedup_ingest(
            spark, make_stream(), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # restart: near-dup of 1 must be suppressed against history, the
        # novel doc accepted, and batch b0 must not re-append
        docs_df(spark, [(3, A_NEAR), (4, C_TEXT)]).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        q2 = start_dedup_ingest(
            spark, make_stream(), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = sorted(
            r.doc_id
            for r in read_dedup_corpus(spark, store_dir, corpus)
            .select("doc_id")
            .collect()
        )
        assert got == [1, 2, 4]
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Exactly-once corpus + scheduled compaction
# ---------------------------------------------------------------------------


def committed_corpus_ids(spark, store, corpus):
    df = store.read_corpus(spark, corpus)
    return sorted(r.doc_id for r in df.collect()) if df is not None else []


def test_corpus_append_exactly_once_across_crash(spark, store_dir, backend):
    """Crash injected between the corpus data write and the pointer
    commit: the replayed epoch overwrites the orphan directory and
    commits once — no duplicate rows, no lost batch."""
    store = SignatureStore(store_dir, n_buckets=16, backend=backend)
    corpus = tempfile.mkdtemp(prefix="dedup_corpus_")
    try:
        suppress_and_register(
            spark, store, docs_df(spark, [(1, A_TEXT)]), 0, "run1",
            corpus_path=corpus,
        )
        assert committed_corpus_ids(spark, store, corpus) == [1]

        # epoch 1 crashes at commit time: data dirs written, pointer not
        inner = store._store
        real_commit = inner._commit
        inner._commit = lambda ptr, expected=None: (_ for _ in ()).throw(
            OSError("injected crash before pointer rename")
        )
        with pytest.raises(Exception):
            suppress_and_register(
                spark, store, docs_df(spark, [(2, B_TEXT)]), 1, "run1",
                corpus_path=corpus,
            )
        inner._commit = real_commit
        # the orphan v=1 corpus dir exists on disk but is invisible
        assert os.path.isdir(os.path.join(corpus, "v=1"))
        assert committed_corpus_ids(spark, store, corpus) == [1]

        # replay of epoch 1 (same run token — restart keeps it): the
        # pointer still says epoch 0, so this is NOT treated as a replay
        # no-op; it recomputes, overwrites v=1, and commits exactly once
        suppress_and_register(
            spark, store, docs_df(spark, [(2, B_TEXT)]), 1, "run1",
            corpus_path=corpus,
        )
        assert committed_corpus_ids(spark, store, corpus) == [1, 2]

        # a second replay after the successful commit is a pure no-op
        suppress_and_register(
            spark, store, docs_df(spark, [(2, B_TEXT)]), 1, "run1",
            corpus_path=corpus,
        )
        assert committed_corpus_ids(spark, store, corpus) == [1, 2]
        assert store.current()["corpus_versions"] == [0, 1]
    finally:
        shutil.rmtree(corpus, ignore_errors=True)


def test_run_token_stable_across_restarts_fresh_after_reset(tmp_path):
    """Restart (same checkpoint) keeps the token so the replay guard
    engages on redelivered epochs; a checkpoint RESET mints a new token
    so restarted epoch numbering is not misread as replay (which would
    silently discard every new batch until the counter caught up)."""
    from nexus_event_stream_spark.streaming.dedup import run_token_for

    ckpt = str(tmp_path / "ckpt")
    tok = run_token_for(ckpt)
    assert run_token_for(ckpt) == tok  # restart: stable
    assert run_token_for(str(tmp_path / "other")) != tok
    shutil.rmtree(ckpt)  # operator resets the checkpoint to reprocess
    assert run_token_for(ckpt) != tok  # new generation, guard disarmed


def test_append_schedules_compaction_bounding_manifest(
    spark, store_dir, monkeypatch
):
    """Version lists stay bounded over many epochs touching the same
    buckets, and probe results are unchanged by the folds."""
    from nexus_event_stream_spark.streaming import projection
    from nexus_event_stream_spark.streaming.dedup import POSTING_SCHEMA

    monkeypatch.setattr(projection, "MAX_SEGMENTS", 3)
    store = SignatureStore(store_dir, n_buckets=4)
    for e in range(10):
        posts = spark.createDataFrame(
            [("bucket-x", 100 + e, e, "run1", [1, 2, 3 + e])], POSTING_SCHEMA
        )
        store.append(posts, epoch=e, run_token="run1")
        cur = store.current()
        assert all(
            (len(v) if isinstance(v, list) else 1) <= projection.MAX_SEGMENTS
            for v in cur["manifest"].values()
        )
    # all ten epochs' postings remain probe-able after repeated folds
    df = store.read_buckets(spark, list(store.current()["manifest"]))
    assert {r.doc_id for r in df.select("doc_id").collect()} == set(
        range(100, 110)
    )


def test_suppression_with_hot_bucket_cap_matches_uncapped(spark, store_dir):
    """A boilerplate-heavy micro-batch: the capped within-batch self-join
    (star fallback) suppresses exactly the same docs as the exact
    all-pairs join — every non-hub copy pairs with the hub and loses."""
    boiler_rows = [(i, A_TEXT) for i in range(30)] + [(40, B_TEXT)]
    capped_store = SignatureStore(store_dir + "_cap", n_buckets=16)
    try:
        got_capped = sorted(
            r.doc_id
            for r in suppress_and_register(
                spark,
                capped_store,
                docs_df(spark, boiler_rows),
                0,
                "run1",
                max_bucket_size=5,
            ).collect()
        )
        store = SignatureStore(store_dir, n_buckets=16)
        got_exact = sorted(
            r.doc_id
            for r in suppress_and_register(
                spark, store, docs_df(spark, boiler_rows), 0, "run1"
            ).collect()
        )
        assert got_capped == got_exact == [0, 40]
    finally:
        shutil.rmtree(store_dir + "_cap", ignore_errors=True)


def test_compact_preserves_corpus_pointer(spark, store_dir):
    store = SignatureStore(store_dir, n_buckets=8)
    corpus = tempfile.mkdtemp(prefix="dedup_corpus_")
    try:
        suppress_and_register(
            spark, store, docs_df(spark, [(1, A_TEXT)]), 0, "run1",
            corpus_path=corpus,
        )
        suppress_and_register(
            spark, store, docs_df(spark, [(2, B_TEXT)]), 1, "run1",
            corpus_path=corpus,
        )
        before = committed_corpus_ids(spark, store, corpus)
        store.compact(spark)
        assert committed_corpus_ids(spark, store, corpus) == before == [1, 2]
    finally:
        shutil.rmtree(corpus, ignore_errors=True)


def test_update_cluster_labels_stream_matches_full_recompute(
    spark, tmp_path, backend
):
    """Cluster labels maintained across micro-batches (delta folds under
    the store's replay guard) must equal one connected_components run
    over every pair ever seen; a redelivered epoch is a no-op."""
    from nexus_event_stream_spark.operators.dedup import connected_components
    from nexus_event_stream_spark.streaming.dedup import (
        bucketed_label_store,
        update_cluster_labels_bucketed,
    )

    def pairs_df(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    store = bucketed_label_store(
        str(tmp_path / "labels"), n_buckets=8, backend=backend
    )
    batches = [
        [(1, 2), (3, 4)],
        [(2, 3), (10, 11)],        # bridges {1,2} and {3,4}
        [(11, 12), (50, 51)],      # extends a cluster + a brand-new one
    ]
    for e, rows in enumerate(batches):
        update_cluster_labels_bucketed(spark, store, pairs_df(rows), e, "run1")
    ver = store.current()["version"]

    # replay of the last epoch: no new snapshot
    update_cluster_labels_bucketed(
        spark, store, pairs_df(batches[-1]), 2, "run1"
    )
    assert store.current()["version"] == ver

    got = {r["node"]: r["comp"] for r in store.read(spark).collect()}
    want = {
        r["node"]: r["comp"]
        for r in connected_components(
            pairs_df([p for b in batches for p in b])
        ).collect()
    }
    assert got == want
    assert got[4] == 1 and got[12] == 10 and got[51] == 50


def test_update_cluster_labels_bucketed_locality_and_equivalence(
    spark, tmp_path
):
    """The at-scale labels path: per-epoch rewrite touches ONLY the
    buckets of affected components (manifest versions elsewhere do not
    move), while the folded labeling stays equal to a full recompute."""
    from nexus_event_stream_spark.operators.dedup import connected_components
    from nexus_event_stream_spark.streaming.dedup import (
        bucketed_label_store,
        update_cluster_labels_bucketed,
    )

    def pairs_df(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    store = bucketed_label_store(str(tmp_path / "labels"), n_buckets=32)
    batches = [
        # epoch 0 seeds many separate components (spread across buckets)
        [(i, i + 100) for i in range(0, 20, 2)],
        # epoch 1 bridges exactly one pair of them + adds a new cluster
        [(0, 2), (900, 901)],
        # epoch 2 is pure replay-shaped no-op input for locality check
        [(4, 104)],  # edge already implied: same component, no relabel
    ]
    for e, rows in enumerate(batches):
        update_cluster_labels_bucketed(spark, store, pairs_df(rows), e, "run1")

    got = {r["node"]: r["comp"] for r in store.read(spark).collect()}
    want = {
        r["node"]: r["comp"]
        for r in connected_components(
            pairs_df([p for b in batches for p in b])
        ).collect()
    }
    assert got == want
    assert got[102] == 0 and got[2] == 0 and got[901] == 900

    # locality: epoch 2's edge joins two nodes already in one component —
    # no component label changed, so NO bucket moved to the head version
    # (the epoch marker still committed for the replay guard)
    manifest = store.current()["manifest"]
    head = store.current()["version"]
    assert store.current()["epoch"] == 2
    assert all(v < head for v in manifest.values())
    # and the epoch-1 bridge (merging two of ten components) left the
    # untouched components' buckets at their epoch-0 version — an O(view)
    # rewrite would have moved every bucket every epoch
    assert 0 in set(manifest.values())


def test_update_cluster_labels_bucketed_replay_noop(spark, tmp_path):
    from nexus_event_stream_spark.streaming.dedup import (
        bucketed_label_store,
        update_cluster_labels_bucketed,
    )

    def pairs_df(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    store = bucketed_label_store(str(tmp_path / "labels"), n_buckets=8)
    update_cluster_labels_bucketed(spark, store, pairs_df([(1, 2)]), 0, "r")
    update_cluster_labels_bucketed(spark, store, pairs_df([(2, 3)]), 1, "r")
    ver = store.current()["version"]
    update_cluster_labels_bucketed(spark, store, pairs_df([(2, 3)]), 1, "r")
    assert store.current()["version"] == ver
    got = {r["node"]: r["comp"] for r in store.read(spark).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_streaming_hygiene_pipeline_quality_gate_plus_suppression(
    spark, store_dir
):
    """The full streaming ingest counterpart of prepare_training_corpus:
    stateless hygiene (quality gate + PII redaction) composes ONTO the
    document stream before near-dup suppression — low-quality docs never
    reach the signature store, PII never reaches the corpus, near-dups
    are suppressed cross-batch, and a restart from the same checkpoint
    neither loses nor duplicates anything."""
    from pyspark.sql import functions as F

    from nexus_event_stream_spark.operators.quality import (
        pii_redact,
        quality_signals,
    )
    from nexus_event_stream_spark.streaming.dedup import (
        read_dedup_corpus,
        start_dedup_ingest,
    )

    base = tempfile.mkdtemp(prefix="hygiene_stream_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    def hygiene(stream):
        cleaned = pii_redact(quality_signals(stream)).filter("quality_pass = 1")
        return cleaned.select(
            "doc_id", F.col("redacted").alias("text")
        )

    low_quality = "a a a a a a a a a a a a a a a a a a"  # fails dup-word rule
    with_pii = B_TEXT + " contact me at secret.address@example.org please"
    try:
        docs_df(spark, [(1, A_TEXT), (2, low_quality)]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "b0"))
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        q = start_dedup_ingest(
            spark, hygiene(stream), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # restart from the same checkpoint with more batches arriving
        docs_df(spark, [(3, A_NEAR), (4, with_pii)]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "b1"))
        stream2 = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        q2 = start_dedup_ingest(
            spark, hygiene(stream2), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        rows = {
            r.doc_id: r.text
            for r in read_dedup_corpus(spark, store_dir, corpus).collect()
        }
        # 2 failed quality, 3 suppressed as near-dup of 1; 1 and 4 kept
        assert sorted(rows) == [1, 4]
        # PII was redacted BEFORE the doc entered the corpus
        assert "<EMAIL>" in rows[4]
        assert "secret.address" not in rows[4]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_forget_signatures_removes_postings_and_stops_suppression(
    spark, store_dir
):
    """Takedown sweep: victims' postings leave the index, a near-dup of
    a forgotten doc is accepted afterwards, untouched docs keep
    suppressing, and the sweep is a no-op on absent/empty id lists."""
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=16)
    assert surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT)], 0) == [1, 2]
    # near-dup of A suppressed while A is present
    assert surviving_ids(spark, store, [(3, A_NEAR)], 1) == []
    # forget A
    assert forget_signatures(spark, store, [1]) == 1
    assert stored_doc_ids(spark, store) == {2}
    cur = store.current()
    assert cur["epoch"] == 1 and cur["run_token"] == "run1"
    # A's near-dup is accepted now; B's twin is still suppressed
    assert surviving_ids(spark, store, [(4, A_NEAR)], 2) == [4]
    assert surviving_ids(spark, store, [(5, B_TEXT)], 3) == []
    # no-ops
    assert forget_signatures(spark, store, [1]) == 0
    assert forget_signatures(spark, store, []) == 0
    # the stream keeps appending afterwards
    assert surviving_ids(spark, store, [(6, C_TEXT)], 4) == [6]
    assert 6 in stored_doc_ids(spark, store)


def test_takedown_racing_an_append_conflicts_instead_of_being_lost(
    spark, store_dir
):
    """Under the conditional-put backend, a tombstone takedown that lands
    between an append's pointer read and its commit makes the append
    fail — it must not commit the queue it read and un-forget the doc."""
    from nexus_event_stream_spark.streaming.commit import CommitConflictError
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=16, backend=ConditionalPutBackend())
    assert surviving_ids(spark, store, [(1, A_TEXT)], 0) == [1]
    inner = store._store
    real_append = inner.append_buckets

    def append_after_takedown(*args, **kwargs):
        inner.append_buckets = real_append
        assert forget_signatures(spark, store, [1]) == 1
        return real_append(*args, **kwargs)

    inner.append_buckets = append_after_takedown
    with pytest.raises(CommitConflictError):
        surviving_ids(spark, store, [(2, B_TEXT)], 1)
    cur = store.current()
    assert cur["tombstones"] == [1] and cur["epoch"] == 0
    # the retried epoch sees the takedown: A's near-dup is accepted
    assert surviving_ids(spark, store, [(2, B_TEXT), (3, A_NEAR)], 1) == [2, 3]
    assert store.current()["tombstones"] == [1]
    assert stored_doc_ids(spark, store) == {2, 3}


@pytest.mark.parametrize("fold", ["compact", "sweep"])
def test_takedown_racing_a_fold_conflicts_instead_of_being_lost(
    spark, store_dir, fold
):
    """Under the conditional-put backend, a tombstone takedown that lands
    while a fold (``compact`` or a ``mode='sweep'`` forget) is running
    makes the fold fail: the fold read its rows before the takedown, and
    committing them with a cleared queue would un-forget the doc."""
    from nexus_event_stream_spark.streaming.commit import CommitConflictError
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=16, backend=ConditionalPutBackend())
    assert surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT)], 0) == [1, 2]
    inner = store._store
    real_write = inner.write_buckets

    def write_after_takedown(*args, **kwargs):
        inner.write_buckets = real_write
        assert forget_signatures(spark, store, [1]) == 1
        return real_write(*args, **kwargs)

    def run_fold():
        if fold == "compact":
            return store.compact(spark)
        return forget_signatures(spark, store, [2], mode="sweep")

    inner.write_buckets = write_after_takedown
    with pytest.raises(CommitConflictError):
        run_fold()
    assert store.current()["tombstones"] == [1]
    assert stored_doc_ids(spark, store) == {2}
    # the retried fold reads the takedown and sweeps doc 1 physically
    run_fold()
    assert store.current()["tombstones"] == []
    assert stored_doc_ids(spark, store) == ({2} if fold == "compact" else set())
    # A's near-dup is accepted: doc 1 stays forgotten
    assert surviving_ids(spark, store, [(3, A_NEAR)], 1) == [3]


def test_vacuum_grace_window_protects_previous_pointer(spark, store_dir):
    """compact/forget sweep version dirs with a ONE-GENERATION grace
    window (the BucketedViewStore._vacuum discipline): dirs the previous
    pointer referenced survive the sweep that dereferences them — a
    concurrent reader that resolved paths from the old pointer can
    finish its read — and fall out on the NEXT sweep."""
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=8)
    surviving_ids(spark, store, [(1, A_TEXT)], 0)   # v=0
    surviving_ids(spark, store, [(2, B_TEXT)], 1)   # v=1
    versions = lambda: {
        n for n in os.listdir(store_dir) if n.startswith("v=")
    }
    assert versions() == {"v=0", "v=1"}
    store.compact(spark)                            # v=2 folds v0+v1
    # grace: v0/v1 were referenced by the previous pointer — still here
    assert versions() == {"v=0", "v=1", "v=2"}
    forget_signatures(spark, store, [2], mode="sweep")  # v=3 rewrites v2
    # second sweep: v0/v1 (no longer in any live pointer) vacuumed;
    # v2 is the new grace generation
    assert versions() == {"v=2", "v=3"}
    # state stays correct throughout
    assert stored_doc_ids(spark, store) == {1}
    assert surviving_ids(spark, store, [(9, A_NEAR)], 2) == []


def test_tombstone_forget_amortizes_signature_sweep(spark, store_dir):
    """Default forget mode: victims queue in the pointer (zero data
    writes), probes treat them as gone immediately, and ONE full
    compact() performs the physical sweep for N takedowns."""
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=16)
    assert surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT)], 0) == [1, 2]
    assert surviving_ids(spark, store, [(3, C_TEXT)], 1) == [3]
    v_before = store.current()["version"]

    # two takedowns — pointer swings only
    assert forget_signatures(spark, store, [1]) == 1
    assert forget_signatures(spark, store, [2]) == 1
    cur = store.current()
    assert cur["version"] == v_before and cur["tombstones"] == [1, 2]
    # probes see them gone immediately: near-dups of both accepted,
    # untouched doc still suppresses
    assert stored_doc_ids(spark, store) == {3}
    assert surviving_ids(spark, store, [(7, A_NEAR)], 2) == [7]
    assert surviving_ids(spark, store, [(8, B_TEXT)], 3) == [8]
    assert surviving_ids(spark, store, [(9, C_TEXT)], 4) == []
    # repeated takedown: nothing double-counted
    assert forget_signatures(spark, store, [1]) == 0
    # appends carried the queue through
    assert store.current()["tombstones"] == [1, 2]

    # one FULL compact sweeps physically and clears the queue
    store.compact(spark)
    cur2 = store.current()
    assert cur2["tombstones"] == []
    import pyspark.sql.functions as SF

    from nexus_event_stream_spark.streaming.dedup import POSTING_SCHEMA

    raw = spark.read.schema(POSTING_SCHEMA).parquet(
        *[
            os.path.join(store_dir, f"v={v}", f"__bucket={b}")
            for b, vs in cur2["manifest"].items()
            for v in (vs if isinstance(vs, list) else [vs])
        ]
    )
    assert raw.filter(SF.col("doc_id").isin([1, 2])).count() == 0
    # suppression unchanged after the sweep
    assert surviving_ids(spark, store, [(10, C_TEXT)], 5) == []


def test_partial_compact_keeps_tombstone_queue(spark, store_dir):
    """A PARTIAL compact (scheduled hot-bucket fold) must NOT clear the
    queue — victims may still hold postings in unfolded buckets."""
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = SignatureStore(store_dir, n_buckets=16)
    assert surviving_ids(spark, store, [(1, A_TEXT), (2, B_TEXT)], 0) == [1, 2]
    assert forget_signatures(spark, store, [1]) == 1
    some_bucket = sorted(store.current()["manifest"])[:1]
    store.compact(spark, buckets=some_bucket)
    assert store.current()["tombstones"] == [1]
    # still excluded from probes
    assert surviving_ids(spark, store, [(5, A_NEAR)], 1) == [5]


def test_streaming_lm_gate_composes_with_suppression(spark, store_dir):
    """The LM perplexity gate (operators/lm.lm_gate) is stateless, so it
    composes onto the streaming hygiene chain for free: injected
    gibberish never reaches the signature store or the corpus — across
    a checkpoint RESTART — while in-domain docs flow through and
    near-dup suppression still works downstream of the gate. The model
    rides each task's closure (broadcast-sized by train_char_lm's
    caps)."""
    from nexus_event_stream_spark.operators.lm import (
        lm_gate,
        perplexity_score,
        train_char_lm,
    )
    from nexus_event_stream_spark.streaming.dedup import (
        read_dedup_corpus,
        start_dedup_ingest,
    )

    in_domain = [A_TEXT, B_TEXT, C_TEXT,
                 "a quiet essay about wooden bridges and winter rivers"]
    train = spark.createDataFrame(
        list(enumerate(in_domain)), "doc_id long, text string"
    )
    model = train_char_lm(train, n=3, min_count=1)
    gibberish = "xq zvvkjq pf wjx qzkv jjj qqq zzz vkx"
    # pick the gate threshold from the measured separation — robust and
    # still a REAL discrimination check (in-domain must beat gibberish)
    probe = spark.createDataFrame(
        [(0, A_TEXT), (1, B_TEXT), (2, gibberish)], "doc_id long, text string"
    )
    ppl = {int(r.doc_id): float(r.ppl_char)
           for r in perplexity_score(probe, model).collect()}
    assert max(ppl[0], ppl[1]) < ppl[2]
    ppl_max = (max(ppl[0], ppl[1]) + ppl[2]) / 2.0

    base = tempfile.mkdtemp(prefix="lm_stream_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    def hygiene(stream):
        return lm_gate(stream, model, ppl_max=ppl_max)

    try:
        docs_df(spark, [(1, A_TEXT), (2, gibberish)]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "b0"))
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        q = start_dedup_ingest(
            spark, hygiene(stream), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # restart from the same checkpoint: more gibberish + a near-dup
        # + a clean new doc arrive
        docs_df(
            spark, [(3, gibberish + " again jjj"), (4, A_NEAR), (5, B_TEXT)]
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
        stream2 = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        q2 = start_dedup_ingest(
            spark, hygiene(stream2), store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        rows = {
            r.doc_id: r.text
            for r in read_dedup_corpus(spark, store_dir, corpus).collect()
        }
        # 2 and 3 gated (gibberish), 4 suppressed (near-dup of 1),
        # 5 suppressed (exact replay of B... no — 5 IS B_TEXT's first
        # appearance in the corpus: it survives)
        assert sorted(rows) == [1, 5]
        # gibberish never entered the SIGNATURE STORE either
        store = SignatureStore(store_dir, n_buckets=16)
        assert stored_doc_ids(spark, store) == {1, 5}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_tombstone_queue_cap_triggers_full_sweep_on_append(
    spark, store_dir, monkeypatch
):
    """Regression: the streaming path only schedules PARTIAL compacts,
    which never clear the takedown queue — MAX_TOMBSTONES makes the
    next append escalate to a FULL sweep once the queue outgrows its
    budget, so a long-running stream cannot accumulate victims (or
    probe anti-filters) without bound."""
    from nexus_event_stream_spark.streaming import projection
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    monkeypatch.setattr(projection, "MAX_TOMBSTONES", 2)
    store = SignatureStore(store_dir, n_buckets=8)
    assert surviving_ids(
        spark, store, [(1, A_TEXT), (2, B_TEXT), (3, C_TEXT)], 0
    ) == [1, 2, 3]
    for victim in (1, 2, 3):
        assert forget_signatures(spark, store, [victim]) == 1
    assert store.current()["tombstones"] == [1, 2, 3]  # over the cap of 2
    # next append escalates to the full sweep: queue clears, victims
    # physically gone, the new doc lands
    assert surviving_ids(spark, store, [(9, "a wholly novel text about gateways and queues")], 1) == [9]
    cur = store.current()
    assert cur["tombstones"] == []
    assert stored_doc_ids(spark, store) == {9}


def test_update_cluster_labels_bucketed_auto_dispatch(spark, tmp_path):
    """r13 verdict #4: the label store picks partial-vs-full rewrite by
    the touched-bucket fraction itself (the store's ``rewrite_set``, as
    for apply_batch_bucketed), instead of leaving it to the caller. The
    dispatch pin is the manifest shape: a sparse epoch leaves the cold
    buckets at the install version, a dense epoch collapses the manifest
    to the head version (full rewrite). Labels equal a full recompute
    after each."""
    from nexus_event_stream_spark.operators.dedup import connected_components
    from nexus_event_stream_spark.streaming.dedup import (
        bucketed_label_store,
        update_cluster_labels_bucketed,
    )
    from nexus_event_stream_spark.streaming.projection import _bucket_expr

    def pairs_df(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    def oracle(rows):
        return {
            r["node"]: r["comp"]
            for r in connected_components(pairs_df(rows)).collect()
        }

    install = [(i, i + 10_000) for i in range(64)]  # 64 comps, min-id=i
    store = bucketed_label_store(str(tmp_path / "labels"), n_buckets=8)
    update_cluster_labels_bucketed(spark, store, pairs_df(install), 0, "r")

    # comp → bucket, computed with the store's own hash
    bmap = {
        r["comp"]: r["b"]
        for r in store.read(spark)
        .select("comp")
        .distinct()
        .select("comp", _bucket_expr(8, "comp").alias("b"))
        .collect()
    }
    assert len(set(bmap.values())) == 8  # install covers every bucket
    by_bucket: dict[int, list[int]] = {}
    for comp, b in sorted(bmap.items()):
        by_bucket.setdefault(b, []).append(comp)
    buckets = sorted(by_bucket)

    # sparse epoch: merge two comps of ONE bucket — 1/8 touched, below
    # the 0.6 crossover, so the other seven buckets stay cold
    a, b = by_bucket[buckets[0]][:2]
    sparse = [(a, b)]
    update_cluster_labels_bucketed(spark, store, pairs_df(sparse), 1, "r")
    m1 = store.current()["manifest"]
    assert sorted(set(m1.values())) == [0, 1]
    assert sum(v == 1 for v in m1.values()) == 1
    assert {
        r["node"]: r["comp"] for r in store.read(spark).collect()
    } == oracle(install + sparse)

    # dense epoch: chain-merge one comp from each of 6 of the 8 buckets —
    # touched fraction ≥ 5/8 > 0.6, so every bucket is rewritten
    chain = [by_bucket[k][-1] for k in buckets[:6]]
    dense = list(zip(chain, chain[1:]))
    update_cluster_labels_bucketed(spark, store, pairs_df(dense), 2, "r")
    head, m2 = store.current()["version"], store.current()["manifest"]
    assert set(m2.values()) == {head}
    assert {
        r["node"]: r["comp"] for r in store.read(spark).collect()
    } == oracle(install + sparse + dense)
