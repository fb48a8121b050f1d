"""Pointer-commit backends (streaming/commit.py): the CAS contract that
makes snapshot commits safe where rename is not atomic (object stores).

The backend tests need no SparkSession — the backends are pure
pointer-file protocols. The three store-level tests at the end pin that
a stale writer conflicts instead of clobbering; crash replay through the
stores is pinned by tests/test_bucketed_crash.py under both backends.
"""

from __future__ import annotations

import os

import pytest

from nexus_event_stream_spark.streaming.commit import (
    CommitConflictError,
    ConditionalPutBackend,
    PosixRenameBackend,
)


@pytest.mark.parametrize("backend_cls", [PosixRenameBackend, ConditionalPutBackend])
def test_read_commit_roundtrip(tmp_path, backend_cls):
    b = backend_cls()
    ptr = str(tmp_path / "_CURRENT")
    assert b.read(ptr) is None
    b.commit(ptr, {"version": 0, "epoch": 0}, expected=None)
    assert b.read(ptr) == {"version": 0, "epoch": 0}
    b.commit(ptr, {"version": 1, "epoch": 1}, expected={"version": 0, "epoch": 0})
    assert b.read(ptr) == {"version": 1, "epoch": 1}


def test_conditional_put_rejects_stale_expected(tmp_path):
    """The lost-update anomaly surfaces as CommitConflictError: writer B
    read version 0, writer A committed version 1 meanwhile — B's commit
    must be rejected and the pointer left at A's value."""
    b = ConditionalPutBackend()
    ptr = str(tmp_path / "_CURRENT")
    b.commit(ptr, {"version": 0}, expected=None)
    stale = b.read(ptr)
    b.commit(ptr, {"version": 1}, expected=stale)  # writer A wins
    with pytest.raises(CommitConflictError):
        b.commit(ptr, {"version": 1, "writer": "B"}, expected=stale)
    assert b.read(ptr) == {"version": 1}


def test_conditional_put_rejects_create_over_existing(tmp_path):
    """expected=None means 'must not exist yet' — two initializers racing
    to create the same store cannot both win."""
    b = ConditionalPutBackend()
    ptr = str(tmp_path / "_CURRENT")
    b.commit(ptr, {"version": 0}, expected=None)
    with pytest.raises(CommitConflictError):
        b.commit(ptr, {"version": 0, "writer": "B"}, expected=None)


def test_conditional_put_releases_lock_after_conflict(tmp_path):
    """A rejected commit must not leave the sidecar lock behind (that
    would wedge every later writer until timeout)."""
    b = ConditionalPutBackend()
    ptr = str(tmp_path / "_CURRENT")
    b.commit(ptr, {"version": 0}, expected=None)
    with pytest.raises(CommitConflictError):
        b.commit(ptr, {"version": 9}, expected={"version": 7})
    assert not os.path.exists(ptr + ".lock")
    # and the next well-formed commit goes straight through
    b.commit(ptr, {"version": 1}, expected={"version": 0})
    assert b.read(ptr) == {"version": 1}


def test_conditional_put_lock_contention_times_out(tmp_path):
    """A crashed writer that left its lock behind blocks others only
    until the bounded timeout, then surfaces as a retryable conflict."""
    b = ConditionalPutBackend(lock_timeout=0.1, poll=0.01)
    ptr = str(tmp_path / "_CURRENT")
    with open(ptr + ".lock", "w"):
        pass  # orphaned lock from a dead writer
    with pytest.raises(CommitConflictError):
        b.commit(ptr, {"version": 0}, expected=None)


def test_store_level_conflict_surfaces_not_clobbers(tmp_path, spark):
    """Two ParquetViewStore writers on the same path under CAS: the
    writer holding a stale snapshot gets CommitConflictError instead of
    silently overwriting the other's commit (the S3 deployment bug the
    backend exists to prevent)."""
    from nexus_event_stream_spark.streaming.projection import ParquetViewStore

    path = str(tmp_path / "view")
    a = ParquetViewStore(path, backend=ConditionalPutBackend())
    b = ParquetViewStore(path, backend=ConditionalPutBackend())
    df = spark.range(3).selectExpr("cast(id as string) id")

    a.write(df.limit(1), epoch=0, run_token="A")
    ver_a = a.current()["version"]

    # b read the store before a's second write, then commits after it
    stale = b.current()
    a.write(df.limit(2), epoch=1, run_token="A")
    with pytest.raises(CommitConflictError):
        b.backend.commit(
            b._pointer_path(), {"version": 99, "epoch": 0}, expected=stale
        )
    assert a.current()["version"] == ver_a + 1  # a's commit intact


def test_bm25_takedown_racing_an_append_conflicts_instead_of_being_lost(
    tmp_path, spark
):
    """Under CAS, a BM25 tombstone takedown that lands between an
    append's pointer read and its commit makes the append fail: the
    append built its counters and tombstone queue from the pointer it
    read, and committing them would un-forget the doc."""
    from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=ConditionalPutBackend()
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    store.apply_batch(spark, docs([(1, "alpha beta"), (2, "gamma delta")]), 0, "r")
    inner = store._store
    real_append = inner.append_buckets

    def append_after_takedown(*args, **kwargs):
        inner.append_buckets = real_append
        assert store.forget(spark, [1]) == 1
        return real_append(*args, **kwargs)

    inner.append_buckets = append_after_takedown
    with pytest.raises(CommitConflictError):
        store.apply_batch(spark, docs([(3, "alpha epsilon")]), 1, "r")
    cur = store.current()
    assert cur["tombstones"] == [1] and cur["n_docs"] == 1 and cur["epoch"] == 0
    # the retried epoch keeps the takedown: doc 1 stays forgotten
    store.apply_batch(spark, docs([(3, "alpha epsilon")]), 1, "r")
    cur = store.current()
    assert cur["tombstones"] == [1] and cur["n_docs"] == 2 and cur["epoch"] == 1
    hits = store.query(spark, [(0, "alpha")])
    assert {r["doc_id"] for r in hits.collect()} == {3}


def test_bloom_sidecar_commit_racing_a_rival_conflicts_instead_of_losing_bits(
    tmp_path, spark, monkeypatch
):
    """Under CAS, a rival writer's Bloom sidecar commit that lands
    between a writer's sidecar read and its own sidecar commit makes the
    writer fail: it OR-merged its digests into the filter it read, and
    committing that would drop the rival's bits — a filter missing
    accepted keys admits duplicates."""
    from nexus_event_stream_spark.streaming import bloom_dedup
    from nexus_event_stream_spark.streaming.bloom_dedup import (
        exact_store,
        exact_suppress_and_register,
        read_bloom,
    )

    path = str(tmp_path / "exact")
    a = exact_store(path, n_buckets=8, backend=ConditionalPutBackend())
    b = exact_store(path, n_buckets=8, backend=ConditionalPutBackend())

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    exact_suppress_and_register(spark, a, docs([(1, "alpha")]), 0, "A")
    real_build = bloom_dedup.bloom_build
    rival_words = []

    def build_after_rival(*args, **kwargs):
        monkeypatch.setattr(bloom_dedup, "bloom_build", real_build)
        exact_suppress_and_register(spark, b, docs([(2, "beta")]), 1, "B")
        rival_words.append(read_bloom(b).words)
        return real_build(*args, **kwargs)

    monkeypatch.setattr(bloom_dedup, "bloom_build", build_after_rival)
    with pytest.raises(CommitConflictError):
        exact_suppress_and_register(spark, a, docs([(3, "gamma")]), 1, "A")
    # the rival's bits survive; the refused writer committed nothing
    assert rival_words and read_bloom(a).words == rival_words[0]
    assert a.current()["epoch"] == 1 and a.current()["run_token"] == "B"
