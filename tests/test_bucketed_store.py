"""BucketedViewStore: manifest-tracked partial-rewrite projection.

The scale contract under test: an epoch rewrites ONLY the key-hash
buckets its batch touches (manifest stitches old and new versions), while
remaining behaviorally identical to the full-snapshot store — same LWW
fold, same delete/tombstone semantics, same idempotent-epoch guard.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.lww import latest_live_state
from nexus_event_stream_spark.schemas import EVENT_SCHEMA
from nexus_event_stream_spark.streaming.projection import (
    BucketedViewStore,
    apply_batch_bucketed,
)

TS = dt.datetime(2026, 2, 23, 15, 0, tzinfo=dt.timezone.utc)


def ev(action, id_, minute, title="t"):
    t = TS + dt.timedelta(minutes=minute)
    return (action, id_, title, "c", "High", "otavio", t, t)


def df_of(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def collect_view(spark, store):
    view = store.read_live(spark)
    return (
        {}
        if view is None
        else {r["id"]: (r["title"], r["updated_at"]) for r in view.collect()}
    )


@pytest.fixture(params=["rename", "cas"])
def store(tmp_path, request):
    """Every bucketed-store contract runs under BOTH commit backends:
    POSIX rename (the sandbox default) and the conditional-put twin of
    an object-store deployment (streaming/commit.py)."""
    from nexus_event_stream_spark.streaming.commit import (
        ConditionalPutBackend,
        PosixRenameBackend,
    )

    backend = (
        PosixRenameBackend()
        if request.param == "rename"
        else ConditionalPutBackend()
    )
    return BucketedViewStore(str(tmp_path / "view"), n_buckets=8, backend=backend)


def test_matches_full_refold_across_batches(spark, store):
    batches = [
        [ev("created", f"k{i}", i) for i in range(6)],
        [ev("updated", "k1", 10), ev("deleted", "k2", 11), ev("created", "k9", 12)],
        [ev("updated", "k9", 20, title="t2"), ev("created", "k2", 5)],  # stale revive
    ]
    for i, rows in enumerate(batches):
        apply_batch_bucketed(spark, store, df_of(spark, rows), epoch=i, run_token="r")
    all_events = df_of(spark, [r for b in batches for r in b])
    want = {
        r["id"]: (r["title"], r["updated_at"])
        for r in latest_live_state(
            all_events, key=["id"], tiebreak=["created_at", "title"]
        ).collect()
    }
    assert collect_view(spark, store) == want
    # k2: delete at minute 11 beats the out-of-order create at minute 5
    assert "k2" not in collect_view(spark, store)


def test_untouched_buckets_not_rewritten(spark, store):
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("created", f"k{i}", i) for i in range(20)]),
        epoch=0, run_token="r",
    )
    m0 = store.current()["manifest"]
    assert set(m0.values()) == {0}
    # one-key batch → exactly one bucket moves to v1, the rest stay at v0
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("updated", "k3", 30)]), epoch=1, run_token="r"
    )
    m1 = store.current()["manifest"]
    moved = {b for b in m1 if m1[b] != m0.get(b)}
    assert len(moved) == 1
    assert all(m1[b] == m0[b] for b in m1 if b not in moved)
    # the v0 directories still referenced by the manifest must survive vacuum
    assert os.path.isdir(os.path.join(store.path, "v=0"))
    assert collect_view(spark, store)["k3"][1].minute == 30


def test_epoch_replay_is_noop_within_run(spark, store):
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("created", "a", 1)]), epoch=0, run_token="r"
    )
    v = store.current()["version"]
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("updated", "a", 9)]), epoch=0, run_token="r"
    )
    assert store.current()["version"] == v  # replayed epoch skipped
    # a NEW run with the same epoch ids re-applies (idempotent, not lost)
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("updated", "a", 9)]), epoch=0, run_token="r2"
    )
    assert collect_view(spark, store)["a"][1].minute == 9


def test_vacuum_drops_only_unreferenced_versions(spark, store):
    for i in range(4):
        apply_batch_bucketed(
            spark, store, df_of(spark, [ev("updated", "hot", i)]), epoch=i,
            run_token="r",
        )
    cur = store.current()
    refs = set(cur["manifest"].values()) | set(cur["prev_refs"]) | {cur["version"]}
    on_disk = {
        int(n.split("=")[1]) for n in os.listdir(store.path) if n.startswith("v=")
    }
    assert on_disk == {v for v in on_disk if v in refs}
    # every manifest-referenced path is readable
    assert collect_view(spark, store)["hot"][1].minute == 3


def test_compaction_rewrites_only_dirty_buckets(spark, store):
    from nexus_event_stream_spark.streaming.projection import (
        compact_tombstones_bucketed,
    )

    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("created", f"k{i}", i) for i in range(20)]),
        epoch=0, run_token="r",
    )
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("deleted", "k7", 25)]), epoch=1, run_token="r"
    )
    before = store.current()["manifest"]
    # horizon after the delete → the k7 tombstone is collectable
    v = compact_tombstones_bucketed(spark, store, TS + dt.timedelta(minutes=60))
    assert v is not None
    after = store.current()["manifest"]
    moved = {b for b in set(before) | set(after) if after.get(b) != before.get(b)}
    assert len(moved) == 1  # only the tombstone's bucket was rewritten
    state = store.read(spark)
    assert state.filter(F.col("id") == "k7").count() == 0  # tombstone gone
    assert len(collect_view(spark, store)) == 19  # live rows untouched
    # nothing left to collect → no-op, no new version
    assert compact_tombstones_bucketed(
        spark, store, TS + dt.timedelta(minutes=60)
    ) is None


def test_delete_only_batch_leaves_tombstone_not_live_row(spark, store):
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("created", "x", 1)]), epoch=0, run_token="r"
    )
    apply_batch_bucketed(
        spark, store, df_of(spark, [ev("deleted", "x", 2)]), epoch=1, run_token="r"
    )
    assert "x" not in collect_view(spark, store)
    # tombstone retained in state (delete-then-stale-create must not revive)
    state = store.read(spark)
    row = state.filter(F.col("id") == "x").first()
    assert row is not None and row["action"] == "deleted"


def test_crossover_auto_selects_and_matches_oracle(spark, tmp_path):
    """The replay800k crossover as a contract: the store picks the
    partial rewrite on a sparse epoch and the full rewrite on a dense one
    (pinned via manifest shape), and the committed view equals an oracle
    fold of every event."""
    batches = [
        [ev("created", f"k{i}", i) for i in range(24)],     # dense seed
        [ev("updated", "k3", 40)],                           # sparse: 1 key
        [ev("updated", f"k{i}", 50 + i) for i in range(24)], # dense again
        [ev("deleted", "k5", 90), ev("created", "k99", 91)], # sparse
    ]
    s = BucketedViewStore(str(tmp_path / "view"), n_buckets=8)
    apply_batch_bucketed(spark, s, df_of(spark, batches[0]), 0, "r")
    m0 = dict(s.current()["manifest"])
    assert set(m0.values()) == {0}
    # sparse epoch → partial side: untouched buckets keep version 0
    apply_batch_bucketed(spark, s, df_of(spark, batches[1]), 1, "r")
    m1 = dict(s.current()["manifest"])
    assert 0 in set(m1.values()) and 1 in set(m1.values())
    moved = [b for b in m1 if m1[b] != m0.get(b)]
    assert len(moved) == 1
    # dense epoch → full side: every bucket collapses to the new version
    apply_batch_bucketed(spark, s, df_of(spark, batches[2]), 2, "r")
    m2 = dict(s.current()["manifest"])
    assert set(m2.values()) == {2}
    # sparse again: the cold buckets keep the dense epoch's version
    apply_batch_bucketed(spark, s, df_of(spark, batches[3]), 3, "r")
    m3 = dict(s.current()["manifest"])
    assert set(m3.values()) == {2, 3}

    all_events = df_of(spark, [r for b in batches for r in b])
    want = {
        r["id"]: (r["title"], r["updated_at"])
        for r in latest_live_state(
            all_events, key=["id"], tiebreak=["created_at", "title"]
        ).collect()
    }
    assert collect_view(spark, s) == want
    assert "k5" not in want and "k99" in want


def _jobs(spark, group, call):
    """(result of ``call()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rewrite_decisions_are_logged_at_zero_jobs(
    spark, tmp_path, caplog, monkeypatch
):
    """``rewrite_set`` and every fold emit ONE decision record: the
    touched and rewritten buckets, partial or full, whether the takedown
    queue cleared, and the trigger. The records cost no Spark job: the
    same fold on two identical stores runs as many jobs with the records
    off as with them on, and ``rewrite_set`` runs none."""
    import logging

    from nexus_event_stream_spark.streaming import projection

    log = projection.logger.name

    def records():
        out = [r.rewrite for r in caplog.records if hasattr(r, "rewrite")]
        caplog.clear()
        return out

    def seg_store(name):
        s = BucketedViewStore(
            str(tmp_path / name), n_buckets=4,
            schema="k string, doc_id long", key_col="k", id_col="doc_id",
        )
        for e in range(2):
            rows = [(f"k{i}", 10 * e + i) for i in range(6)]
            s.append_buckets(spark.createDataFrame(rows, s.schema), None, e, "r")
        s.forget(spark, [0])
        return s

    a, b = seg_store("a"), seg_store("b")
    caplog.set_level(logging.INFO, logger=log)
    caplog.clear()

    touched, jobs = _jobs(spark, "rewrite-set", lambda: a.rewrite_set([1]))
    assert touched == [1] and jobs == 0
    assert records() == [{
        "store": a.path, "touched": [1], "rewritten": [1], "shape": "partial",
        "queue_cleared": False, "trigger": "epoch",
    }]
    assert a.rewrite_set([0, 1, 2]) == [0, 1, 2, 3]
    assert records()[0]["shape"] == "full"

    with caplog.at_level(logging.WARNING, logger=log):
        _, jobs_off = _jobs(spark, "fold-off", lambda: a.compact(spark))
    assert records() == []
    _, jobs_on = _jobs(spark, "fold-on", lambda: b.compact(spark))
    assert jobs_on == jobs_off > 0
    buckets = sorted(int(k) for k in b.current()["manifest"])
    assert records() == [{
        "store": b.path, "touched": buckets, "rewritten": buckets,
        "shape": "full", "queue_cleared": True, "trigger": "compact",
    }]

    # the append-time triggers, and a sweep
    monkeypatch.setattr(projection, "MAX_SEGMENTS", 1)
    b.append_buckets(spark.createDataFrame([("k1", 99)], b.schema), None, 2, "r")
    (rec,) = records()
    assert rec["trigger"] == "segments" and rec["shape"] == "partial"
    assert rec["touched"] == rec["rewritten"] and len(rec["touched"]) == 1
    monkeypatch.setattr(projection, "MAX_SEGMENTS", 8)
    monkeypatch.setattr(projection, "MAX_TOMBSTONES", 0)
    b.forget(spark, [1])
    b.append_buckets(spark.createDataFrame([("k2", 98)], b.schema), None, 3, "r")
    (rec,) = records()
    assert rec["trigger"] == "tombstones" and rec["queue_cleared"] is True
    assert b.forget(spark, [2], mode="sweep") == 1
    (rec,) = records()
    assert rec["trigger"] == "forget" and rec["shape"] == "full"
