"""Streaming-projection → Z-ordered serving layout composition
(streaming/serving_layout.py): the write-optimized hash-bucketed store
feeds a periodic OPTIMIZE into the read-optimized clustered layout, and
the reference's two serving reads (top-50 newest, priority equality) run
through manifest pruning — fewer files touched than the raw store, with
results hash-identical to the live view."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.schemas import EVENT_SCHEMA
from nexus_event_stream_spark.streaming.projection import (
    BucketedViewStore,
    apply_batch_bucketed,
)
from nexus_event_stream_spark.streaming.commit import (
    CommitConflictError,
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.serving_layout import (
    publish_serving_snapshot,
    resolve_serving_dir,
    serve_filter_priority,
    serve_list_newest,
)

TS = dt.datetime(2026, 2, 23, 15, 0, tzinfo=dt.timezone.utc)
PRIORITIES = ["Low", "Medium", "High"]


def _batch(spark, lo, n, minute0):
    rows = []
    for i in range(lo, lo + n):
        t = TS + dt.timedelta(minutes=minute0 + (i - lo))
        rows.append(
            (
                "updated",
                f"sig-{i:05d}",
                f"title-{i}",
                "content",
                PRIORITIES[i % 3],
                f"user-{i % 7}",
                t,
                t,
            )
        )
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def _store_data_files(store_path):
    out = []
    for root, _dirs, files in os.walk(store_path):
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


@pytest.fixture(
    scope="module",
    params=[PosixRenameBackend, ConditionalPutBackend],
    ids=["posix", "cas"],
)
def published(request, spark, tmp_path_factory):
    backend = request.param()
    base = tmp_path_factory.mktemp("serving")
    store = BucketedViewStore(str(base / "store"), n_buckets=16)
    # stream 4 epochs in (640 keys + 160 updates), then one delete epoch
    for e in range(4):
        apply_batch_bucketed(
            spark, store, _batch(spark, e * 200, 200, e * 300), e, "run"
        )
    deletes = spark.createDataFrame(
        [
            ("deleted", f"sig-{i:05d}", None, None, None, None, None,
             TS + dt.timedelta(days=2))
            for i in range(0, 100, 7)
        ],
        EVENT_SCHEMA,
    )
    apply_batch_bucketed(spark, store, deletes, 4, "run")
    path = str(base / "layout")
    rep = publish_serving_snapshot(spark, store, path, n_files=16, backend=backend)
    assert rep["published"] is True
    assert rep["serving_version"] == 1
    return store, path, backend


def test_republish_unchanged_store_is_noop(spark, published):
    store, path, backend = published
    rep = publish_serving_snapshot(spark, store, path, n_files=16, backend=backend)
    assert rep["published"] is False
    assert rep["serving_version"] == 1


def test_list_newest_prunes_and_matches_live_view(spark, published):
    store, path, backend = published
    got, stats = serve_list_newest(spark, path, k=50)
    got_rows = [(r["id"], r["title"], r["created_at"]) for r in got.collect()]
    # oracle: the same top-50 straight off the live view
    live = store.read_live(spark)
    want_rows = [
        (r["id"], r["title"], r["created_at"])
        for r in live.orderBy(F.col("created_at").desc(), F.col("id"))
        .limit(50)
        .collect()
    ]
    assert got_rows == want_rows  # hash-identical, order included
    # the clustered layout serves the read from a file subset; the raw
    # hash-bucketed store scatters time across EVERY bucket file
    assert stats["files_read"] < stats["files_total"]
    assert stats["files_read"] < len(_store_data_files(store.path))
    # deleted keys never surface
    assert all(not r[0].endswith("-00000") or r[0] != "sig-00000" for r in got_rows)


def test_filter_priority_prunes_and_matches_live_view(spark, published):
    store, path, backend = published
    live = store.read_live(spark)
    for p in PRIORITIES:
        got, stats = serve_filter_priority(spark, path, p)
        got_ids = sorted(r["id"] for r in got.collect())
        want_ids = sorted(
            r["id"] for r in live.filter(F.col("priority") == p).collect()
        )
        assert got_ids == want_ids, p
        assert stats["files_read"] < stats["files_total"], p
        assert stats["files_read"] < len(_store_data_files(store.path)), p
    # unknown display value → code 0 → empty (the preserved Go quirk)
    got, _ = serve_filter_priority(spark, path, "Critical")
    assert got.count() == 0


def test_topk_bound_is_sound_on_every_k(spark, published):
    from nexus_event_stream_spark.operators.clustering import topk_prune_bound

    store, path, backend = published
    live = store.read_live(spark)
    n_live = live.count()
    for k in (1, 10, 200, n_live, n_live + 50):
        got, _ = serve_list_newest(spark, path, k=k)
        want = live.orderBy(F.col("created_at").desc(), F.col("id")).limit(k)
        assert [r["id"] for r in got.collect()] == [
            r["id"] for r in want.collect()
        ], k
    # beyond the table, the bound must admit everything (None → full scan)
    assert topk_prune_bound(resolve_serving_dir(path, backend), "created_at", n_live * 2) is None


def test_streaming_scheduled_publish(spark, tmp_path):
    """The maintenance hook wired into start_projection: a bucketed
    projection stream publishes the serving layout every
    ``publish_every`` epochs inline — command log in, pruned reference
    reads out, no separate batch job."""
    import pytest

    from nexus_event_stream_spark.command import SignalCommands
    from nexus_event_stream_spark.sources.streams import (
        file_event_stream,
        parse_events,
    )
    from nexus_event_stream_spark.streaming.projection import (
        BucketedViewStore,
        start_projection,
    )

    log_dir = str(tmp_path / "log")
    cmds = SignalCommands(log_dir, author="otavio")
    ids = [
        cmds.create(f"sig {i}", f"content {i}", priority=(i % 3) + 1)
        for i in range(30)
    ]
    cmds.delete(ids[0])

    events = parse_events(file_event_stream(spark, log_dir))
    view_path = str(tmp_path / "view")
    serving_path = str(tmp_path / "serving")
    q = start_projection(
        spark,
        events,
        view_path,
        str(tmp_path / "ckpt"),
        bucketed=True,
        n_buckets=8,
        serving_path=serving_path,
        publish_every=1,  # file source → one epoch; publish on it
    )
    q.processAllAvailable()
    q.stop()

    store = BucketedViewStore(view_path, n_buckets=8)
    live = store.read_live(spark)
    got, stats = serve_list_newest(spark, serving_path, k=10)
    want = [
        r["id"]
        for r in live.orderBy(F.col("created_at").desc(), F.col("id"))
        .limit(10)
        .collect()
    ]
    assert [r["id"] for r in got.collect()] == want
    assert ids[0] not in {r["id"] for r in got.collect()}  # tombstone folded
    got_p, _ = serve_filter_priority(spark, serving_path, "High")
    assert sorted(r["id"] for r in got_p.collect()) == sorted(
        r["id"] for r in live.filter(F.col("priority") == "High").collect()
    )

    # serving_path without bucketed mode is a config error
    with pytest.raises(ValueError, match="bucketed"):
        start_projection(
            spark, events, view_path, str(tmp_path / "ckpt2"),
            serving_path=serving_path,
        )


def test_reader_holding_old_pointer_survives_republish(spark, published):
    """The VERDICT r7 atomicity pin: a reader that resolved the pointer
    BEFORE a republish reads a complete, consistent layout while (and
    after) the new snapshot lands — the publish writes an attempt-unique
    dir and swings the pointer last, and vacuum keeps the previous dir."""
    store, path, backend = published
    old_dir = resolve_serving_dir(path, backend)
    old_rows = sorted(
        (r["id"], r["title"]) for r in spark.read.parquet(old_dir).collect()
    )
    # advance the store so the publish is not the no-op path
    apply_batch_bucketed(
        spark, store, _batch(spark, 2000, 50, 5000), 10, "run2"
    )
    rep = publish_serving_snapshot(spark, store, path, n_files=16, backend=backend)
    assert rep["published"] is True
    new_dir = resolve_serving_dir(path, backend)
    assert new_dir != old_dir
    # the old layout is still intact for the in-flight reader...
    assert os.path.isdir(old_dir)
    assert sorted(
        (r["id"], r["title"]) for r in spark.read.parquet(old_dir).collect()
    ) == old_rows
    # ...and fresh reads through the pointer see the NEW live view exactly
    live = store.read_live(spark)
    got, _ = serve_list_newest(spark, path, k=50)
    want = [
        r["id"]
        for r in live.orderBy(F.col("created_at").desc(), F.col("id"))
        .limit(50)
        .collect()
    ]
    assert [r["id"] for r in got.collect()] == want

    # a THIRD publish vacuums the oldest dir but keeps its own previous
    apply_batch_bucketed(
        spark, store, _batch(spark, 3000, 50, 6000), 11, "run2"
    )
    rep3 = publish_serving_snapshot(spark, store, path, n_files=16, backend=backend)
    assert rep3["published"] is True
    assert not os.path.isdir(old_dir)  # superseded twice → reclaimed
    assert os.path.isdir(new_dir)  # immediately-previous → kept
    vdirs = [n for n in os.listdir(path) if n.startswith("v=")]
    assert len(vdirs) == 2


def test_concurrent_publisher_conflict_is_explicit(spark, tmp_path):
    """Under the CAS backend a publisher working from a stale pointer
    gets CommitConflictError instead of clobbering the committed layout,
    and its orphaned attempt dir is removed before the raise."""

    class _StaleReadBackend(ConditionalPutBackend):
        # simulates the race: this publisher read the pointer before the
        # winning publisher committed, so its expected= is stale
        def __init__(self, stale):
            super().__init__()
            self._stale = stale

        def read(self, path):
            # first read (the publisher's snapshot of the pointer) is
            # stale; the commit-time CAS re-read sees the real pointer
            if self._stale is not None:
                stale, self._stale = self._stale, None
                return stale
            return super().read(path)

    backend = ConditionalPutBackend()
    store = BucketedViewStore(str(tmp_path / "store"), n_buckets=8)
    apply_batch_bucketed(spark, store, _batch(spark, 0, 60, 0), 0, "run")
    path = str(tmp_path / "layout")
    publish_serving_snapshot(spark, store, path, n_files=4, backend=backend)
    stale = backend.read(os.path.join(path, "_serving_pointer.json"))

    apply_batch_bucketed(spark, store, _batch(spark, 100, 30, 100), 1, "run")
    publish_serving_snapshot(spark, store, path, n_files=4, backend=backend)
    winner = backend.read(os.path.join(path, "_serving_pointer.json"))
    assert winner["serving_version"] == 2

    apply_batch_bucketed(spark, store, _batch(spark, 200, 30, 200), 2, "run")
    with pytest.raises(CommitConflictError):
        publish_serving_snapshot(
            spark, store, path, n_files=4, backend=_StaleReadBackend(stale)
        )
    # committed state untouched; the loser's attempt dir reclaimed
    assert backend.read(os.path.join(path, "_serving_pointer.json")) == winner
    vdirs = [n for n in os.listdir(path) if n.startswith("v=")]
    assert sorted(vdirs) == sorted(
        d for d in {winner["dir"], winner["prev_dir"]} if d
    )
    got, _ = serve_list_newest(spark, path, k=10, backend=backend)
    assert got.count() == 10


def test_racing_reader_never_sees_partial_layout(spark, tmp_path):
    """True interleaving, not just sequenced pins: a reader thread
    resolves + fully reads the serving layout in a tight loop while the
    main thread republishes repeatedly. Every read must return a
    COMPLETE layout — the row count of some committed store version,
    never a half-written directory (the pre-r8 in-place overwrite failed
    exactly this)."""
    import threading

    store = BucketedViewStore(str(tmp_path / "store"), n_buckets=8)
    apply_batch_bucketed(spark, store, _batch(spark, 0, 120, 0), 0, "run")
    path = str(tmp_path / "layout")
    publish_serving_snapshot(spark, store, path, n_files=8)

    # committed row counts per published version: 120, then +40 each
    valid_counts = {120, 160, 200, 240}
    errors: list = []
    seen: set = set()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                d = resolve_serving_dir(path)
                n = spark.read.parquet(d).count()
                seen.add(n)
                if n not in valid_counts:
                    errors.append(f"partial layout observed: {n} rows")
                    return
            except Exception as exc:  # noqa: BLE001 — any read failure is a bug
                errors.append(repr(exc))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i in range(3):
            apply_batch_bucketed(
                spark, store, _batch(spark, 1000 + i * 40, 40, 100 + i), i + 1, "run"
            )
            publish_serving_snapshot(spark, store, path, n_files=8)
    finally:
        stop.set()
        t.join(timeout=30)
    assert not errors, errors
    assert seen & valid_counts  # the reader actually read something
