"""Serving API contracts — mirrors handler/signal_test.go + client_test.go
behavioral cases (empty list, seeded order, priority filter + no-match,
404 analogue, health).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import sys
import threading
import time

import pytest

from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.serving import (
    DirectoryService,
    NotFoundError,
    SignalService,
)
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

UTC = dt.timezone.utc


def seed_store(spark, tmp_path, rows):
    store = ParquetViewStore(str(tmp_path / "view"))
    if rows is not None:
        df = spark.createDataFrame(rows, STATE_SCHEMA)
        store.write(df, epoch=0)
    return store


def vrow(id_, priority="High", day=23):
    ts = dt.datetime(2026, 2, day, 18, 0, tzinfo=UTC)
    return ("created", id_, "title-" + id_, "c", priority, "otavio", ts, ts)


def test_empty_view_lists_empty(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, None))
    assert json.loads(svc.list()) == []
    assert svc.health()["view_exists"] is False


def test_list_newest_first_capped_50(spark, tmp_path):
    rows = [vrow(f"s{i:03d}", day=(i % 27) + 1) for i in range(60)]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    out = json.loads(svc.list())
    assert len(out) == 50  # handler/signal.go:45 hard cap
    created = [dt.datetime.fromisoformat(r["created_at"]) for r in out]
    assert created == sorted(created, reverse=True)


def test_priority_filter_and_unknown_empty(spark, tmp_path):
    rows = [vrow("s1", "High"), vrow("s2", "Low")]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    assert [r["id"] for r in json.loads(svc.list(priority="High"))] == ["s1"]
    # unknown priority → empty list, not an error (signal.go:21-25,84-96)
    assert json.loads(svc.list(priority="Bogus")) == []


def test_priority_filter_is_uncapped(spark, tmp_path):
    # ListByPriority (projection/signal.go:84-96) is ByScore with no 0-49
    # range: ALL matches come back, ascending member order; only the
    # unfiltered list carries the 50-row cap (handler/signal.go:45).
    rows = [vrow(f"s{i:03d}", "High", day=(i % 27) + 1) for i in range(60)]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    out = json.loads(svc.list(priority="High"))
    assert len(out) == 60
    ids = [r["id"] for r in out]
    assert ids == sorted(ids)  # member-lex ascending, ZSet semantics
    assert len(json.loads(svc.list())) == 50


def test_users_groups_listings(spark):
    # views.py:7-15: users newest-joined-first, groups by name desc.
    users = spark.createDataFrame(
        [
            ("alice", dt.datetime(2026, 1, 2)),
            ("bob", dt.datetime(2026, 1, 3)),
            ("carol", dt.datetime(2026, 1, 1)),
        ],
        "username string, date_joined timestamp",
    )
    groups = spark.createDataFrame(
        [("dev",), ("sec",), ("ops",)], "name string"
    )
    d = DirectoryService(users, groups)
    assert [r["username"] for r in d.users()] == ["bob", "alice", "carol"]
    assert [r["name"] for r in d.groups()] == ["sec", "ops", "dev"]


def test_point_lookup_and_404(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, [vrow("s1")]))
    assert json.loads(svc.get("s1"))["title"] == "title-s1"
    with pytest.raises(NotFoundError):
        svc.get("ghost")


def test_health_counts(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, [vrow("s1"), vrow("s2")]))
    h = svc.health()
    assert h["status"] == "ok" and h["rows"] == 2


def _utc(ts: str) -> dt.datetime:
    """A wire timestamp (session time zone UTC, no offset) as aware UTC."""
    return dt.datetime.fromisoformat(ts).replace(tzinfo=UTC)


def _spark_jobs(spark, group, call):
    """(result of ``call()``, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_wire_contract_one_job_per_read(spark, tmp_path):
    """The JSON text ``list``/``get`` return is the HTTP body as sent:
    nulls kept, microsecond timestamps, newest-50 with id-desc ties, the
    uncapped id-ascending filter, the 404 analogue — each read ONE job."""
    ts = dt.datetime(2026, 2, 23, 18, 0, 0, 123456, tzinfo=UTC)
    rows = []
    for i in range(70):
        # rows come in threes sharing one created_at: ties to break by id
        created = ts - dt.timedelta(seconds=i // 3, microseconds=7 * (i // 3))
        rows.append(
            (
                "created",
                f"s{i:03d}",
                f"title-{i}",
                "c",
                ("High", "Low", "Medium")[i % 3],
                None if i % 7 == 0 else "otavio",
                created,
                created + dt.timedelta(microseconds=1),
            )
        )
    store = ParquetViewStore(str(tmp_path / "view"))
    store.write(
        spark.createDataFrame(rows, STATE_SCHEMA).repartition(3), epoch=0
    )
    assert len(glob.glob(f"{store.path}/v=0/*.parquet")) >= 2
    svc = SignalService(spark, store)
    want = {r[1]: r for r in rows}

    body, jobs = _spark_jobs(spark, "wire-list", svc.list)
    assert len(jobs) == 1
    out = json.loads(body)
    newest = sorted(rows, key=lambda r: (r[6], r[1]), reverse=True)[:50]
    assert [r["id"] for r in out] == [r[1] for r in newest]
    for got in out:
        row = want[got["id"]]
        assert "author" in got and got["author"] == row[5]
        assert _utc(got["created_at"]) == row[6]
        assert _utc(got["updated_at"]) == row[7]

    body, jobs = _spark_jobs(
        spark, "wire-filter", lambda: svc.list(priority="Low")
    )
    assert len(jobs) == 1
    assert [r["id"] for r in json.loads(body)] == sorted(
        r[1] for r in rows if r[4] == "Low"
    )
    body, jobs = _spark_jobs(
        spark, "wire-unknown", lambda: svc.list(priority="Urgent")
    )
    assert len(jobs) == 1 and json.loads(body) == []

    body, jobs = _spark_jobs(spark, "wire-get", lambda: svc.get("s014"))
    assert len(jobs) == 1
    got = json.loads(body)
    assert got["author"] is None and got["title"] == "title-14"
    assert _utc(got["created_at"]) == want["s014"][6]
    with pytest.raises(NotFoundError):
        svc.get("ghost")


def test_concurrent_reads_follow_commits(spark, tmp_path):
    """Handler threads share the per-version view plan: under commits
    every read serves one whole committed snapshot, and once the writer
    stops every read serves the last one."""
    snaps = [[f"v{k}-{i}" for i in range(3 + k)] for k in range(4)]

    def commit(store, k):
        store.write(
            spark.createDataFrame([vrow(i) for i in snaps[k]], STATE_SCHEMA),
            epoch=k,
        )

    store = ParquetViewStore(str(tmp_path / "view"))
    commit(store, 0)
    svc = SignalService(spark, store)
    seen, errors, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(
                    sorted(r["id"] for r in json.loads(svc.list(priority="High")))
                )
            except Exception as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(6)]
    try:
        for t in threads:
            t.start()
        for k in range(1, len(snaps)):
            # the store keeps current + previous snapshot: a read must not
            # span two commits, so the writer leaves each one standing a bit
            time.sleep(0.2)
            commit(store, k)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert seen and all(ids in [sorted(s) for s in snaps] for ids in seen)
    assert sorted(r["id"] for r in json.loads(svc.list())) == sorted(snaps[-1])
