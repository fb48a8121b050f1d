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
from pyspark import InheritableThread
from pyspark.sql import functions as F

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
    # the row count comes from the pinned snapshot: no job per probe
    again, jobs = _spark_jobs(spark, "health-again", svc.health)
    assert again == h and jobs == []


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


def _reference_bodies(spark, store, priorities, ids):
    """The bodies of the one-job-per-read DataFrame queries the snapshot
    replaced — the byte-level reference: (list and filter bodies keyed by
    priority, ``None`` = the list; get body or ``None`` per id)."""
    view = store.read_live(spark)
    js = F.to_json(
        F.struct(*view.columns),
        {
            "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            "ignoreNullFields": "false",
        },
    )

    def body(texts):
        return "[" + ",".join(texts) + "]"

    top = view.orderBy(F.col("created_at").desc(), F.col("id").desc()).limit(50)
    lists = {None: body(r[0] for r in top.select(js).collect())}
    for p in priorities:
        pairs = view.filter(F.col("priority") == F.lit(p)).select("id", js).collect()
        pairs.sort(key=lambda r: (r[0] is not None, r[0]))
        lists[p] = body(r[1] for r in pairs)
    gets = {}
    for i in ids:
        hit = view.filter(F.col("id") == F.lit(i)).select(js).collect()
        gets[i] = hit[0][0] if hit else None
    return lists, gets


def _served_bodies(svc, priorities, ids):
    lists = {p: svc.list(priority=p) for p in [None, *priorities]}
    gets = {}
    for i in ids:
        try:
            gets[i] = svc.get(i)
        except NotFoundError:
            gets[i] = None
    return lists, gets


def _wire_rows(ts, n, prefix):
    """``n`` view rows in threes sharing one ``created_at`` (ties to break
    by id), every 7th without an author, every 11th without a priority
    and every 13th without a ``created_at``."""
    rows = []
    for i in range(n):
        created = ts - dt.timedelta(seconds=i // 3, microseconds=7 * (i // 3))
        rows.append(
            (
                "created",
                f"{prefix}{i:03d}",
                f"title-{i}",
                "c",
                None if i % 11 == 5 else ("High", "Low", "Medium")[i % 3],
                None if i % 7 == 0 else "otavio",
                None if i % 13 == 12 else created,
                created + dt.timedelta(microseconds=1),
            )
        )
    return rows


def test_wire_contract_one_job_per_snapshot(spark, tmp_path):
    """The JSON text ``list``/``get`` return is the HTTP body as sent:
    nulls kept, microsecond timestamps, newest-50 with id-desc ties and
    null ``created_at`` last, the uncapped id-ascending filter, the 404
    analogue — byte-equal to the one-job-per-read queries it replaced.
    The first read after a commit runs ONE job; every other read of that
    pointer runs none."""
    priorities = ["High", "Low", "Medium", "Urgent"]
    ts = dt.datetime(2026, 2, 23, 18, 0, 0, 123456, tzinfo=UTC)
    rows = _wire_rows(ts, 70, "s")
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
    dated = [r for r in rows if r[6] is not None]
    newest = sorted(dated, key=lambda r: (r[6], r[1]), reverse=True)[:50]
    assert [r["id"] for r in out] == [r[1] for r in newest]
    for got in out:
        row = want[got["id"]]
        assert "author" in got and got["author"] == row[5]
        assert _utc(got["created_at"]) == row[6]
        assert _utc(got["updated_at"]) == row[7]

    body, jobs = _spark_jobs(
        spark, "wire-filter", lambda: svc.list(priority="Low")
    )
    assert jobs == []
    assert [r["id"] for r in json.loads(body)] == sorted(
        r[1] for r in rows if r[4] == "Low"
    )
    body, jobs = _spark_jobs(
        spark, "wire-unknown", lambda: svc.list(priority="Urgent")
    )
    assert jobs == [] and json.loads(body) == []

    body, jobs = _spark_jobs(spark, "wire-get", lambda: svc.get("s014"))
    assert jobs == []
    got = json.loads(body)
    assert got["author"] is None and got["title"] == "title-14"
    assert _utc(got["created_at"]) == want["s014"][6]
    _, jobs = _spark_jobs(
        spark, "wire-404", lambda: pytest.raises(NotFoundError, svc.get, "ghost")
    )
    assert jobs == []

    ids = ["s000", "s005", "s012", "s069", "ghost"]
    served, jobs = _spark_jobs(
        spark, "wire-all", lambda: _served_bodies(svc, priorities, ids)
    )
    assert jobs == []
    assert served == _reference_bodies(spark, store, priorities, ids)

    # a new commit: the next read runs one job and serves the new rows;
    # under 50 rows the list shows where null ``created_at`` sorts
    rows = _wire_rows(ts, 26, "t")
    store.write(spark.createDataFrame(rows, STATE_SCHEMA), epoch=1)
    body, jobs = _spark_jobs(spark, "wire-commit", lambda: svc.get("t014"))
    assert len(jobs) == 1 and json.loads(body)["title"] == "title-14"
    ids = ["t000", "t012", "t025", "s014"]
    served, jobs = _spark_jobs(
        spark, "wire-all-2", lambda: _served_bodies(svc, priorities, ids)
    )
    assert jobs == []
    out = json.loads(served[0][None])
    assert [r["id"] for r in out[-2:]] == ["t025", "t012"]
    assert all(r["created_at"] is None for r in out[-2:])
    assert served[1]["s014"] is None
    assert served == _reference_bodies(spark, store, priorities, ids)


def test_first_read_of_a_pointer_is_single_flight(spark, tmp_path):
    """Eight handler threads issue the first read of a fresh pointer at
    once: one of them builds the snapshot, in ONE job, and all serve it."""
    rows = [vrow(f"s{i:02d}", ("High", "Low")[i % 2]) for i in range(20)]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    n = 8
    gate = threading.Barrier(n)
    bodies, errors = [None] * n, []

    def reader(k):
        try:
            gate.wait(timeout=60)
            bodies[k] = svc.list(priority="High")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    def run():
        # InheritableThread carries the job group into each reader
        threads = [InheritableThread(target=reader, args=(k,)) for k in range(n)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        return threads

    threads, jobs = _spark_jobs(spark, "single-flight", run)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(jobs) == 1
    assert len(set(bodies)) == 1
    assert [r["id"] for r in json.loads(bodies[0])] == [
        f"s{i:02d}" for i in range(0, 20, 2)
    ]


def test_unknown_priorities_leave_the_memo_bounded(spark, tmp_path):
    """Only present priorities are memoized: distinct ``?priority=``
    strings from a client cannot grow driver memory until the next
    commit."""
    rows = [vrow("s1", "High"), vrow("s2", "Low")]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    assert len(json.loads(svc.list())) == 2
    assert [r["id"] for r in json.loads(svc.list(priority="Low"))] == ["s2"]
    for k in range(1000):
        assert svc.list(priority=f"p{k}") == "[]"
    assert set(svc._snap.bodies) <= {None, "High", "Low"}


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
