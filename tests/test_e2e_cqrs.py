"""Full CQRS loop, end-to-end: command API → event log → streaming
projection → serving (list/get/health + HTTP) — the complete reference
topology collapsed into one engine.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from nexus_event_stream_spark.command import SignalCommands
from nexus_event_stream_spark.serving import NotFoundError, SignalService
from nexus_event_stream_spark.serving_http import serve
from nexus_event_stream_spark.sources.streams import file_event_stream, parse_events
from nexus_event_stream_spark.streaming.projection import (
    ParquetViewStore,
    start_projection,
)


def test_full_cqrs_loop(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    cmds = SignalCommands(log_dir, author="otavio")

    # -- command side: create / update / delete through the write API
    a = cmds.create("Server Alert", "CPU at 95%", priority=3)
    b = cmds.create("Disk notice", "disk 70%", priority=1)
    cmds.update(a, content="CPU at 99%")
    c = cmds.create("Net flap", "eth0 flapping", priority=2)
    cmds.delete(b)

    # -- projection: stream the log into the LWW view
    events = parse_events(file_event_stream(spark, log_dir))
    store = ParquetViewStore(str(tmp_path / "view"))
    q = start_projection(spark, events, store.path, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    # -- serve: library API
    svc = SignalService(spark, store)
    rows = {r["id"]: r for r in json.loads(svc.list())}
    assert set(rows) == {a, c}
    assert rows[a]["content"] == "CPU at 99%"  # update applied
    assert rows[a]["priority"] == "High"  # code 3 → display string
    with pytest.raises(NotFoundError):
        svc.get(b)  # deleted

    # priority filter + unknown-priority quirk, through HTTP
    server = serve(svc)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        with urllib.request.urlopen(f"{base}/signals?priority=Medium") as resp:
            body = json.load(resp)
        assert [r["id"] for r in body] == [c]
        with urllib.request.urlopen(f"{base}/health") as resp:
            assert json.load(resp)["rows"] == 2
    finally:
        server.shutdown()

    # -- late command, second projection run (checkpoint resume)
    cmds.update(c, priority=3)
    events2 = parse_events(file_event_stream(spark, log_dir))
    q2 = start_projection(spark, events2, store.path, str(tmp_path / "ckpt"))
    q2.processAllAvailable()
    q2.stop()
    assert json.loads(SignalService(spark, store).get(c))["priority"] == "High"


def test_command_writer_restart_replays_log(tmp_path):
    # The log is the source of truth: a restarted writer rebuilds _state
    # from it, so update()/delete() on pre-restart entities must work and
    # pre-restart deletes must stay deleted.
    log = str(tmp_path / "log")
    c1 = SignalCommands(log, author="otavio")
    kept = c1.create("keep me", "c", priority=2)
    gone = c1.create("delete me", "c")
    c1.delete(gone)

    c2 = SignalCommands(log, author="otavio")
    c2.update(kept, title="kept after restart")
    c2.delete(kept)
    with pytest.raises(KeyError):
        c2.update(gone, title="zombie")


def test_concurrent_writers_never_lose_commands(tmp_path):
    """SignalCommands is driven by a ThreadingHTTPServer (serving_http):
    concurrent writers must each land a distinct cmd-N file — pre-r14
    the unlocked seq increment let two writers claim the same sequence
    and os.replace silently dropped one command (r13 advice)."""
    import os
    import threading

    log = str(tmp_path / "log")
    cmds = SignalCommands(log, author="otavio")
    n_threads, per_thread = 8, 25
    barrier = threading.Barrier(n_threads)
    errors: list[Exception] = []

    def writer(k: int) -> None:
        try:
            barrier.wait()
            for j in range(per_thread):
                id_ = cmds.create(f"t{k}-{j}", "c", priority=1 + (j % 3))
                if j % 5 == 0:
                    cmds.update(id_, title=f"u{k}-{j}")
                if j % 7 == 0:
                    cmds.delete(id_)
        except Exception as exc:  # surfaced below; threads must not die
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(k,)) for k in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    want = n_threads * (per_thread + 5 + 4)  # creates + updates + deletes
    files = [
        f for f in os.listdir(log)
        if f.startswith("cmd-") and f.endswith(".json")
    ]
    assert len(files) == want  # every command file exists, none clobbered
    assert len(set(files)) == want
    # the log replays cleanly into a fresh writer
    c2 = SignalCommands(log, author="otavio")
    n_live = sum(
        1
        for k in range(n_threads)
        for j in range(per_thread)
        if j % 7 != 0
    )
    assert len(c2._state) == n_live


def test_command_validation(tmp_path):
    cmds = SignalCommands(str(tmp_path / "log"))
    with pytest.raises(ValueError):
        cmds.create("t", "c", priority=9)  # unknown code
    i = cmds.create("t", "c")
    with pytest.raises(ValueError):
        cmds.update(i, created_at="2020-01-01")  # immutable field
    with pytest.raises(KeyError):
        cmds.delete("ghost")
