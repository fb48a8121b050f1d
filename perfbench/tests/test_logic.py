"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import oracle
from perfbench.freshness import (
    CommitLog,
    batch_of_files,
    envelope_key,
    files_by_key,
    freshness,
)
from perfbench.stats import highest_tail, percentile, summarize, supports
from perfbench.workloads import layout_answers


def _ev(action, id_, ts=None, title="t", created=None):
    ev = {"action": action, "id": id_}
    if action != "deleted":
        ev.update(title=title, content="c", priority="Low", author="a",
                  created_at=created or ts, updated_at=ts)
    return ev


# -- LWW oracle -------------------------------------------------------------------

T1 = "2024-01-01T00:00:01+00:00"
T2 = "2024-01-01T00:00:02+00:00"
T3 = "2024-01-01T00:00:03.000001+00:00"


def test_fold_latest_update_wins_regardless_of_arrival_order():
    a = _ev("created", "x", T1, title="old")
    b = _ev("updated", "x", T3, title="new", created=T1)
    for events in ([a, b], [b, a]):
        assert oracle.live(oracle.fold(events))["x"]["title"] == "new"


def test_fold_delete_without_timestamp_beats_any_update():
    events = [_ev("created", "x", T1), _ev("deleted", "x"), _ev("updated", "x", T3)]
    state = oracle.fold(events)
    assert state["x"]["action"] == "deleted"
    assert oracle.live(state) == {}


def test_fold_tiebreak_on_title_when_timestamps_collide():
    a = _ev("updated", "x", T2, title="apple")
    b = _ev("updated", "x", T2, title="banana")
    assert oracle.fold([b, a])["x"]["title"] == "banana"
    assert oracle.fold([a, b])["x"]["title"] == "banana"


def test_fold_is_idempotent_under_replay():
    events = [_ev("created", "x", T1), _ev("updated", "x", T2), _ev("created", "y", T1)]
    assert oracle.fold(events + events) == oracle.fold(events)


def test_diff_counts_missing_extra_and_changed_rows():
    expected = oracle.live(oracle.fold([_ev("created", "x", T1), _ev("created", "y", T2)]))
    actual = {k: oracle.normalize(v) for k, v in expected.items()}
    assert oracle.diff(expected, actual) == 0
    changed = dict(actual, x=actual["x"][:-1] + (0,))
    assert oracle.diff(expected, changed) == 1
    assert oracle.diff(expected, {"y": actual["y"], "z": actual["x"]}) == 2


def test_to_micros_treats_naive_strings_as_utc():
    assert oracle.to_micros("1970-01-01T00:00:01.5") == 1_500_000
    assert oracle.to_micros("1970-01-01T01:00:01.5+01:00") == 1_500_000


def test_layout_answers_newest_first_then_id_and_priority_sets():
    a = _ev("created", "a", T1)
    b = dict(_ev("created", "b", T2), priority="High")
    c = _ev("created", "c", T2)
    want = layout_answers({"a": a, "b": b, "c": c})
    assert want["list"] == ["b", "c", "a"]
    assert want["Low"] == {"a", "c"} and want["High"] == {"b"}
    assert want["Medium"] == set() and want["Urgent"] == set()


# -- percentile rule ------------------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert supports(100, 90)
    assert not supports(99, 90)
    assert supports(200, 95)
    assert not supports(199, 95)
    assert supports(20, 50) and not supports(19, 50)
    assert highest_tail(1000) == 99
    assert highest_tail(150) == 90
    assert highest_tail(200) == 95
    assert highest_tail(15) is None


def test_percentile_interpolates_and_summary_flags_support():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 90) == 5
    s = summarize(list(range(1, 101)), (50, 90, 95))
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert s["p90_supported"] and not s["p95_supported"]
    assert s["tail_p"] == 90 and s["tail"] == pytest.approx(90.1)


# -- file → epoch → commit freshness mapping ---------------------------------------


def _write_cmd(log, seq, ev):
    with open(os.path.join(log, f"cmd-{seq:08d}.json"), "w") as fh:
        fh.write(json.dumps(ev) + "\n")


def test_freshness_maps_write_to_file_batch_and_first_commit(tmp_path):
    log = tmp_path / "log"
    src = tmp_path / "ckpt" / "sources" / "0"
    log.mkdir()
    src.mkdir(parents=True)
    with open(log / "cmd-00000001.json", "w") as fh:  # bulk install: skipped
        fh.write(json.dumps(_ev("created", "i1", T1)) + "\n")
        fh.write(json.dumps(_ev("created", "i2", T1)) + "\n")
    e2 = _ev("created", "x", T2)
    e3 = _ev("updated", "x", T3, created=T2)
    e4 = _ev("deleted", "x")
    for seq, ev in ((2, e2), (3, e3), (4, e4)):
        _write_cmd(str(log), seq, ev)

    def entry(name, batch):
        return json.dumps({"path": f"file://{log}/{name}", "timestamp": 0, "batchId": batch})

    # batch 0 as a plain log file, batches 1-2 folded into a compacted one
    (src / "0").write_text("v1\n" + entry("cmd-00000001.json", 0) + "\n"
                           + entry("cmd-00000002.json", 0))
    (src / "2.compact").write_text("v1\n" + entry("cmd-00000003.json", 1) + "\n"
                                   + entry("cmd-00000004.json", 2))
    (src / ".2.compact.crc").write_text("junk")

    keys = files_by_key(str(log), skip={"cmd-00000001.json"})
    assert keys == {envelope_key(e2): "cmd-00000002.json",
                    envelope_key(e3): "cmd-00000003.json",
                    ("x", "deleted"): "cmd-00000004.json"}
    batches = batch_of_files(str(tmp_path / "ckpt"))
    assert batches["cmd-00000003.json"] == 1 and batches["cmd-00000004.json"] == 2

    # epoch 1 was never seen by the poller: batch 1 commits when 2 is seen
    commits = CommitLog([(10.0, 0), (10.0, 0), (13.0, 2)])
    assert commits.commit_time(0) == 10.0
    assert commits.commit_time(1) == 13.0
    assert commits.commit_time(3) is None

    writes = [
        {"key": envelope_key(e2), "ack": 9.5},
        {"key": envelope_key(e3), "ack": 11.0},
        {"key": ("x", "deleted"), "ack": 12.0},
        {"key": ("nope", "deleted"), "ack": 12.0},
    ]
    fresh, missing = freshness(writes, keys, batches, commits)
    assert fresh == [0.5, 2.0, 1.0]
    assert missing == [writes[3]]


def test_commit_log_ignores_regressions_and_unset_epochs():
    log = CommitLog([(1.0, None), (2.0, 3), (2.5, 2), (4.0, 5)])
    assert log.epochs == [3, 5]
    assert log.commit_time(4) == 4.0
