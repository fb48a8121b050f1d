"""Shared replay-guard protocol (streaming/replay.py) — VERDICT r8 #1/#5.

The round-8 footgun: the additive stores (rollup, BM25 postings)
suppressed ``epoch <= last_epoch`` unconditionally, across run tokens,
so a FRESH checkpointed query attached to an existing store (epoch ids
restart at 0) had its early epochs silently swallowed — data loss with
no error. Contracts pinned here:

- guard-mode matrix (unit): idempotent suppresses only positively-
  identified same-run replays; additive suppresses within a token,
  RAISES on a cross-token epoch regression, and keeps the legacy
  strictly-monotone silence when either side is tokenless
- rollup, BM25 and drift-monitor stores: a fresh-token query against an existing store
  raises ``ReplayMismatchError`` instead of dropping epochs — under
  BOTH commit backends — while same-token crash replays stay silent
  no-ops and the store bytes stay exactly once
- ``adopt()``: the explicit escape hatch clears the watermark in one
  atomic pointer commit; the new token's epochs then apply from 0 with
  its own monotone sequence (and its own replay suppression)
- end-to-end: a real Structured Streaming restart from the SAME
  checkpoint resumes cleanly (run_token_for is restart-stable), while a
  checkpoint RESET against the same store path fails loudly in the
  first micro-batch
- the idempotent stores' semantics are unchanged: a cross-token
  regressed epoch APPLIES (harmless re-merge), pinned at the unit level
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.dedup import run_token_for
from nexus_event_stream_spark.streaming.profile import StreamingProfileMonitor
from nexus_event_stream_spark.streaming.replay import (
    ReplayGuard,
    ReplayMismatchError,
)
from nexus_event_stream_spark.streaming.rollup import RollupStore, start_rollup
from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

SF_DIR = "/root/testdata/sf0.001"

BACKENDS = [PosixRenameBackend, ConditionalPutBackend]


# -- unit: the guard matrix ---------------------------------------------------


def test_mode_is_validated_at_construction():
    with pytest.raises(ValueError):
        ReplayGuard("ad-hoc")


@pytest.mark.parametrize("mode", ["idempotent", "additive"])
def test_no_committed_epoch_always_applies(mode):
    g = ReplayGuard(mode)
    assert g.is_replay(None, 0, "t1") is False
    assert g.is_replay({"epoch": None, "run_token": "t1"}, 0, "t1") is False
    assert g.is_replay({"epoch": 5, "run_token": "t1"}, None, "t1") is False


@pytest.mark.parametrize("mode", ["idempotent", "additive"])
def test_same_token_replay_suppresses_and_progress_applies(mode):
    g = ReplayGuard(mode)
    cur = {"epoch": 5, "run_token": "t1"}
    assert g.is_replay(cur, 5, "t1") is True
    assert g.is_replay(cur, 3, "t1") is True
    assert g.is_replay(cur, 6, "t1") is False


def test_idempotent_cross_token_regression_applies():
    # LWW/signature state: re-applying is harmless, so a new run's
    # restarted epoch numbering simply applies (never raises)
    g = ReplayGuard("idempotent")
    cur = {"epoch": 5, "run_token": "t1"}
    assert g.is_replay(cur, 0, "t2") is False
    # tokenless on either side: no positive identification → apply
    assert g.is_replay(cur, 0, None) is False
    assert g.is_replay({"epoch": 5, "run_token": None}, 0, "t2") is False
    assert g.is_replay({"epoch": 5, "run_token": None}, 3, None) is False


def test_additive_cross_token_regression_raises():
    g = ReplayGuard("additive")
    cur = {"epoch": 5, "run_token": "t1"}
    with pytest.raises(ReplayMismatchError):
        g.is_replay(cur, 0, "t2")
    # progress past the watermark is NOT ambiguous — applies
    assert g.is_replay(cur, 6, "t2") is False


def test_additive_tokenless_sides_keep_legacy_monotone_silence():
    g = ReplayGuard("additive")
    # pre-token pointer (legacy store), tokenless caller, or mixed:
    # fall back to the pre-r9 strictly-monotone contract — silent skip
    assert g.is_replay({"epoch": 5, "run_token": None}, 3, None) is True
    assert g.is_replay({"epoch": 5, "run_token": None}, 3, "t2") is True
    assert g.is_replay({"epoch": 5, "run_token": "t1"}, 3, None) is True
    assert g.is_replay({"epoch": 5, "run_token": None}, 6, "t2") is False


def test_adopt_clears_the_watermark():
    g = ReplayGuard("additive")
    cur = {"epoch": 5, "run_token": "t1", "manifest": {"0": 1}}
    adopted = g.adopt(cur)
    assert adopted["epoch"] is None and adopted["run_token"] is None
    assert adopted["manifest"] == {"0": 1}  # data refs untouched
    assert g.is_replay(adopted, 0, "t2") is False


# -- store level: rollup ------------------------------------------------------


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value"
    )


def _rollup_state(spark, store):
    df = store.read(spark)
    assert df is not None
    return {
        (r.bucket_ts, r.event_type): (r.n_events, r.sum_cents)
        for r in df.collect()
    }


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_rollup_fresh_token_raises_not_drops(spark, events, tmp_path, backend_cls):
    store = RollupStore(
        str(tmp_path / "rollup"), backend=backend_cls(), n_buckets=8
    )
    half = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == 0)
    store.apply_batch(spark, half, 0, run_token="run-a")
    store.apply_batch(spark, half, 1, run_token="run-a")  # advance to 1
    want = _rollup_state(spark, store)
    # same-token crash replay: silent no-op, exactly-once preserved
    store.apply_batch(spark, half, 1, run_token="run-a")
    assert _rollup_state(spark, store) == want
    # fresh checkpoint = new token, epoch ids restart at 0: LOUD
    with pytest.raises(ReplayMismatchError):
        store.apply_batch(spark, events, 0, run_token="run-b")
    assert _rollup_state(spark, store) == want  # nothing applied


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_rollup_adopt_resumes_new_token_from_zero(
    spark, events, tmp_path, backend_cls
):
    store = RollupStore(
        str(tmp_path / "rollup"), backend=backend_cls(), n_buckets=8
    )
    half = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == 0)
    rest = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == 1)
    store.apply_batch(spark, half, 0, run_token="run-a")
    with pytest.raises(ReplayMismatchError):
        store.apply_batch(spark, rest, 0, run_token="run-b")
    store.adopt()
    store.apply_batch(spark, rest, 0, run_token="run-b")
    # both halves applied exactly once → equals the one-shot aggregate
    one_shot = RollupStore(str(tmp_path / "oneshot"), n_buckets=8)
    one_shot.apply_batch(spark, events, 0)
    assert _rollup_state(spark, store) == _rollup_state(spark, one_shot)
    # and the adopted token has its own replay suppression from here
    state = _rollup_state(spark, store)
    store.apply_batch(spark, rest, 0, run_token="run-b")
    assert _rollup_state(spark, store) == state


def test_rollup_legacy_tokenless_pointer_stays_silent(spark, events, tmp_path):
    # a store last written by pre-token code (pointer run_token None):
    # regressed epochs keep the legacy silent-monotone behavior — no
    # raise, no double count (one-time migration window, documented)
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    store.apply_batch(spark, events, 0)  # tokenless legacy write
    want = _rollup_state(spark, store)
    store.apply_batch(spark, events, 0, run_token="run-new")
    assert _rollup_state(spark, store) == want


# -- store level: BM25 --------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select(F.col("doc_id"), F.col("text"))
        .limit(60)
    )


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_bm25_fresh_token_raises_not_drops(spark, docs, tmp_path, backend_cls):
    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    first = docs.filter(F.col("doc_id") % 2 == 0)
    store.apply_batch(spark, first, 0, run_token="run-a")
    cur = store.current()
    with pytest.raises(ReplayMismatchError):
        store.apply_batch(spark, docs, 0, run_token="run-b")
    assert store.current() == cur  # counters and manifest untouched
    # adoption lets the (disjoint) second stream in, exactly once
    store.adopt()
    second = docs.filter(F.col("doc_id") % 2 == 1)
    store.apply_batch(spark, second, 0, run_token="run-b")
    one_shot = BM25IndexStore(str(tmp_path / "oneshot"), n_buckets=8)
    one_shot.apply_batch(spark, docs, 0)
    assert store.current()["n_docs"] == one_shot.current()["n_docs"]
    assert store.current()["sum_dl"] == one_shot.current()["sum_dl"]


# -- store level: drift monitor -----------------------------------------------


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_profile_monitor_fresh_token_raises_not_drops(
    spark, docs, tmp_path, backend_cls
):
    store = StreamingProfileMonitor(
        str(tmp_path / "profile.json"), backend=backend_cls()
    )
    for e in range(3):
        store.apply_batch(docs.filter(F.col("doc_id") % 3 == e), e, "run-a")
    cur = store.current()
    # same-token crash replay: silent no-op, never double-merged
    store.apply_batch(docs, 2, "run-a")
    assert store.current() == cur
    # fresh checkpoint = new token, epoch ids restart at 0: LOUD
    with pytest.raises(ReplayMismatchError):
        store.apply_batch(docs, 0, "run-b")
    assert store.current() == cur


# -- end to end: checkpoint restart vs reset ----------------------------------


def test_streaming_restart_resumes_reset_fails_loudly(spark, events, tmp_path):
    """Restart from the SAME checkpoint resumes silently (restart-stable
    token); a checkpoint RESET against the same store path surfaces
    ReplayMismatchError in the first micro-batch instead of silently
    swallowing the new run's epochs."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        events.filter(
            F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == i
        ).coalesce(1).write.parquet(str(src / f"slice={i}"))

    def stream():
        return spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src) + "/slice=*")

    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q = start_rollup(spark, stream(), store, ckpt)
    q.processAllAvailable()
    q.stop()
    want = _rollup_state(spark, store)

    # restart from the same checkpoint: same token, nothing re-applies
    q2 = start_rollup(spark, stream(), store, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert _rollup_state(spark, store) == want
    assert run_token_for(ckpt) == run_token_for(ckpt)  # restart-stable

    # checkpoint reset: fresh token, epoch ids restart at 0 → loud
    q3 = start_rollup(spark, stream(), store, str(tmp_path / "ckpt2"))
    with pytest.raises(Exception) as excinfo:
        q3.processAllAvailable()
    q3.stop()
    assert "ReplayMismatchError" in str(excinfo.value) or isinstance(
        excinfo.value, ReplayMismatchError
    )
    assert _rollup_state(spark, store) == want  # store unharmed
