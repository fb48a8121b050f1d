"""Streaming ExactSubstr (streaming/exact_substr.py) — cross-batch
token-span dedup.

Binding pins (the r11 verdict's done-bar): a later-batch doc sharing a
>= min_len-token span with an ACCEPTED doc is stripped; batch
equivalence to ``exact_substr_dedup`` on a split corpus; replay no-op;
both commit backends; probe reads are bucket-pruned; forget restores
span ownership.
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest

from nexus_event_stream_spark.operators.exact_substr import (
    exact_substr_dedup,
)
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.exact_substr import (
    forget_substr,
    substr_store,
    substr_suppress_and_register,
)

L = 12  # small min_len keeps the synthetic docs readable


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="substrstore_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(params=["rename", "cas"])
def backend(request):
    if request.param == "rename":
        return PosixRenameBackend()
    return ConditionalPutBackend()


def _words(rng, n):
    return " ".join(f"w{rng.randrange(10_000)}" for _ in range(n))


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def run_epoch(spark, store, rows, epoch, run="run1", **kw):
    kw.setdefault("min_len", L)
    out = substr_suppress_and_register(
        spark, store, docs_df(spark, rows), epoch=epoch, run_token=run, **kw
    )
    return {r.doc_id: r for r in out.collect()}


def test_later_batch_span_is_stripped(spark, store_dir, backend):
    rng = random.Random(3)
    span = _words(rng, L + 4)  # 16 shared tokens > min_len
    owner = f"{_words(rng, 6)} {span} {_words(rng, 5)}"
    fresh = _words(rng, 30)
    store = substr_store(store_dir, backend=backend)

    got0 = run_epoch(spark, store, [(0, owner), (1, fresh)], epoch=0)
    # epoch 0: nothing duplicated — both docs byte-exact
    assert got0[0].dup_tokens == 0 and got0[0].clean_text == owner
    assert got0[1].dup_tokens == 0 and got0[1].clean_text == fresh

    # epoch 1: a new doc embeds the accepted span → exactly it stripped
    later = f"{_words(rng, 7)} {span} {_words(rng, 9)}"
    got1 = run_epoch(spark, store, [(10, later)], epoch=1)
    assert got1[10].dup_tokens >= L
    assert span not in got1[10].clean_text
    # the non-span tokens survive
    assert got1[10].clean_text.split(" ")[0] == later.split(" ")[0]

    # a genuinely novel epoch is untouched
    novel = _words(rng, 25)
    got2 = run_epoch(spark, store, [(20, novel)], epoch=2)
    assert got2[20].dup_tokens == 0 and got2[20].clean_text == novel


def test_batch_equivalence_to_exact_substr_dedup(spark, store_dir, backend):
    """Feeding a corpus split into epochs by increasing doc_id yields
    EXACTLY the batch operator's output on the whole corpus (epoch
    order coincides with doc order)."""
    rng = random.Random(7)
    span_a = _words(rng, L + 2)
    span_b = _words(rng, L)
    rows = [
        (0, f"{_words(rng, 5)} {span_a} {_words(rng, 4)}"),
        (1, _words(rng, 20)),
        (2, f"{span_b} {_words(rng, 8)}"),
        (3, f"{_words(rng, 3)} {span_a} {_words(rng, 2)} {span_b}"),
        (4, f"{span_b} tail tokens {_words(rng, 9)}"),
        (5, None),
        (6, "short doc"),
    ]
    batch = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.clean_text)
        for r in exact_substr_dedup(
            docs_df(spark, rows), min_len=L, emit_text=True
        ).collect()
    }
    store = substr_store(store_dir, backend=backend)
    streamed = {}
    for epoch, split in enumerate([rows[:2], rows[2:4], rows[4:]]):
        got = run_epoch(spark, store, split, epoch=epoch)
        streamed.update(
            {
                d: (r.n_tokens, r.dup_tokens, r.clean_text)
                for d, r in got.items()
            }
        )
    assert streamed == batch


def test_replay_is_a_noop_and_recomputes_survivors(
    spark, store_dir, backend
):
    rng = random.Random(11)
    span = _words(rng, L + 1)
    owner = f"{span} {_words(rng, 6)}"
    store = substr_store(store_dir, backend=backend)
    run_epoch(spark, store, [(0, owner)], epoch=0)
    later = f"{_words(rng, 5)} {span}"
    first = run_epoch(spark, store, [(1, later)], epoch=1)
    v_anchor = store.anchors.current()["version"]
    v_doc = store.docs.current()["version"]
    # replay of epoch 1: same survivors, no new store versions, and the
    # epoch's own postings must not suppress its own documents
    again = run_epoch(spark, store, [(1, later)], epoch=1)
    assert {
        d: (r.dup_tokens, r.clean_text) for d, r in again.items()
    } == {d: (r.dup_tokens, r.clean_text) for d, r in first.items()}
    assert store.anchors.current()["version"] == v_anchor
    assert store.docs.current()["version"] == v_doc


def test_probe_reads_are_bucket_pruned(spark, store_dir, backend):
    """A batch's anchor probe reads only the buckets its anchor hashes
    fall into — never the whole store."""
    rng = random.Random(13)
    store = substr_store(store_dir, n_buckets=32, backend=backend)
    rows = [(i, _words(rng, 40)) for i in range(12)]
    run_epoch(spark, store, rows, epoch=0)
    run_epoch(spark, store, [(100, _words(rng, 20))], epoch=1)
    touched = store.anchors.last_probe_paths
    assert touched is not None
    all_buckets = set(store.anchors.current()["manifest"])
    probed = {p.rsplit("__bucket=", 1)[1] for p in touched}
    # a 9-anchor batch cannot legitimately touch every bucket of a
    # 12-doc x 40-token store spread over 32 buckets
    assert len(probed) < len(all_buckets)


def test_forget_restores_span_ownership(spark, store_dir, backend):
    """post-forget ≡ never-ingested: after the owner is forgotten, a
    re-arrival of the span is novel again (the store-wide pin)."""
    rng = random.Random(17)
    span = _words(rng, L + 3)
    owner = f"{span} {_words(rng, 4)}"
    store = substr_store(store_dir, backend=backend)
    run_epoch(spark, store, [(0, owner)], epoch=0)
    got = run_epoch(spark, store, [(1, f"x1 x2 {span}")], epoch=1)
    assert got[1].dup_tokens >= L
    forget_substr(spark, store, [0, 1])
    got2 = run_epoch(spark, store, [(2, f"y1 y2 {span}")], epoch=2)
    assert got2[2].dup_tokens == 0 and span in got2[2].clean_text


def test_mid_batch_failure_releases_caches(spark, store_dir):
    """r12 advisory: the suppressor persists five intermediates; a
    mid-batch store failure must release them all (try/finally), not
    leak blocks into a retrying streaming driver."""
    backend = PosixRenameBackend()
    rng = random.Random(11)
    store = substr_store(store_dir, backend=backend)
    sc = spark.sparkContext

    def ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = ids()

    def boom(*a, **kw):
        raise RuntimeError("injected probe failure")

    store.anchors.read_buckets = boom
    with pytest.raises(RuntimeError, match="injected"):
        run_epoch(spark, store, [(0, _words(rng, 40))], epoch=0)
    assert ids() <= before
