"""Streaming bloom-accelerated exact dedup (streaming/bloom_dedup.py).

The load-bearing claim: exact cross-batch dedup whose store probe cost
is governed by the Bloom CANDIDATE rate, not the batch size — a
novel-only batch reads ZERO store paths — while the exact verify tier
keeps semantics identical to a join against full history (a filter
false positive can never drop a novel document).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from nexus_event_stream_spark.streaming.bloom_dedup import (
    compact_exact_store,
    exact_store,
    exact_suppress_and_register,
    read_bloom,
)
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.dedup import forget_signatures


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="bloomstore_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(params=["rename", "cas"])
def backend(request):
    if request.param == "rename":
        return PosixRenameBackend()
    return ConditionalPutBackend()


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def run_epoch(spark, store, rows, epoch, run="run1", **kw):
    kw.setdefault("expected_keys", 4096)  # small filter: fast plan literals
    out = exact_suppress_and_register(
        spark, store, docs_df(spark, rows), epoch=epoch, run_token=run, **kw
    )
    return sorted(r.doc_id for r in out.collect())


A = "first unique training document about watermark semantics"
B = "second unique training document about columnar formats"
C = "third unique training document about shuffle partitioning"
D = "fourth unique training document about broadcast joins"


def test_exact_cross_batch_and_within_batch(spark, store_dir):
    store = exact_store(store_dir, n_buckets=16)
    assert run_epoch(spark, store, [(1, A), (2, B)], 0) == [1, 2]
    # exact copy of A (new id) suppressed; novel C survives; within-batch
    # duplicate pair of D resolves to the smallest id
    assert run_epoch(
        spark, store, [(3, A), (4, C), (5, D), (6, D)], 1
    ) == [4, 5]
    # everything accepted so far stays suppressible
    assert run_epoch(spark, store, [(7, B), (8, C), (9, D)], 2) == []


def test_novel_only_batch_reads_zero_store_paths(spark, store_dir):
    store = exact_store(store_dir, n_buckets=16)
    run_epoch(spark, store, [(1, A), (2, B)], 0)
    # every digest in this batch misses the filter -> no candidates ->
    # the probe must not open ANY store file
    assert run_epoch(spark, store, [(3, C), (4, D)], 1) == [3, 4]
    assert store.last_probe_paths == []
    # and a duplicate-bearing batch DOES probe (sanity of the pin)
    assert run_epoch(spark, store, [(5, A)], 2) == []
    assert store.last_probe_paths


def test_replay_recomputes_survivors_and_skips_commits(
    spark, store_dir, backend
):
    store = exact_store(store_dir, n_buckets=8, backend=backend)
    run_epoch(spark, store, [(1, A), (2, B)], 0)
    got = run_epoch(spark, store, [(3, A), (4, C)], 1)
    assert got == [4]
    ver = store.current()["version"]
    bloom_before = read_bloom(store).words
    # redelivery of epoch 1 under the same run token: same survivors,
    # no new store version, identical filter words
    assert run_epoch(spark, store, [(3, A), (4, C)], 1) == [4]
    assert store.current()["version"] == ver
    assert read_bloom(store).words == bloom_before


def test_restart_spanning_run_continues_suppressing(spark, store_dir):
    s1 = exact_store(store_dir, n_buckets=8)
    run_epoch(spark, s1, [(1, A)], 0)
    s2 = exact_store(store_dir, n_buckets=8)  # fresh handle, same path
    assert run_epoch(spark, s2, [(2, A), (3, B)], 1, run="run2") == [3]


def test_forget_then_reingest_is_accepted_immediately(spark, store_dir):
    store = exact_store(store_dir, n_buckets=8)
    run_epoch(spark, store, [(1, A), (2, B)], 0)
    assert forget_signatures(spark, store, [1]) == 1
    # post-forget ≡ never-ingested: the stale filter bit makes doc 3 a
    # CANDIDATE, but the tombstone-filtered exact probe finds nothing
    assert run_epoch(spark, store, [(3, A)], 1) == [3]
    # B is untouched and still suppresses
    assert run_epoch(spark, store, [(4, B)], 2) == []


def test_compact_rebuilds_filter_and_preserves_semantics(spark, store_dir):
    store = exact_store(store_dir, n_buckets=8)
    run_epoch(spark, store, [(1, A), (2, B)], 0)
    run_epoch(spark, store, [(3, C)], 1)
    forget_signatures(spark, store, [2])
    compact_exact_store(spark, store)
    # tombstone queue cleared by the full fold; filter rebuilt from the
    # SURVIVING digests only
    assert store.current()["tombstones"] == []
    meta_keys = store.backend.read(store.path + "/_bloom.json")["n_keys"]
    assert meta_keys == 2  # A and C; B swept
    # forgotten B re-ingests clean; A and C still suppress
    assert run_epoch(spark, store, [(5, B)], 2) == [5]
    assert run_epoch(spark, store, [(6, A), (7, C)], 3) == []


def test_corpus_append_rides_store_pointer(spark, store_dir, tmp_path):
    store = exact_store(store_dir, n_buckets=8)
    corpus = str(tmp_path / "corpus")
    run_epoch(spark, store, [(1, A), (2, B)], 0, corpus_path=corpus)
    run_epoch(spark, store, [(3, A), (4, C)], 1, corpus_path=corpus)
    got = store.read_corpus(spark, corpus)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 4]


# ---------------------------------------------------------------------------
# paragraph-grain streaming dedup (r12): the incremental twin of
# bloom_dedup_paragraphs whose reference is everything accepted so far
# ---------------------------------------------------------------------------

from nexus_event_stream_spark.streaming.bloom_dedup import (  # noqa: E402
    _bloom_path,
    paragraph_suppress_and_register,
)


def _para_oracle(epochs):
    """Pure-Python corpus-wide first-occurrence paragraph dedup across
    epochs, the module's exact contract: per doc (n_paras, dup_paras,
    rebuilt_text or byte-exact original)."""
    seen: set[str] = set()
    out = {}
    for rows in epochs:
        for did, text in rows:
            if text is None:
                out[did] = (0, 0, None)
                continue
            units = [u.strip(" ") for u in text.split("\n\n")]
            units = [u for u in units if u != ""]
            kept, dup = [], 0
            for u in units:
                if u in seen:
                    dup += 1
                else:
                    seen.add(u)
                    kept.append(u)
            out[did] = (
                len(units),
                dup,
                text if dup == 0 else "\n\n".join(kept),
            )
    return out


def run_para_epoch(spark, store, rows, epoch, run="run1", **kw):
    kw.setdefault("expected_keys", 4096)
    out = paragraph_suppress_and_register(
        spark, store, docs_df(spark, rows), epoch=epoch, run_token=run, **kw
    )
    return {r.doc_id: (r.n_paras, r.dup_paras, r.text) for r in out.collect()}


P = [f"paragraph number {i} about streaming dedup tiers" for i in range(8)]


def test_paragraph_grain_streams_match_oracle(spark, store_dir, backend):
    """Three epochs with cross-batch, within-batch, all-dup, zero-hit
    and NULL-text shapes — streamed output equals the corpus-wide
    first-occurrence oracle; zero-hit docs byte-exact (separator quirks
    preserved)."""
    store = exact_store(store_dir, backend=backend)
    quirky = f"{P[0]}\n\n\n  {P[1]}  "  # odd separators: must survive byte-exact
    epochs = [
        [(0, quirky), (1, f"{P[2]}\n\n{P[3]}")],
        # doc 10 repeats P[0] (cross-batch) + brings a novel one;
        # docs 11/12 share P[5] within the batch (11 owns it)
        [
            (10, f"{P[0]}\n\n{P[4]}"),
            (11, f"{P[5]}\n\n{P[6]}"),
            (12, f"{P[5]}\n\nnovel tail paragraph here"),
        ],
        # doc 20 is ALL duplicates -> ''; doc 21 NULL; doc 22 novel
        [(20, f"{P[2]}\n\n{P[4]}"), (21, None), (22, P[7])],
    ]
    want = _para_oracle(epochs)
    got = {}
    for e, rows in enumerate(epochs):
        got.update(run_para_epoch(spark, store, rows, epoch=e))
    assert got == want
    assert got[0] == (2, 0, quirky)  # byte-exact zero-hit contract
    assert got[20] == (2, 2, "")  # all-dup doc row preserved as ''
    assert got[21] == (0, 0, None)


def test_paragraph_novel_only_batch_reads_zero_store_paths(
    spark, store_dir, backend
):
    store = exact_store(store_dir, backend=backend)
    run_para_epoch(spark, store, [(0, f"{P[0]}\n\n{P[1]}")], epoch=0)
    run_para_epoch(spark, store, [(1, f"{P[2]}\n\n{P[3]}")], epoch=1)
    assert store.last_probe_paths == []  # the Bloom win
    # a dup-bearing batch DOES probe
    run_para_epoch(spark, store, [(2, P[0])], epoch=2)
    assert store.last_probe_paths


def test_paragraph_replay_is_noop(spark, store_dir, backend):
    store = exact_store(store_dir, backend=backend)
    run_para_epoch(spark, store, [(0, f"{P[0]}\n\n{P[1]}")], epoch=0)
    first = run_para_epoch(spark, store, [(1, f"{P[0]}\n\n{P[6]}")], epoch=1)
    ver = store.current()["version"]
    n_keys = store.backend.read(_bloom_path(store))["n_keys"]
    again = run_para_epoch(spark, store, [(1, f"{P[0]}\n\n{P[6]}")], epoch=1)
    assert again == first  # incl. the epoch's own postings masked out
    assert store.current()["version"] == ver
    assert store.backend.read(_bloom_path(store))["n_keys"] == n_keys


def test_paragraph_forget_releases_ownership(spark, store_dir, backend):
    store = exact_store(store_dir, backend=backend)
    run_para_epoch(spark, store, [(0, f"{P[0]}\n\n{P[1]}")], epoch=0)
    got = run_para_epoch(spark, store, [(1, f"{P[0]}\n\nnovel one")], epoch=1)
    assert got[1][1] == 1  # suppressed against doc 0
    forget_signatures(spark, store, [0, 1])
    got2 = run_para_epoch(spark, store, [(2, f"{P[0]}\n\nother tail")], epoch=2)
    assert got2[2] == (2, 0, f"{P[0]}\n\nother tail")  # novel again


def _persistent_ids(spark):
    sc = spark.sparkContext
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def test_exact_mid_batch_failure_releases_caches(spark, store_dir):
    """r12 advisory: a failure mid-batch (store append error, executor
    loss) must not leak the suppressor's persisted intermediates — a
    retrying streaming driver would accumulate them."""
    store = exact_store(store_dir)
    run_epoch(spark, store, [(0, A)], epoch=0)
    before = _persistent_ids(spark)

    def boom(*a, **kw):
        raise RuntimeError("injected append failure")

    store.append = boom
    with pytest.raises(RuntimeError, match="injected"):
        run_epoch(spark, store, [(1, B)], epoch=1)
    assert _persistent_ids(spark) <= before


def test_paragraph_mid_batch_failure_releases_caches(spark, store_dir):
    store = exact_store(store_dir)
    run_para_epoch(spark, store, [(0, f"{P[0]}\n\n{P[1]}")], epoch=0)
    before = _persistent_ids(spark)

    def boom(*a, **kw):
        raise RuntimeError("injected probe failure")

    store.read_buckets = boom  # hit: the batch re-sends P[0]
    with pytest.raises(RuntimeError, match="injected"):
        run_para_epoch(spark, store, [(1, f"{P[0]}\n\nnovel x")], epoch=1)
    assert _persistent_ids(spark) <= before


def test_paragraph_bloom_saturation_warns(spark, store_dir):
    """A store whose accepted-paragraph count has outgrown the fixed
    (m, k) warns (estimated FPR > 4x target) instead of silently losing
    the zero-store-read discipline; exactness is unaffected."""
    store = exact_store(store_dir)
    rows = [
        (i, f"unique saturation paragraph number {i}\n\n"
            f"second unique saturation unit {i}")
        for i in range(300)
    ]
    with pytest.warns(RuntimeWarning, match="saturated"):
        run_para_epoch(
            spark, store, rows, epoch=0, expected_keys=16, fpr=1e-4
        )
    # semantics unaffected: a re-sent paragraph still suppresses exactly
    got = run_para_epoch(
        spark,
        store,
        [(1000, "unique saturation paragraph number 7\n\nfresh tail unit")],
        epoch=1,
        expected_keys=16,
        fpr=1e-4,
    )
    assert got[1000][1] == 1
