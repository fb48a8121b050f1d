"""Streaming BM25 index maintenance (streaming/search_index.py).

Contracts pinned:
- incrementally-built store answers queries EXACTLY like the one-shot
  batch index over the same corpus (integer score equality), under both
  commit backends
- the stop-term cap is LIVE: a term that drifts common starts being
  treated as a stop-term the epoch it crosses the df line — no index
  decay, no rebuild (the staleness the batch index's materialized idf
  would have)
- query reads are bucket-pruned to the query terms' buckets
- replays never re-append (strictly-monotone guard, additive state)
- token-free docs still advance the corpus counters (they shift idf)
- real Structured Streaming end-to-end run
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.operators.search import (
    SCORE_SCALE,
    bm25_topk,
    build_bm25_index,
)
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.search_index import (
    BM25IndexStore,
    start_search_index,
)

SF_DIR = "/root/testdata/sf0.001"
QUERIES = [(1, "fast table scan"), (2, "customer window merge dup")]


def topk_rows(df):
    if df is None:
        return {}
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r.query_id, r.rank)):
        out.setdefault(int(r.query_id), []).append(
            (int(r.doc_id), int(round(r.score * SCORE_SCALE)), int(r.rank))
        )
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_incremental_equals_one_shot(spark, docs, tmp_path, backend_cls):
    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    for epoch in range(3):
        store.apply_batch(
            spark, docs.filter(F.col("doc_id") % 3 == epoch), epoch
        )
    got = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    oneshot = build_bm25_index(docs, max_df_frac=0.98)
    want = topk_rows(bm25_topk(oneshot, QUERIES, k=10))
    assert got == want
    assert got and all(len(v) == 10 for v in got.values())
    cur = store.current()
    assert cur["n_docs"] == oneshot.n_docs
    assert cur["sum_dl"] / cur["n_docs"] == oneshot.avgdl


def test_live_stop_term_cap(spark, tmp_path):
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    early = spark.createDataFrame(
        [(0, "meme origin story"), (1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id long, text string",
    )
    store.apply_batch(spark, early, 0)
    hit = store.query(spark, [(1, "meme")], k=5, max_df_frac=0.5)
    assert topk_rows(hit)[1][0][0] == 0  # rare term → ranked
    flood = spark.createDataFrame(
        [(10 + i, f"meme flood variant {i}") for i in range(10)],
        "doc_id long, text string",
    )
    store.apply_batch(spark, flood, 1)
    # df("meme")=11 > 0.5·14 → live cap treats it as a stop-term NOW
    after = store.query(spark, [(1, "meme")], k=5, max_df_frac=0.5)
    assert after is None or after.count() == 0


def test_query_reads_are_bucket_pruned(spark, docs, tmp_path, monkeypatch):
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    store.apply_batch(spark, docs, 0)
    seen = []
    orig = store._store.read

    def spy(spark_, buckets=None, cur=None):
        seen.append(buckets)
        return orig(spark_, buckets=buckets, cur=cur)

    monkeypatch.setattr(store._store, "read", spy)
    res = store.query(spark, [(1, "dup")], k=5, max_df_frac=0.98)
    assert res is not None and res.count() > 0
    assert len(seen) == 1 and seen[0] is not None
    assert len(seen[0]) == 1  # one term → one bucket out of 8


def test_replay_never_reappends(spark, docs, tmp_path):
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0)
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1)
    cur = store.current()
    n_postings = store._store.read(spark).count()
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0)
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert store.current() == cur
    assert store._store.read(spark).count() == n_postings


def test_token_free_docs_shift_counters(spark, tmp_path):
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    blank = spark.createDataFrame(
        [(0, ""), (1, None), (2, "...")], "doc_id long, text string"
    )
    store.apply_batch(spark, blank, 0)
    cur = store.current()
    assert cur["n_docs"] == 3 and cur["sum_dl"] == 0 and cur["epoch"] == 0
    assert store._store.read(spark) is None  # no postings yet
    store.apply_batch(
        spark,
        spark.createDataFrame([(3, "alpha beta")], "doc_id long, text string"),
        1,
    )
    cur = store.current()
    assert cur["n_docs"] == 4 and cur["sum_dl"] == 2
    # idf uses N=4: the empty docs weigh in
    got = topk_rows(store.query(spark, [(1, "alpha")], k=5, max_df_frac=0.98))
    assert got[1][0][0] == 3


def test_structured_streaming_end_to_end(spark, docs, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/slice=*")
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    q = start_search_index(spark, stream, store, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    want = topk_rows(
        bm25_topk(build_bm25_index(docs, max_df_frac=0.98), QUERIES, k=10)
    )
    assert got == want


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_segment_append_never_rewrites_history(
    spark, docs, tmp_path, backend_cls
):
    """The additive write path is a SEGMENT append: each epoch writes
    only its own batch's postings (manifest lists grow, earlier segment
    files stay byte-identical on disk), yet reads union everything."""
    import os

    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 3 == 0), 0)
    m0 = store.current()["manifest"]
    # every bucket holds exactly one segment so far
    assert all(v == [0] for v in m0.values())
    # fingerprint every v=0 parquet file (path, size, mtime)
    def files_of(version):
        out = {}
        root = os.path.join(store._store.path, f"v={version}")
        for dirpath, _dirs, names in os.walk(root):
            for nm in names:
                p = os.path.join(dirpath, nm)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out
    f0 = files_of(0)
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 3 == 1), 1)
    m1 = store.current()["manifest"]
    # dense text batch: buckets accumulate segments, v=0 untouched
    assert any(v == [0, 1] for v in m1.values())
    assert files_of(0) == f0
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 3 == 2), 2)
    assert files_of(0) == f0
    # and the union read serves the exact one-shot ranking
    got = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    oneshot = build_bm25_index(docs, max_df_frac=0.98)
    assert got == topk_rows(bm25_topk(oneshot, QUERIES, k=10))


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_compaction_folds_segments_identically(
    spark, docs, tmp_path, backend_cls
):
    import os

    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    for epoch in range(4):
        store.apply_batch(
            spark, docs.filter(F.col("doc_id") % 4 == epoch), epoch
        )
    before = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    cur_before = store.current()
    assert any(
        isinstance(v, list) and len(v) > 1
        for v in cur_before["manifest"].values()
    )
    v = store.compact(spark)
    assert v is not None
    cur = store.current()
    # every bucket collapsed to the single compacted version
    assert set(
        x if not isinstance(x, list) else tuple(x)
        for x in cur["manifest"].values()
    ) == {v}
    # counters / epoch / token survived the fold
    for k in ("n_docs", "sum_dl", "epoch", "run_token"):
        assert cur.get(k) == cur_before.get(k)
    # identical ranking, and a second compact is a no-op
    assert topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98)) == before
    assert store.compact(spark) is None
    # vacuum (after one more append) drops the pre-compaction segments
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 17 == 0), 4)
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 17 == 1), 5)
    live = {f"v={x}" for x in range(v)} & set(os.listdir(store._store.path))
    assert not live  # every pre-compaction segment dir vacuumed
    assert topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))


def test_streaming_inline_compaction_bounds_segments(
    spark, docs, tmp_path, monkeypatch
):
    """MAX_SEGMENTS=2 over a 4-file stream: after the run every bucket's
    manifest entry is folded (no list longer than the window), and the
    live ranking equals the one-shot index."""
    from nexus_event_stream_spark.streaming import projection

    monkeypatch.setattr(projection, "MAX_SEGMENTS", 2)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/slice=*")
    store = BM25IndexStore(str(tmp_path / "idx"), n_buckets=8)
    q = start_search_index(spark, stream, store, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    manifest = store.current()["manifest"]
    # the last compaction ran at epoch 3 (the final epoch): everything
    # is folded to a single owning version per bucket
    assert all(
        not isinstance(v, list) or len(v) <= 2 for v in manifest.values()
    )
    got = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    want = topk_rows(
        bm25_topk(build_bm25_index(docs, max_df_frac=0.98), QUERIES, k=10)
    )
    assert got == want


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_forget_equals_never_ingested(spark, docs, tmp_path, backend_cls):
    """Right-to-be-forgotten: after forget(ids), every query answers
    EXACTLY as an index built without those docs — postings gone,
    counters exact, live idf leaves no shadow. Epoch/token preserved so
    the stream keeps appending afterwards."""
    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    for epoch in range(2):
        store.apply_batch(
            spark, docs.filter(F.col("doc_id") % 2 == epoch), epoch
        )
    victims = [int(r.doc_id) for r in docs.limit(5).collect()]
    n_before = store.current()["n_docs"]
    assert store.forget(spark, victims, mode="sweep") == 5
    cur = store.current()
    assert cur["n_docs"] == n_before - 5
    assert cur["epoch"] == 1  # maintenance, not an epoch
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    want_idx = build_bm25_index(survivors, max_df_frac=0.98)
    got = topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98))
    want = topk_rows(bm25_topk(want_idx, QUERIES, k=10))
    assert got == want
    assert cur["sum_dl"] / cur["n_docs"] == want_idx.avgdl
    # no posting of any victim anywhere
    remaining = store._store.read(spark)
    assert remaining.filter(F.col("doc_id").isin(victims)).count() == 0
    # forgetting the already-gone ids (or nothing) is a no-op
    assert store.forget(spark, victims, mode="sweep") == 0
    assert store.forget(spark, []) == 0
    # the stream keeps appending after the maintenance swing
    store.apply_batch(spark, docs.limit(0), 2)
    assert store.current()["epoch"] == 2


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_tombstone_forget_amortizes_sweep(spark, docs, tmp_path, backend_cls):
    """Default forget mode queues victims in the pointer: queries answer
    as never-ingested IMMEDIATELY, N forget calls write NO data versions,
    and the next compact() folds the single physical sweep in and clears
    the queue."""
    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend_cls()
    )
    for epoch in range(2):
        store.apply_batch(
            spark, docs.filter(F.col("doc_id") % 2 == epoch), epoch
        )
    v_before = store.current()["version"]
    n_before = store.current()["n_docs"]

    # two takedown calls, five victims total — zero data writes
    victims1 = [int(r.doc_id) for r in docs.limit(3).collect()]
    victims2 = [int(r.doc_id) for r in docs.limit(5).collect()[3:]]
    assert store.forget(spark, victims1) == 3
    assert store.forget(spark, victims2) == 2
    cur = store.current()
    assert cur["version"] == v_before  # pointer swings only, no sweep yet
    assert sorted(cur["tombstones"]) == sorted(victims1 + victims2)
    assert cur["n_docs"] == n_before - 5

    # queries exclude victims immediately — exactly the never-ingested index
    victims = victims1 + victims2
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    want = topk_rows(bm25_topk(build_bm25_index(survivors, max_df_frac=0.98), QUERIES, k=10))
    assert topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98)) == want

    # repeated takedown of queued ids: counted zero, queue unchanged
    assert store.forget(spark, victims1) == 0
    assert sorted(store.current()["tombstones"]) == sorted(victims)

    # appends carry the queue through the pointer rebuild
    store.apply_batch(spark, docs.limit(0), 2)
    assert sorted(store.current()["tombstones"]) == sorted(victims)

    # ONE compact = the single physical sweep: victims leave the parquet,
    # the queue clears, queries unchanged
    assert store.compact(spark) is not None
    cur2 = store.current()
    assert cur2["tombstones"] == []
    raw = store._store.read(spark)
    assert raw.filter(F.col("doc_id").isin(victims)).count() == 0
    assert topk_rows(store.query(spark, QUERIES, k=10, max_df_frac=0.98)) == want
    # nothing left to compact
    assert store.compact(spark) is None
