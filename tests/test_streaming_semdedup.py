"""Streaming semantic suppression (streaming/semdedup.py).

Contracts pinned (mirroring tests/test_streaming_dedup.py for the
lexical plane):
- greedy arrival-order suppression across epochs equals the batch
  ``semantic_dedup(keep='min_id')`` survivor set on clique-shaped
  duplicate groups, both commit backends
- within-batch twins: larger id loses
- same-run replay returns identical survivors and leaves the store
  unchanged; cross-run replay self-heals (cos 1 against own copy →
  everything suppresses, nothing re-registers)
- probe/append touch only the batch's centroid buckets
- centroid pinning: applying under different centroids raises
- end-to-end Structured Streaming run with an exactly-once-style sink
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.operators.semdedup import semantic_dedup
from nexus_event_stream_spark.operators.similarity import ivf_train_centroids
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.semdedup import (
    EmbeddingStore,
    start_semantic_ingest,
    suppress_and_register_semantic,
)

SF_DIR = "/root/testdata/sf0.001"
EPS = 0.99

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


@pytest.fixture(scope="module")
def corpus(spark):
    """500 base vectors + 2 planted mirrors for each of the 10 smallest
    ids (mirror ids 1_000_000·r + base) — clique duplicate groups."""
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [int(r.vec_id) for r in rows]
    vecs = [np.array(r.embedding, dtype=np.float64) for r in rows]
    rng = np.random.default_rng(7)
    by_id = dict(zip(ids, vecs))
    base = sorted(ids)[:10]
    for r in (1, 2):
        for b in base:
            ids.append(1_000_000 * r + b)
            vecs.append(by_id[b] + 1e-3 * rng.standard_normal(64))
    df_rows = [(int(i), v.tolist()) for i, v in zip(ids, vecs)]
    return df_rows, base


@pytest.fixture(scope="module")
def centroids(spark, corpus):
    df_rows, _ = corpus
    return ivf_train_centroids(
        spark.createDataFrame(df_rows, _SCHEMA), n_centroids=8, iters=3
    )


@pytest.mark.parametrize(
    "backend_cls", [PosixRenameBackend, ConditionalPutBackend]
)
def test_streamed_equals_batch_min_id(spark, corpus, centroids, tmp_path, backend_cls):
    df_rows, base = corpus
    all_df = spark.createDataFrame(df_rows, _SCHEMA)
    store = EmbeddingStore(str(tmp_path / "es"), backend=backend_cls())
    accepted: set[int] = set()
    # epochs by id band: bases arrive first, mirrors later (arrival order)
    bands = [
        lambda i: i < 1_000_000,
        lambda i: 1_000_000 <= i < 2_000_000,
        lambda i: i >= 2_000_000,
    ]
    for epoch, band in enumerate(bands):
        batch = spark.createDataFrame(
            [r for r in df_rows if band(r[0])], _SCHEMA
        )
        surv = suppress_and_register_semantic(
            spark, store, batch, centroids, epoch, "run1", eps=EPS
        )
        accepted |= {int(r.vec_id) for r in surv.collect()}
    mapping = semantic_dedup(
        all_df, eps=EPS, centroids=centroids, keep="min_id"
    )
    want = {
        int(r.vec_id)
        for r in mapping.filter(F.col("vec_id") == F.col("keep_id")).collect()
    }
    assert accepted == want
    # mirrors all suppressed, bases all kept
    assert all(b in accepted for b in base)
    assert not any(i >= 1_000_000 for i in accepted)


def test_within_batch_twin_larger_id_loses(spark, centroids, corpus, tmp_path):
    df_rows, base = corpus
    b = base[0]
    one_batch = spark.createDataFrame(
        [r for r in df_rows if r[0] in (b, 1_000_000 + b)], _SCHEMA
    )
    store = EmbeddingStore(str(tmp_path / "es"))
    surv = suppress_and_register_semantic(
        spark, store, one_batch, centroids, 0, "r", eps=EPS
    )
    assert {int(r.vec_id) for r in surv.collect()} == {b}


def test_replay_no_op_and_cross_run_self_heal(spark, corpus, centroids, tmp_path):
    df_rows, _ = corpus
    store = EmbeddingStore(str(tmp_path / "es"))
    half0 = spark.createDataFrame(df_rows[: len(df_rows) // 2], _SCHEMA)
    half1 = spark.createDataFrame(df_rows[len(df_rows) // 2 :], _SCHEMA)
    s0 = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, half0, centroids, 0, "tok", eps=EPS).collect()}
    s1 = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, half1, centroids, 1, "tok", eps=EPS).collect()}
    cur = store.current()
    n_rows = store.read(spark).count()
    # same-run replay: identical survivors, store untouched
    s1_replay = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, half1, centroids, 1, "tok", eps=EPS).collect()}
    assert s1_replay == s1
    assert store.current() == cur
    assert store.read(spark).count() == n_rows
    # cross-run replay (new token, fresh checkpoint): everything matches
    # its own registered copy at cos 1 → all suppressed, nothing appended
    s1_newrun = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, half1, centroids, 2, "tok2", eps=EPS).collect()}
    assert s1_newrun == set()
    assert store.read(spark).count() == n_rows
    assert s0 | s1 == {int(r.vec_id) for r in store.read(spark).select("vec_id").collect()}


def test_probe_touches_only_batch_buckets(spark, corpus, centroids, tmp_path):
    df_rows, _ = corpus
    store = EmbeddingStore(str(tmp_path / "es"), n_buckets=16)
    store_all = spark.createDataFrame(df_rows, _SCHEMA)
    suppress_and_register_semantic(
        spark, store, store_all, centroids, 0, "t", eps=EPS
    )
    manifest0 = dict(store.current()["manifest"])
    # one new vector far from everything — lands in exactly one centroid
    solo = spark.createDataFrame(
        [(9_999_999, (np.ones(64) * 3.0).tolist())], _SCHEMA
    )
    surv = suppress_and_register_semantic(
        spark, store, solo, centroids, 1, "t", eps=EPS
    )
    assert surv.count() == 1
    manifest1 = store.current()["manifest"]
    changed = {b for b in manifest1 if manifest1[b] != manifest0.get(b)}
    assert len(changed) == 1
    assert all(manifest1[b] == v for b, v in manifest0.items() if b not in changed)


def test_centroid_pinning(spark, corpus, centroids, tmp_path):
    df_rows, _ = corpus
    store = EmbeddingStore(str(tmp_path / "es"))
    df = spark.createDataFrame(df_rows[:50], _SCHEMA)
    suppress_and_register_semantic(spark, store, df, centroids, 0, "t", eps=EPS)
    other = np.asarray(centroids) + 0.5
    with pytest.raises(ValueError, match="centroid mismatch"):
        suppress_and_register_semantic(spark, store, df, other, 1, "t", eps=EPS)


def test_structured_streaming_end_to_end(spark, corpus, centroids, tmp_path):
    df_rows, base = corpus
    src = tmp_path / "src"
    src.mkdir()
    bands = [
        lambda i: i < 1_000_000,
        lambda i: 1_000_000 <= i < 2_000_000,
        lambda i: i >= 2_000_000,
    ]
    for i, band in enumerate(bands):
        spark.createDataFrame(
            [r for r in df_rows if band(r[0])], _SCHEMA
        ).coalesce(1).write.parquet(str(src / f"slice={i}"))
    stream = spark.readStream.schema(_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/slice=*")
    store = EmbeddingStore(str(tmp_path / "es"))
    accepted: list[int] = []
    q = start_semantic_ingest(
        spark,
        stream,
        store,
        centroids,
        str(tmp_path / "ckpt"),
        eps=EPS,
        accepted_sink=lambda df, e: accepted.extend(
            int(r.vec_id) for r in df.collect()
        ),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(accepted) == sorted(
        i for i, _ in df_rows if i < 1_000_000
    )


def test_null_embedding_rows_pass_through_unjudged(spark, corpus, centroids, tmp_path):
    df_rows, base = corpus
    store = EmbeddingStore(str(tmp_path / "es"))
    b = base[0]
    batch = spark.createDataFrame(
        [r for r in df_rows if r[0] in (b, 1_000_000 + b)]
        + [(7_000_000, None), (7_000_001, [])],
        _SCHEMA,
    )
    surv = suppress_and_register_semantic(
        spark, store, batch, centroids, 0, "t", eps=EPS
    )
    got = {int(r.vec_id) for r in surv.collect()}
    # twin suppressed; embedding-less rows pass through but never register
    assert got == {b, 7_000_000, 7_000_001}
    stored = {int(r.vec_id) for r in store.read(spark).select("vec_id").collect()}
    assert stored == {b}


def test_replay_idempotent_against_untokened_history(spark, corpus, centroids, tmp_path):
    """Review fix: history registered by an un-tokened batch call has
    NULL run/epoch; the replay probe filter must keep those rows visible
    (eqNullSafe) or a replayed epoch resurrects docs the original run
    suppressed."""
    df_rows, base = corpus
    store = EmbeddingStore(str(tmp_path / "es"))
    b = base[0]
    seed = spark.createDataFrame([r for r in df_rows if r[0] == b], _SCHEMA)
    # un-tokened seed (defaults: epoch=None, run_token=None → NULL cols)
    suppress_and_register_semantic(spark, store, seed, centroids, eps=EPS)
    twin = spark.createDataFrame(
        [r for r in df_rows if r[0] == 1_000_000 + b], _SCHEMA
    )
    s1 = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, twin, centroids, 0, "tok", eps=EPS).collect()}
    assert s1 == set()  # suppressed by the seeded base vector
    # crash-replay of epoch 0 under the same token: identical outcome —
    # the NULL-run seed row must still be in the probe
    s1_replay = {int(r.vec_id) for r in suppress_and_register_semantic(
        spark, store, twin, centroids, 0, "tok", eps=EPS).collect()}
    assert s1_replay == set()


def test_forget_removes_vectors_and_stops_future_suppression(
    spark, corpus, centroids, tmp_path
):
    """forget(ids): victims leave the store (only their centroid buckets
    rewrite), a re-arriving near-duplicate of a forgotten vector is now
    ACCEPTED (forgetting means its content stops influencing the
    corpus), and untouched vectors keep suppressing."""
    df_rows, base = corpus
    df = spark.createDataFrame(df_rows, _SCHEMA)
    store = EmbeddingStore(str(tmp_path / "es"), n_buckets=16)
    surv = suppress_and_register_semantic(
        spark, store, df, centroids, 0, "t", eps=EPS
    )
    kept = {int(r.vec_id) for r in surv.collect()}
    b0, b1 = base[0], base[1]
    assert b0 in kept and b1 in kept
    m_before = dict(store.current()["manifest"])
    # forget b0's whole clique (base + mirrors, whatever survived)
    victims = [b0, 1_000_000 + b0, 2_000_000 + b0]
    n_gone = store.forget(spark, victims)
    assert n_gone >= 1
    cur = store.current()
    # only the victims' buckets moved
    moved = [b for b in cur["manifest"] if cur["manifest"][b] != m_before.get(b)]
    assert 0 < len(moved) < len(m_before)
    remaining = store.read(spark)
    assert remaining.filter(F.col("vec_id").isin(victims)).count() == 0
    # centroids still pinned; epoch/token preserved
    assert store.pinned_centroids() is not None
    assert cur["epoch"] == 0 and cur["run_token"] == "t"
    # a fresh near-duplicate of the FORGOTTEN vector is accepted now…
    by_id = {i: v for i, v in df_rows}
    probe = spark.createDataFrame(
        [
            (5_000_000 + b0, by_id[b0]),  # twin of forgotten
            (5_000_000 + b1, by_id[b1]),  # twin of still-present
        ],
        _SCHEMA,
    )
    surv2 = {
        int(r.vec_id)
        for r in suppress_and_register_semantic(
            spark, store, probe, centroids, 1, "t", eps=EPS
        ).collect()
    }
    assert 5_000_000 + b0 in surv2
    # …while the untouched vector still suppresses its twin
    assert 5_000_000 + b1 not in surv2
    # no-ops
    assert store.forget(spark, victims) == 0
    assert store.forget(spark, []) == 0
