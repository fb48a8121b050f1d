"""One crash-and-replay pin for the whole bucketed store family.

Every bucketed store — the LWW view itself, and the rollup, BM25,
embedding and signature stores that delegate to it — publishes an epoch
through ``BucketedViewStore._commit``: data directories first, then one
pointer swing. The reference's consumer contract (write, then commit,
then apply idempotently on redelivery) must therefore hold for each of
them in the same way. Here the inner store's commit raises once, after
the epoch's data write; the same epoch is redelivered with the same run
token. The store must end equal to a crash-free run — same pointer,
same stored rows — and a second redelivery must change nothing. Both
commit backends.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.schemas import EVENT_SCHEMA
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.dedup import (
    SignatureStore,
    suppress_and_register,
)
from nexus_event_stream_spark.streaming.projection import (
    BucketedViewStore,
    apply_batch_bucketed,
)
from nexus_event_stream_spark.streaming.rollup import RollupStore
from nexus_event_stream_spark.streaming.search_index import BM25IndexStore
from nexus_event_stream_spark.streaming.semdedup import (
    EmbeddingStore,
    suppress_and_register_semantic,
)

TOKEN = "run1"
TS = dt.datetime(2026, 2, 23, 15, 0, tzinfo=dt.timezone.utc)

A_TEXT = (
    "the quick brown fox jumps over the lazy dog while the old river bank "
    "slowly erodes under heavy spring rain and the village children watch "
    "from the wooden bridge every single morning before school begins"
)


def _view(spark, sf_dir, path, backend):
    def ev(action, id_, minute, title):
        t = TS + dt.timedelta(minutes=minute)
        return (action, id_, title, "c", "High", "otavio", t, t)

    batches = [
        [ev("created", f"k{i}", i, "a") for i in range(12)],
        # epoch 1 updates, deletes and creates: a real merge
        [ev("updated", "k1", 30, "b"), ev("deleted", "k2", 31, "b"),
         ev("created", "k20", 32, "b")],
    ]
    store = BucketedViewStore(path, n_buckets=8, backend=backend)

    def apply(e):
        apply_batch_bucketed(
            spark, store, spark.createDataFrame(batches[e], EVENT_SCHEMA),
            e, TOKEN,
        )

    return store, apply


def _rollup(spark, sf_dir, path, backend):
    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    half = F.pmod(F.xxhash64("ts", "value"), F.lit(2))
    batches = [events.filter(half == 0), events.filter(half == 1)]
    store = RollupStore(path, n_buckets=8, backend=backend)
    return store, lambda e: store.apply_batch(spark, batches[e], e, TOKEN)


def _bm25(spark, sf_dir, path, backend):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(60)
    )
    batches = [docs.filter(F.col("doc_id") % 2 == e) for e in (0, 1)]
    store = BM25IndexStore(path, n_buckets=8, backend=backend)
    return store, lambda e: store.apply_batch(spark, batches[e], e, TOKEN)


def _embedding(spark, sf_dir, path, backend):
    rng = np.random.default_rng(5)
    centroids = rng.standard_normal((4, 8))
    vecs = rng.standard_normal((24, 8))
    # epoch 1 repeats three of epoch 0's vectors: cross-batch suppression
    rows = [(i, vecs[i].tolist()) for i in range(12)]
    rows += [(100 + i, vecs[i].tolist()) for i in range(3)]
    rows += [(i, vecs[i].tolist()) for i in range(12, 20)]
    batches = [rows[:12], rows[12:]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    store = EmbeddingStore(path, n_buckets=8, backend=backend)

    def apply(e):
        suppress_and_register_semantic(
            spark, store, spark.createDataFrame(batches[e], schema),
            centroids, e, TOKEN, eps=0.99,
        )

    return store, apply


def _signature(spark, sf_dir, path, backend):
    batches = [
        [(1, A_TEXT), (2, "colorless green ideas sleep furiously tonight")],
        # a near-dup of 1 (suppressed against the store) and a novel doc
        [(3, A_TEXT.replace("wooden", "stone")),
         (4, "different content about columnar formats and query engines")],
    ]
    store = SignatureStore(path, n_buckets=16, backend=backend)

    def apply(e):
        suppress_and_register(
            spark, store,
            spark.createDataFrame(batches[e], "doc_id long, text string"),
            e, TOKEN,
        )

    return store, apply


STORES = {
    "view": _view,
    "rollup": _rollup,
    "bm25": _bm25,
    "embedding": _embedding,
    "signature": _signature,
}


def _inner(store) -> BucketedViewStore:
    return getattr(store, "_store", store)


def _state(spark, store):
    inner = _inner(store)
    df = inner.read(spark)
    rows = [] if df is None else sorted(repr(tuple(r)) for r in df.collect())
    return inner.current(), rows


@pytest.mark.parametrize("backend_cls", [PosixRenameBackend, ConditionalPutBackend])
@pytest.mark.parametrize("kind", sorted(STORES))
def test_crash_after_data_write_replays_to_crash_free_state(
    spark, sf_dir, tmp_path, kind, backend_cls
):
    ref, ref_apply = STORES[kind](
        spark, sf_dir, str(tmp_path / "ref"), backend_cls()
    )
    ref_apply(0)
    ref_apply(1)
    want = _state(spark, ref)
    assert want[0]["epoch"] == 1 and want[1]

    store, apply = STORES[kind](
        spark, sf_dir, str(tmp_path / "crash"), backend_cls()
    )
    apply(0)
    inner = _inner(store)
    real_commit = inner._commit
    crashed = []

    def commit_crashing_once(pointer, expected=None):
        if not crashed:
            crashed.append(pointer)
            raise OSError("injected crash between data write and commit")
        real_commit(pointer, expected)

    inner._commit = commit_crashing_once
    with pytest.raises(OSError, match="injected crash"):
        apply(1)
    # the crash hit AFTER the data write: the epoch's version directory
    # is on disk, and the pointer still names epoch 0
    assert os.path.isdir(os.path.join(inner.path, f"v={crashed[0]['version']}"))
    assert inner.current()["epoch"] == 0

    apply(1)  # redelivery, same epoch and token
    assert _state(spark, store) == want
    apply(1)  # a second redelivery is a no-op
    assert _state(spark, store) == want
