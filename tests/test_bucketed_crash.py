"""One crash-and-replay pin for every snapshot store.

Every store publishes an epoch through the one ``PointerStore._commit``
seam (streaming/commit.py): data first, then one pointer swing. That
holds for the bucketed family (the LWW view itself, and the rollup,
BM25, embedding and signature stores that delegate to it), the
full-snapshot view, the CMS store, the drift monitor, the ANN index and
the sharded corpus sink. The reference's consumer contract (write, then
commit, then apply idempotently on redelivery) must therefore hold for
each of them in the same way. Here the store's commit raises once, after
the epoch's data write; the same epoch is redelivered with the same run
token. The store must end equal to a crash-free run — same pointer,
same stored rows — and a second redelivery must change nothing. Both
commit backends.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.schemas import EVENT_SCHEMA
from nexus_event_stream_spark.sources.shards import ShardedCorpusWriter
from nexus_event_stream_spark.streaming.ann_index import PQIndexStore
from nexus_event_stream_spark.streaming.cms_store import CMSStore
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.dedup import (
    SignatureStore,
    suppress_and_register,
)
from nexus_event_stream_spark.streaming.profile import StreamingProfileMonitor
from nexus_event_stream_spark.streaming.projection import (
    BucketedViewStore,
    ParquetViewStore,
    apply_batch,
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


def _view_batches():
    def ev(action, id_, minute, title):
        t = TS + dt.timedelta(minutes=minute)
        return (action, id_, title, "c", "High", "otavio", t, t)

    return [
        [ev("created", f"k{i}", i, "a") for i in range(12)],
        # epoch 1 updates, deletes and creates: a real merge
        [ev("updated", "k1", 30, "b"), ev("deleted", "k2", 31, "b"),
         ev("created", "k20", 32, "b")],
    ]


def _view(spark, sf_dir, path, backend):
    batches = _view_batches()
    store = BucketedViewStore(path, n_buckets=8, backend=backend)

    def apply(e):
        apply_batch_bucketed(
            spark, store, spark.createDataFrame(batches[e], EVENT_SCHEMA),
            e, TOKEN,
        )

    return store, apply


def _parquet_view(spark, sf_dir, path, backend):
    batches = _view_batches()
    store = ParquetViewStore(path, backend=backend)

    def apply(e):
        apply_batch(
            spark, store, spark.createDataFrame(batches[e], EVENT_SCHEMA),
            e, TOKEN,
        )

    return store, apply


def _documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return [docs.filter(F.col("doc_id") % 2 == e).limit(30) for e in (0, 1)]


def _cms(spark, sf_dir, path, backend):
    batches = _documents(spark, sf_dir)
    store = CMSStore(path, w=64, d=3, backend=backend)

    def apply(e):
        store.apply_batch(
            batches[e], F.substring("text", 1, 3), epoch=e, run_token=TOKEN
        )

    return store, apply


def _profile(spark, sf_dir, path, backend):
    batches = _documents(spark, sf_dir)
    os.makedirs(path)
    store = StreamingProfileMonitor(
        os.path.join(path, "profile.json"), backend=backend
    )
    return store, lambda e: store.apply_batch(batches[e], e, TOKEN)


def _ann(spark, sf_dir, path, backend):
    corpus = load_table(spark, sf_dir, "embeddings").limit(60)
    rng = np.random.default_rng(5)
    dim = len(corpus.first()["embedding"])
    # frozen quantizers: any fixed codebooks exercise the append path
    store = PQIndexStore(
        path,
        centroids=rng.standard_normal((4, dim)),
        codebooks=rng.standard_normal((4, 8, dim // 4)),
        backend=backend,
    )
    batches = [corpus.filter(F.col("vec_id") % 2 == e) for e in (0, 1)]
    return store, lambda e: store.append(batches[e], e, TOKEN)


def _shards(spark, sf_dir, path, backend):
    batches = _documents(spark, sf_dir)
    store = ShardedCorpusWriter(path, n_shards=4, backend=backend)
    return store, lambda e: store.append(batches[e], e)


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
    "parquet_view": _parquet_view,
    "cms": _cms,
    "profile": _profile,
    "ann": _ann,
    "shards": _shards,
}


def _inner(store):
    """The ``PointerStore`` that owns the pointer: the bucketed delegates
    forward to an inner ``BucketedViewStore``."""
    return getattr(store, "_store", store)


def _pointer(inner):
    """The committed pointer, made comparable across two store roots.
    The ANN index records absolute epoch paths, so the root is masked.
    The shard sink names each attempt's directory with a random token and
    stamps ``created_unix``: a redelivery writes a fresh attempt dir, at
    its own time, so the token and the stamp differ from a crash-free
    run's by design and are dropped."""
    ptr = inner.current()
    if isinstance(inner, PQIndexStore):
        ptr = json.loads(json.dumps(ptr).replace(inner.path, "<root>"))
    if isinstance(inner, ShardedCorpusWriter):
        ptr = {k: v for k, v in ptr.items() if k != "created_unix"}
        ptr["dirs"] = [re.sub(r"-[0-9a-f]{8}$", "", d) for d in ptr["dirs"]]
    return ptr


def _rows(spark, inner):
    if isinstance(inner, CMSStore):
        return [inner.current_sketch().to_dict()]
    if isinstance(inner, StreamingProfileMonitor):
        return [inner.profile.to_json()]
    df = inner.read(spark)
    return [] if df is None else sorted(repr(tuple(r)) for r in df.collect())


def _state(spark, store):
    inner = _inner(store)
    return _pointer(inner), _rows(spark, inner)


def _written(inner, pointer):
    """The data directory the refused ``pointer`` would have published
    (None for the CMS store and the monitor, whose state IS the pointer)."""
    if isinstance(inner, (BucketedViewStore, ParquetViewStore)):
        return os.path.join(inner.path, f"v={pointer['version']}")
    if isinstance(inner, PQIndexStore):
        return pointer["dirs"][-1]
    if isinstance(inner, ShardedCorpusWriter):
        return os.path.join(inner.root, pointer["dirs"][-1])
    return None


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
    # the shard sink's epoch watermark is ``max_epoch``
    assert want[0].get("epoch", want[0].get("max_epoch")) == 1 and want[1]

    store, apply = STORES[kind](
        spark, sf_dir, str(tmp_path / "crash"), backend_cls()
    )
    apply(0)
    inner = _inner(store)
    before = inner.current()
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
    # the crash hit AFTER the data write: the epoch's data directory is
    # on disk, and the pointer is still epoch 0's
    written = _written(inner, crashed[0])
    assert written is None or os.path.isdir(written)
    assert inner.current() == before

    apply(1)  # redelivery, same epoch and token
    assert _state(spark, store) == want
    apply(1)  # a second redelivery is a no-op
    assert _state(spark, store) == want
