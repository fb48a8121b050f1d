"""Streaming perceptual suppression (streaming/phash_dedup.py): a
re-encoded/resized image arriving in a later micro-batch is suppressed
against everything already accepted; replays are no-ops; takedowns and
compaction are the inherited SignatureStore machinery; the corpus
append is exactly-once through a real Structured Streaming restart."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest

from nexus_event_stream_spark.functions.png import encode_png, resize_nearest
from nexus_event_stream_spark.streaming.phash_dedup import (
    media_signature_store,
    read_media_corpus,
    start_media_dedup_ingest,
    suppress_and_register_media,
)


def make_img(seed: int, w: int = 64, h: int = 48) -> np.ndarray:
    rng = np.random.RandomState(seed)
    x = np.linspace(0, 1, w)[None, :]
    y = np.linspace(0, 1, h)[:, None]
    f = rng.uniform(0.5, 1.2, 4)
    p = rng.uniform(0, 2 * np.pi, 2)
    img = (
        128
        + 70 * np.sin(2 * np.pi * f[0] * x + p[0]) * np.cos(2 * np.pi * f[1] * y + p[1])
        + 40 * np.sin(2 * np.pi * (f[2] * x + f[3] * y))
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def png_of(seed: int) -> bytes:
    img = make_img(seed)
    return encode_png(64, 48, img.tobytes(), 0)


def resized_png_of(seed: int) -> bytes:
    img = make_img(seed)
    return encode_png(32, 24, resize_nearest(img.tobytes(), 64, 48, 32, 24, 1), 0)


def rgb_png_of(seed: int) -> bytes:
    img = make_img(seed)
    return encode_png(64, 48, np.repeat(img[:, :, None], 3, 2).tobytes(), 2)


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="phash_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def media_df(spark, rows):
    return spark.createDataFrame(rows, "media_id long, payload binary")


def survivors_of(spark, store, rows, epoch, run="run1", **kw):
    out = suppress_and_register_media(
        spark, store, media_df(spark, rows), epoch=epoch, run_token=run, **kw
    )
    return sorted(r.media_id for r in out.collect())


def test_within_and_cross_batch_perceptual_suppression(spark, store_dir):
    store = media_signature_store(store_dir, n_buckets=16)
    # epoch 0: two distinct pictures — both survive
    assert survivors_of(
        spark, store, [(1, png_of(1)), (2, png_of(3))], 0
    ) == [1, 2]
    # epoch 1: a RESIZED copy of image 1 (fresh id) is suppressed against
    # the accepted history; a novel picture survives
    assert survivors_of(
        spark, store, [(3, resized_png_of(1)), (4, png_of(7))], 1
    ) == [4]
    # epoch 2: an RGB re-encode of image 2 is suppressed; a within-batch
    # pair of variants resolves to the smaller id
    got = survivors_of(
        spark, store,
        [(5, rgb_png_of(3)), (6, png_of(9)), (7, resized_png_of(9))], 2,
    )
    assert got == [6]


def test_replay_is_noop_and_probe_is_bucket_pruned(spark, store_dir):
    store = media_signature_store(store_dir, n_buckets=64)
    assert survivors_of(spark, store, [(1, png_of(1))], 0) == [1]
    assert survivors_of(spark, store, [(2, png_of(3))], 1) == [2]
    ver = store.current()["version"]
    # replayed epoch: same survivors, no new version — and image 2's own
    # epoch-1 postings must not suppress it
    assert survivors_of(spark, store, [(2, png_of(3))], 1) == [2]
    assert store.current()["version"] == ver
    # a one-image batch probes ≤ bands (=4) bucket dirs, never the store
    survivors_of(spark, store, [(9, png_of(7))], 2)
    probed = {p.split("__bucket=")[1] for p in store.last_probe_paths}
    assert len(probed) <= 4


def test_undecodable_payloads_survive_without_registering(spark, store_dir):
    store = media_signature_store(store_dir, n_buckets=16)
    junk = b"\x00\x01 not an image"
    assert survivors_of(
        spark, store, [(1, png_of(1)), (2, junk), (3, None)], 0
    ) == [1, 2, 3]
    # junk registered nothing: replaying the same junk bytes under a new
    # id is NOT suppressed (no pixels, no similarity claim)
    assert survivors_of(spark, store, [(9, junk)], 1) == [9]


def test_forget_and_compact_inherited_from_signature_store(spark, store_dir):
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    store = media_signature_store(store_dir, n_buckets=16)
    assert survivors_of(spark, store, [(1, png_of(1)), (2, png_of(3))], 0) == [1, 2]
    ver = store.current()["version"]
    # tombstone takedown: zero data writes, variant accepted immediately
    assert forget_signatures(spark, store, [1]) == 1
    assert store.current()["version"] == ver
    assert store.current()["tombstones"] == [1]
    assert survivors_of(spark, store, [(7, resized_png_of(1))], 1) == [7]
    # image 2 still suppresses its variants
    assert survivors_of(spark, store, [(8, rgb_png_of(3))], 2) == []
    # full compact sweeps physically and clears the queue
    store.compact(spark)
    assert store.current()["tombstones"] == []


def test_streaming_media_ingest_end_to_end_with_restart(spark, store_dir):
    base = tempfile.mkdtemp(prefix="media_stream_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    try:
        media_df(spark, [(1, png_of(1)), (2, png_of(3))]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "b0"))
        stream = spark.readStream.schema(
            "media_id long, payload binary"
        ).option("maxFilesPerTrigger", "1").parquet(src + "/*")
        q = start_media_dedup_ingest(
            spark, stream, store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # restart from the same checkpoint: a re-encoded copy + a novel image
        media_df(spark, [(3, rgb_png_of(1)), (4, png_of(7))]).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, "b1"))
        stream2 = spark.readStream.schema(
            "media_id long, payload binary"
        ).option("maxFilesPerTrigger", "1").parquet(src + "/*")
        q2 = start_media_dedup_ingest(
            spark, stream2, store_dir, corpus, ckpt, n_buckets=16
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        rows = {
            int(r.media_id): bytes(r.payload)
            for r in read_media_corpus(spark, store_dir, corpus).collect()
        }
        # 3 (re-encode of 1) suppressed; 1, 2, 4 exactly once each
        assert sorted(rows) == [1, 2, 4]
        assert rows[1] == png_of(1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_audio_kind_suppresses_clip_variants(spark, store_dir):
    """kind='audio': a volume-scaled/resampled copy of an accepted clip
    arriving in a later batch is suppressed; novel clips survive — the
    same store, posting schema, and probes as the image tier."""
    from nexus_event_stream_spark.functions.wav import encode_wav

    def make_audio(seed, n=8000, sr=8000):
        rng = np.random.RandomState(seed)
        t = np.arange(n) / sr
        f = rng.uniform(100, 900, 3)
        envf = rng.uniform(0.5, 3.0, 2)
        env = 0.6 + 0.4 * np.sin(2 * np.pi * envf[0] * t + rng.uniform(0, 6)) * np.cos(
            2 * np.pi * envf[1] * t
        )
        sig = env * (np.sin(2 * np.pi * f[0] * t) + 0.5 * np.sin(2 * np.pi * f[1] * t))
        return np.clip(sig * 12000, -32768, 32767).astype(np.int16)

    def wav(seed):
        return encode_wav(make_audio(seed).tolist(), 8000)

    def quiet(seed):
        return encode_wav(
            (make_audio(seed) * 0.3).astype(np.int16).tolist(), 8000
        )

    store = media_signature_store(store_dir, n_buckets=16)
    kw = {"kind": "audio"}
    assert survivors_of(
        spark, store, [(1, wav(0)), (2, wav(3))], 0, **kw
    ) == [1, 2]
    # quiet re-encode of clip 0 suppressed; novel clip survives
    assert survivors_of(
        spark, store, [(3, quiet(0)), (4, wav(7))], 1, **kw
    ) == [4]
    # replay no-op
    ver = store.current()["version"]
    assert survivors_of(
        spark, store, [(3, quiet(0)), (4, wav(7))], 1, **kw
    ) == [4]
    assert store.current()["version"] == ver
    # undecodable (PNG bytes in an audio stream) survives unregistered
    from nexus_event_stream_spark.functions.png import encode_png

    png = encode_png(4, 4, bytes(16), 0)
    assert survivors_of(spark, store, [(9, png)], 2, **kw) == [9]
    with pytest.raises(ValueError, match="kind"):
        suppress_and_register_media(
            spark, store, media_df(spark, [(1, wav(0))]), 3, "run1",
            kind="hologram",
        )


# ---------------------------------------------------------------------------
# video kind (r11): per-frame fingerprint arrays in the postings
# ---------------------------------------------------------------------------


def _frame(seed: int, t: float, w: int = 48, h: int = 32) -> np.ndarray:
    rng = np.random.RandomState(seed)
    x = np.linspace(0, 1, w)[None, :]
    y = np.linspace(0, 1, h)[:, None]
    f = rng.uniform(0.5, 1.2, 4)
    p = rng.uniform(0, 2 * np.pi, 2)
    img = (
        128
        + 70 * np.sin(2 * np.pi * (f[0] * x + 0.02 * t) + p[0]) * np.cos(2 * np.pi * f[1] * y + p[1])
        + 40 * np.sin(2 * np.pi * (f[2] * x + f[3] * y + 0.02 * t))
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def _clip(seed: int, fps_mult: int = 1, half: bool = False) -> bytes:
    """6-frame APNG clip; ``fps_mult=2`` re-encodes the SAME timeline at
    double frame rate; ``half`` nearest-resizes every frame."""
    from nexus_event_stream_spark.functions.png import encode_apng

    frames = [
        _frame(seed, t / fps_mult) for t in range(6 * fps_mult)
    ]
    if half:
        return encode_apng(
            24, 16,
            [resize_nearest(f.tobytes(), 48, 32, 24, 16, 1) for f in frames],
            0,
        )
    return encode_apng(48, 32, [f.tobytes() for f in frames], 0)


@pytest.fixture(params=["rename", "cas"])
def commit_backend(request):
    from nexus_event_stream_spark.streaming.commit import (
        ConditionalPutBackend,
        PosixRenameBackend,
    )

    if request.param == "rename":
        return PosixRenameBackend()
    return ConditionalPutBackend()


V_THR = 8  # resize+rate transforms compound — the batch tier's pinned margin


def test_video_kind_suppresses_later_batch_re_encodes(
    spark, store_dir, commit_backend
):
    """The r10 documented gap, closed: a 2×-fps re-encode of an ACCEPTED
    clip arriving in a later batch is suppressed via the stored
    per-frame arrays; novel clips survive; replay is a no-op; the probe
    stays bucket-pruned. Runs under BOTH pointer-commit backends."""
    store = media_signature_store(
        store_dir, n_buckets=16, backend=commit_backend, kind="video"
    )
    kw = {"kind": "video", "max_hamming": V_THR}
    # epoch 0: two distinct clips accepted
    assert survivors_of(
        spark, store, [(1, _clip(1)), (2, _clip(3))], 0, **kw
    ) == [1, 2]
    # epoch 1: a 2×-fps re-encode of clip 1 (fresh id) is suppressed
    # against the store; a novel clip survives
    assert survivors_of(
        spark, store, [(3, _clip(1, fps_mult=2)), (4, _clip(7))], 1, **kw
    ) == [4]
    # epoch 2: resized re-encode suppressed; within-batch variant pair
    # resolves to the smaller id
    assert survivors_of(
        spark, store,
        [(5, _clip(3, half=True)), (6, _clip(9)), (7, _clip(9, fps_mult=2))],
        2, **kw,
    ) == [6]
    # replay of epoch 2: same survivors, no new store version
    ver = store.current()["version"]
    assert survivors_of(
        spark, store,
        [(5, _clip(3, half=True)), (6, _clip(9)), (7, _clip(9, fps_mult=2))],
        2, **kw,
    ) == [6]
    assert store.current()["version"] == ver
    # bucket-pruned probe: one clip touches ≤ bands (=16 at this
    # threshold: the smallest 64-divisor ≥ V_THR+1) bucket dirs
    survivors_of(spark, store, [(9, _clip(11))], 3, **kw)
    probed = {p.split("__bucket=")[1] for p in store.last_probe_paths}
    assert len(probed) <= 16


def test_video_streaming_equals_batch_dedup_on_clique_groups(spark, store_dir):
    """Batch-equivalence: feeding the variant cliques in id order through
    the streaming path keeps exactly the clips perceptual_video_dedup
    keeps (greedy arrival-order == min-id keeper when ids arrive
    ordered), including undecodable payloads surviving unregistered."""
    from nexus_event_stream_spark.operators.phash import (
        perceptual_video_dedup,
    )

    rows, mid = [], 0
    for s in (1, 3, 7):
        for payload in (
            _clip(s),
            _clip(s, fps_mult=2),
            _clip(s, half=True),
        ):
            rows.append((mid, payload))
            mid += 1
    rows.append((100, b"\x00 junk, not a clip"))

    batch_keep = {
        int(r.media_id): int(r.keep_id)
        for r in perceptual_video_dedup(
            media_df(spark, rows), max_hamming=V_THR
        ).collect()
    }
    batch_survivors = sorted(m for m, k in batch_keep.items() if m == k)

    store = media_signature_store(store_dir, n_buckets=16, kind="video")
    kw = {"kind": "video", "max_hamming": V_THR}
    got = []
    # two arrival batches split mid-clique: suppression must span them
    got += survivors_of(spark, store, rows[:4], 0, **kw)
    got += survivors_of(spark, store, rows[4:], 1, **kw)
    assert sorted(got) == batch_survivors == [0, 3, 6, 100]
