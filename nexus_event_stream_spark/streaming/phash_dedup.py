"""Streaming perceptual near-dup suppression for media columns —
cross-batch dHash banding in the ingest path (images, audio, and —
r11 — video via per-frame fingerprint arrays in the postings).

The multimodal twin of streaming/dedup.py: a crawl's media stream is
full of the SAME picture re-encoded, resized, or color-converted, and a
100 TB ingest must suppress those AS THEY ARRIVE against everything
already accepted — at per-batch cost O(|batch| + touched buckets),
never a rescan of the accumulated media corpus. This module composes
the batch perceptual operators (operators/phash.py) with the
SignatureStore machinery the lexical tier already hardened:

- the store IS a ``SignatureStore`` with a perceptual posting schema
  (``bucket_key`` = phash band key, ``phash`` instead of shingles) —
  bucket layout, atomic pointer commit, partial compaction, takedown
  tombstones (``forget_signatures`` works UNCHANGED on media ids), and
  the vacuum grace window are all inherited, not re-implemented;
- each ``foreachBatch``: one Arrow decode pass → 64-bit dHash per image
  (payloads never move again), then the lexical tier's banded body
  (``dedup._suppress_banded``) with dHash band keys and an exact
  ``bit_count`` Hamming verify as its ``close`` predicate: within-batch
  banded pairs (the ``bucket_candidates`` star-cap primitive) →
  ``SignatureStore.probe`` of the store's touched band buckets →
  verify → survivors' postings registered back, survivors optionally
  appended to a media corpus under the SAME pointer commit
  (exactly-once, the lexical tier's contract);
- replayed epochs recompute the same survivor set and skip the append
  (the store's idempotent guard) — restart-safe by construction.

Recall note: banding with ``bands ≥ max_hamming+1`` is pigeonhole-EXACT
within a batch and against the store, so streamed suppression admits
the same pairs the batch ``perceptual_dedup`` would (greedy
arrival-order keeper instead of the global min-id keeper — the same
deliberate difference the lexical twin documents).

Undecodable payloads (no pixels in this environment — JPEG entropy
decode etc., see operators/phash.py ``decoder_fn``) always SURVIVE and
register nothing: no pixels, no similarity claim, and the corpus keeps
the row for a capable downstream decoder.

No reference counterpart — north-star multimodal × dedup × streaming
tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_event_stream_spark.operators.phash import (
    _bands_for,
    perceptual_audio_hashes,
    perceptual_hashes,
    perceptual_video_hashes,
    phash_band_keys,
)

from .dedup import SignatureStore, _suppress_banded, run_token_for

__all__ = [
    "PHASH_POSTING_SCHEMA",
    "VIDEO_PHASH_POSTING_SCHEMA",
    "media_signature_store",
    "suppress_and_register_media",
    "start_media_dedup_ingest",
    "read_media_corpus",
]

#: Perceptual posting schema — same key columns as the lexical store
#: (``bucket_key``/``doc_id`` drive bucketing, probes, tombstones,
#: forget, compaction), with the 64-bit fingerprint as the verify
#: payload instead of a shingle set.
PHASH_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

#: Video posting schema (r11): the verify payload is the PER-FRAME
#: fingerprint ARRAY — the bucket keys band frame 0 (pigeonhole-exact
#: for the max-aligned-frame-Hamming rule, operators/phash.py
#: ``video_phash_pairs``), the stored array answers the full verify.
VIDEO_PHASH_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
        T.StructField("vhash", T.ArrayType(T.LongType())),
    ]
)


def media_signature_store(
    path: str,
    n_buckets: int = 64,
    backend=None,
    kind: str = "image",
) -> SignatureStore:
    """A ``SignatureStore`` carrying perceptual postings — every store
    behavior (append/probe/compact/forget/tombstones/corpus commit) is
    the lexical implementation verbatim. ``kind="video"`` swaps in the
    per-frame-array posting schema; image and audio share the scalar
    one. One store per modality."""
    schema = (
        VIDEO_PHASH_POSTING_SCHEMA if kind == "video" else PHASH_POSTING_SCHEMA
    )
    return SignatureStore(
        path, n_buckets=n_buckets, backend=backend, schema=schema
    )


def suppress_and_register_media(
    spark: SparkSession,
    store: SignatureStore,
    media: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    max_hamming: int = 3,
    bands: int | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
    corpus_path: str | None = None,
    max_bucket_size: int | None = None,
    decoder_fn=None,
    kind: str = "image",
) -> DataFrame:
    """One micro-batch of perceptual suppression: returns the surviving
    rows of ``media`` and registers their fingerprints. When
    ``corpus_path`` is given the survivors also land there under the
    store's single pointer commit (exactly-once media corpus).

    ``kind`` picks the fingerprint family: ``"image"`` (dHash over
    pixels), ``"audio"`` (energy-envelope dHash) — one int64 each — or
    ``"video"`` (r11: the PER-FRAME fingerprint array rides the posting
    as the verify payload — ``media_signature_store(kind="video")``
    picks that schema; bucket keys band frame 0, which is
    pigeonhole-exact for the max-aligned-frame-Hamming rule because a
    qualifying pair's frame-0 distance is ≤ ``max_hamming`` by
    definition — banding the other frames would only surface pairs the
    full-array verify rejects, the ``video_phash_pairs`` argument).
    Banding, probes, tombstones, forget, and compaction are IDENTICAL
    across kinds; run each modality against its OWN store.

    Suppression rule (greedy, arrival-order — the lexical twin's): an
    image is dropped iff a fingerprint within ``max_hamming`` bits
    exists among (a) already-accepted images in the store or (b)
    same-batch images with a smaller id. A re-encoded/resized replay of
    an accepted picture lands within the threshold and is suppressed.
    For video the distance is the MAX per-aligned-frame Hamming, and
    signatures with different frame counts never match (a deployment
    that changes ``n_samples`` starts a new store).

    Per-batch cost: one Arrow decode pass over the batch, a banded
    self-join over the batch's fingerprints (``max_bucket_size`` stars
    hot flat-color buckets), and a probe of ONLY the store buckets the
    batch's band keys hash into (``store.last_probe_paths`` pins that).
    """
    if kind not in ("image", "audio", "video"):
        raise ValueError(f"kind must be image|audio|video, got {kind!r}")
    if bands is None:
        bands = _bands_for(max_hamming)
    if kind == "video":
        hashes = perceptual_video_hashes(
            media, id_col, payload_col, decoder_fn=decoder_fn
        ).persist()
        fp = "vhash"

        def _ham(a: Column, b: Column) -> Column:
            # zip_with pads the shorter array with NULLs and array_max
            # skips them — unequal frame counts must NOT match, so the
            # size guard forces them past any threshold
            aligned = F.array_max(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)))
            )
            return F.when(F.size(a) == F.size(b), aligned).otherwise(F.lit(64))

        band_src = F.col(fp)[0]
    else:
        hasher = (
            perceptual_hashes if kind == "image" else perceptual_audio_hashes
        )
        hashes = hasher(
            media, id_col, payload_col, decoder_fn=decoder_fn
        ).persist()
        fp = "phash"

        def _ham(a: Column, b: Column) -> Column:
            return F.bit_count(a.bitwiseXOR(b))

        band_src = F.col(fp)

    try:
        return _suppress_banded(
            spark,
            store,
            media,
            hashes.filter(F.col(fp).isNotNull()).select(
                F.col(id_col).alias("doc_id"), fp
            ),
            phash_band_keys(band_src, bands),
            fp,
            lambda a, b: _ham(a, b) <= max_hamming,
            epoch,
            run_token,
            id_col,
            corpus_path,
            max_bucket_size,
        )
    finally:
        hashes.unpersist()


def start_media_dedup_ingest(
    spark: SparkSession,
    media_stream: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint_path: str,
    n_buckets: int = 64,
    max_hamming: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_bucket_size: int | None = None,
    decoder_fn=None,
    kind: str = "image",
):
    """Wire a media stream into a perceptually-deduped corpus sink —
    ``start_dedup_ingest`` for images (``kind="audio"`` for clips).
    Exactly-once corpus append, the checkpoint-stable run token, and
    replay no-ops are the lexical path's (shared machinery). Returns
    the StreamingQuery."""
    run_token = run_token_for(checkpoint_path)
    store = media_signature_store(store_path, n_buckets=n_buckets, kind=kind)

    def _apply(batch: DataFrame, epoch: int) -> None:
        if store.guard.is_replay(store.current(), epoch, run_token):
            return
        suppress_and_register_media(
            spark,
            store,
            batch,
            epoch,
            run_token,
            max_hamming=max_hamming,
            id_col=id_col,
            payload_col=payload_col,
            corpus_path=corpus_path,
            max_bucket_size=max_bucket_size,
            decoder_fn=decoder_fn,
            kind=kind,
        )

    return (
        media_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
        .start()
    )


def read_media_corpus(
    spark: SparkSession, store_path: str, corpus_path: str
) -> DataFrame | None:
    """Committed view of a ``start_media_dedup_ingest`` corpus
    (pointer-listed versions only; crash leftovers invisible)."""
    return media_signature_store(store_path).read_corpus(spark, corpus_path)
