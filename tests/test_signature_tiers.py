"""The probe-and-register seam shared by the signature-store tiers
(``SignatureStore.probe`` and the banded body of streaming/dedup.py).

Pins the at-least-once + idempotent-apply contract on every tier that
probes a ``SignatureStore`` (the reference consumer's redelivery rule,
data-plane/internal/projection/signal_test.go:132-151): a replayed epoch
returns the survivors of its first delivery, also when the history it
was suppressed against was registered by a call without a run token —
and the Spark job count of one banded epoch.
"""

from __future__ import annotations

import numpy as np
import pytest

from nexus_event_stream_spark.functions.png import encode_png
from nexus_event_stream_spark.streaming.bloom_dedup import (
    exact_store,
    exact_suppress_and_register,
    paragraph_suppress_and_register,
)
from nexus_event_stream_spark.streaming.dedup import (
    SignatureStore,
    suppress_and_register,
)
from nexus_event_stream_spark.streaming.exact_substr import (
    substr_store,
    substr_suppress_and_register,
)
from nexus_event_stream_spark.streaming.phash_dedup import (
    media_signature_store,
    suppress_and_register_media,
)

TEXT = (
    "the quick brown fox jumps over the lazy dog while the old river bank "
    "slowly erodes under heavy spring rain and the village children watch "
    "from the wooden bridge every single morning before school begins"
)
NEAR = TEXT.replace("wooden", "stone")
OTHER = "colorless green ideas sleep furiously under a pale winter moon tonight"
THIRD = "completely different content about distributed query engines and formats"


def _png(seed: int) -> bytes:
    """A 64x48 grayscale PNG of a seeded smooth pattern (distinct seeds
    sit far apart in dHash)."""
    rng = np.random.RandomState(seed)
    x = np.linspace(0, 1, 64)[None, :]
    y = np.linspace(0, 1, 48)[:, None]
    f = rng.uniform(0.5, 1.2, 4)
    p = rng.uniform(0, 2 * np.pi, 2)
    img = (
        128
        + 70 * np.sin(2 * np.pi * f[0] * x + p[0]) * np.cos(2 * np.pi * f[1] * y + p[1])
        + 40 * np.sin(2 * np.pi * (f[2] * x + f[3] * y))
    )
    return encode_png(64, 48, np.clip(img, 0, 255).astype(np.uint8).tobytes(), 0)


def _texts(spark, ids):
    return spark.createDataFrame([(i, TEXT) for i in ids], "doc_id long, text string")


def _lexical(spark, path, ids, epoch, token):
    out = suppress_and_register(
        spark, SignatureStore(path, n_buckets=8), _texts(spark, ids), epoch, token
    )
    return sorted(r.doc_id for r in out.collect())


def _exact(spark, path, ids, epoch, token):
    out = exact_suppress_and_register(
        spark, exact_store(path, n_buckets=8), _texts(spark, ids), epoch, token,
        expected_keys=4096,
    )
    return sorted(r.doc_id for r in out.collect())


def _paragraph(spark, path, ids, epoch, token):
    out = paragraph_suppress_and_register(
        spark, exact_store(path, n_buckets=8), _texts(spark, ids), epoch, token,
        expected_keys=4096,
    )
    return sorted((r.doc_id, r.dup_paras, r.text) for r in out.collect())


def _substring(spark, path, ids, epoch, token):
    out = substr_suppress_and_register(
        spark, substr_store(path, n_buckets=8), _texts(spark, ids), epoch, token,
        min_len=8,
    )
    return sorted((r.doc_id, r.dup_tokens, r.clean_text) for r in out.collect())


def _image(spark, path, ids, epoch, token):
    media = spark.createDataFrame(
        [(i, _png(1)) for i in ids], "media_id long, payload binary"
    )
    out = suppress_and_register_media(
        spark, media_signature_store(path, n_buckets=8), media, epoch, token
    )
    return sorted(r.media_id for r in out.collect())


#: tier → (one epoch of the tier for the given ids, its first-delivery
#: result for doc 2 carrying doc 1's content)
TIERS = {
    "lexical": (_lexical, []),
    "exact": (_exact, []),
    "paragraph": (_paragraph, [(2, 1, "")]),
    "substring": (_substring, [(2, 35, "")]),
    "image": (_image, []),
}


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_replay_against_untokened_history_is_idempotent(spark, tmp_path, tier):
    """Doc 1 is registered by a call without a token (NULL ``run`` and
    ``epoch`` on its postings); doc 2, the same content, then arrives at
    epoch 0 under token ``T`` and is suppressed. Redelivering that epoch
    must suppress it again: the replay mask drops only the postings
    epoch 0 of ``T`` wrote, never the untokened history."""
    run, first_result = TIERS[tier]
    path = str(tmp_path / "store")
    assert run(spark, path, [1], None, None) != first_result
    first = run(spark, path, [2], 0, "T")
    assert first == first_result
    assert run(spark, path, [2], 0, "T") == first


def _jobs(spark, group, call):
    """(result of ``call()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: Jobs one call of the suppress function runs on the fixed two-epoch
#: inputs below (4 cores): the touched-bucket collect (3), the one
#: materialization of the suppressed-id set (the suppression plan with
#: its AQE stage jobs), then the posting write and the corpus write,
#: which read that set instead of recomputing the plan (before it was
#: materialized: lexical 16 and 22, image 14 and 20). The caller's
#: collect of the returned survivors is not counted: it is the caller's
#: action, and its AQE stage count varies by one from run to run.
BANDED_JOBS = {"lexical": (12, 19), "image": (12, 15)}


@pytest.mark.parametrize("tier", sorted(BANDED_JOBS))
def test_banded_epoch_job_count(spark, tmp_path, tier):
    """One banded epoch (within-batch candidates, probe, verify,
    posting and corpus append) runs no more Spark jobs than before the
    two tiers shared one body, and suppresses the same docs."""
    corpus = str(tmp_path / "corpus")
    if tier == "lexical":
        store = SignatureStore(str(tmp_path / "store"), n_buckets=16)
        epochs = [[(1, TEXT), (2, OTHER)], [(3, NEAR), (4, THIRD)]]

        def epoch(e):
            docs = spark.createDataFrame(epochs[e], "doc_id long, text string")
            return suppress_and_register(
                spark, store, docs, e, "run1", corpus_path=corpus
            )

    else:
        store = media_signature_store(str(tmp_path / "store"), n_buckets=16)
        epochs = [[(1, _png(1)), (2, _png(3))], [(3, _png(1)), (4, _png(7))]]

        def epoch(e):
            media = spark.createDataFrame(
                epochs[e], "media_id long, payload binary"
            )
            return suppress_and_register_media(
                spark, store, media, e, "run1", corpus_path=corpus
            )

    out0, jobs0 = _jobs(spark, f"{tier}-e0", lambda: epoch(0))
    out1, jobs1 = _jobs(spark, f"{tier}-e1", lambda: epoch(1))
    assert [sorted(r[0] for r in o.collect()) for o in (out0, out1)] == [
        [1, 2],
        [4],
    ]
    cap0, cap1 = BANDED_JOBS[tier]
    assert jobs0 <= cap0 and jobs1 <= cap1, (jobs0, jobs1)
