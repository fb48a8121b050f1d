"""Perceptual image near-dup dedup (operators/phash.py): planted
resized/re-encoded PNG duplicates collapse to one keeper, distinct
images survive, banding is exact at the threshold (brute-force oracle),
undecodable formats pass through as singletons, and the plan is one
band shuffle — no cartesian, no per-pair decode."""

from __future__ import annotations

import numpy as np
import pytest

from nexus_event_stream_spark.functions.jpeg import synthesize_jpeg
from nexus_event_stream_spark.functions.png import encode_png, resize_nearest
from nexus_event_stream_spark.operators.phash import (
    default_image_decoder,
    dhash_bytes,
    perceptual_dedup,
    perceptual_hashes,
    phash_pairs,
)


def make_img(seed: int, w: int = 64, h: int = 48) -> np.ndarray:
    """Deterministic smooth test image (low-frequency sinusoids — the
    regime where nearest-resize keeps the perceptual signature)."""
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


def variants(seed: int) -> list[bytes]:
    """Original + nearest-downscale + nearest-upscale + RGB re-encode of
    the same picture — the duplicate classes md5 dedup misses."""
    img = make_img(seed)
    return [
        encode_png(64, 48, img.tobytes(), 0),
        encode_png(32, 24, resize_nearest(img.tobytes(), 64, 48, 32, 24, 1), 0),
        encode_png(96, 80, resize_nearest(img.tobytes(), 64, 48, 96, 80, 1), 0),
        encode_png(64, 48, np.repeat(img[:, :, None], 3, 2).tobytes(), 2),
    ]


SEEDS = [1, 3, 7, 9]


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    mid = 0
    for s in SEEDS:
        for payload in variants(s):
            rows.append((mid, s, payload))
            mid += 1
    # undecodable tail: a (filler-scan) JPEG, junk bytes, NULL
    rows += [
        (100, -1, synthesize_jpeg(8, 8)),
        (101, -1, b"\x00\x01 not an image"),
        (102, -1, None),
    ]
    return spark.createDataFrame(
        rows, "media_id long, seed long, payload binary"
    )


def test_dhash_invariances_and_separation():
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    hashes = {}
    for s in SEEDS:
        hs = [dhash_bytes(default_image_decoder(p)) for p in variants(s)]
        hashes[s] = hs
        assert max(ham(a, b) for a in hs for b in hs) <= 3
    # brightness shift flips nothing (comparisons are relative)
    img = make_img(1)
    shifted = np.clip(img.astype(int) + 30, 0, 255).astype(np.float64)
    assert ham(dhash_bytes(img.astype(np.float64)), dhash_bytes(shifted)) == 0
    # distinct pictures are far apart
    for i, a in enumerate(SEEDS):
        for b in SEEDS[i + 1 :]:
            assert min(ham(x, y) for x in hashes[a] for y in hashes[b]) > 10


def test_perceptual_hashes_kernel(spark, media):
    rows = {int(r.media_id): r for r in perceptual_hashes(media).collect()}
    assert len(rows) == len(SEEDS) * 4 + 3
    # driver-twin equality for every decodable payload
    mid = 0
    for s in SEEDS:
        for payload in variants(s):
            r = rows[mid]
            assert r.decoded and r.phash == dhash_bytes(
                default_image_decoder(payload)
            )
            mid += 1
    # dimensions come from the DECODED image
    assert (rows[0].width, rows[0].height) == (64, 48)
    assert (rows[1].width, rows[1].height) == (32, 24)
    # undecodable: flagged, null hash, never a crash
    for bad in (100, 101, 102):
        assert not rows[bad].decoded and rows[bad].phash is None
    # zero shuffle
    plan = perceptual_hashes(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_phash_pairs_match_bruteforce_oracle(spark, media):
    """Banding at bands >= max_hamming+1 is EXACT (pigeonhole): the
    operator must return precisely the brute-force pair set."""
    hashes = perceptual_hashes(media)
    got = {
        (int(r.id_a), int(r.id_b), int(r.hamming))
        for r in phash_pairs(hashes, max_hamming=3).collect()
    }
    hs = {
        int(r.media_id): int(r.phash)
        for r in hashes.collect()
        if r.phash is not None
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    ids = sorted(hs)
    want = {
        (a, b, ham(hs[a], hs[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(hs[a], hs[b]) <= 3
    }
    assert got == want and len(want) >= len(SEEDS) * 6  # 4 variants → C(4,2)


def test_perceptual_dedup_collapses_variants(spark, media):
    out = perceptual_dedup(media).collect()
    keep = {int(r.media_id): int(r.keep_id) for r in out}
    decoded = {int(r.media_id): bool(r.decoded) for r in out}
    # each seed's 4 variants collapse to the smallest id of the group
    mid = 0
    for s in SEEDS:
        group = list(range(mid, mid + 4))
        assert {keep[m] for m in group} == {group[0]}
        mid += 4
    # distinct seeds keep distinct keepers; undecodables map to self
    assert len({keep[m] for m in range(0, len(SEEDS) * 4, 4)}) == len(SEEDS)
    for bad in (100, 101, 102):
        assert keep[bad] == bad and not decoded[bad]
    # the deduplicated corpus: one keeper per seed + the 3 singletons
    kept = sorted({k for k in keep.values()})
    assert kept == [0, 4, 8, 12, 100, 101, 102]


def test_jpeg_twins_collapse_with_the_default_decoder(spark):
    """r10 verdict item: JPEG is the dominant crawled format — with the
    codec wired in, re-encoded / resized / RGB / 4:2:0 / (r11)
    PROGRESSIVE JPEG twins of a PNG original must collapse WITHOUT any
    decoder_fn, while a structurally-invalid marker-flipped stream
    stays on the decoder_fn boundary (undecodable → mapped to
    itself)."""
    from nexus_event_stream_spark.functions.jpeg_codec import (
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )

    rows = []
    mid = 0
    for s in SEEDS[:2]:
        img = make_img(s)
        big = np.frombuffer(
            resize_nearest(img.tobytes(), 64, 48, 96, 80, 1), dtype=np.uint8
        ).reshape(80, 96)
        variants_jpeg = [
            encode_png(64, 48, img.tobytes(), 0),  # PNG original
            encode_baseline_jpeg(img, quality=90),  # JPEG re-encode
            encode_baseline_jpeg(img, quality=60),  # harsher quantization
            encode_baseline_jpeg(big, quality=85),  # resized JPEG
            encode_baseline_jpeg(  # RGB 4:2:0 JPEG
                np.repeat(img[:, :, None], 3, 2),
                quality=85,
                subsampling="4:2:0",
            ),
            encode_progressive_jpeg(img, quality=90),  # progressive (r11)
        ]
        for payload in variants_jpeg:
            rows.append((mid, s, payload))
            mid += 1
    # a marker-flipped frankenstream (baseline scan under an SOF2 frame
    # header) is structurally invalid for BOTH profiles — it must stay
    # on the decoder_fn boundary even with the progressive decoder live
    prog = bytearray(encode_baseline_jpeg(make_img(SEEDS[0]), quality=90))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    rows.append((100, -1, bytes(prog)))
    df = spark.createDataFrame(rows, "media_id long, seed long, payload binary")
    out = perceptual_dedup(df).collect()
    keep = {int(r.media_id): int(r.keep_id) for r in out}
    decoded = {int(r.media_id): bool(r.decoded) for r in out}
    assert {keep[m] for m in range(0, 6)} == {0}
    assert {keep[m] for m in range(6, 12)} == {6}
    assert keep[100] == 100 and not decoded[100]


def test_hot_bucket_star_cap_keeps_groups(spark):
    """Many copies of one flat image (the image-corpus boilerplate
    bucket): the star cap bounds pair traffic but the component — and
    therefore the keeper mapping — is unchanged."""
    img = make_img(1)
    png = encode_png(64, 48, img.tobytes(), 0)
    media = spark.createDataFrame(
        [(i, png) for i in range(30)] + [(99, encode_png(64, 48, make_img(3).tobytes(), 0))],
        "media_id long, payload binary",
    )
    exact = {
        (int(r.media_id), int(r.keep_id))
        for r in perceptual_dedup(media).collect()
    }
    capped = {
        (int(r.media_id), int(r.keep_id))
        for r in perceptual_dedup(media, max_bucket_size=5).collect()
    }
    assert capped == exact
    assert {k for _m, k in exact} == {0, 99}


def test_decoder_fn_boundary(spark):
    """A production decoder plugs in per-format without touching the
    Spark plumbing — here a fake 'raw gray' format."""

    def raw_decoder(payload: bytes):
        if payload[:4] != b"RAW0":
            return None
        w = payload[4]
        h = payload[5]
        return np.frombuffer(payload[6 : 6 + w * h], dtype=np.uint8).reshape(
            h, w
        ).astype(np.float64)

    img = make_img(1)
    raw = b"RAW0" + bytes([64, 48]) + img.tobytes()
    media = spark.createDataFrame(
        [(1, raw), (2, raw), (3, b"RAW0" + bytes([64, 48]) + make_img(3).tobytes())],
        "media_id long, payload binary",
    )
    keep = {
        int(r.media_id): int(r.keep_id)
        for r in perceptual_dedup(media, decoder_fn=raw_decoder).collect()
    }
    assert keep == {1: 1, 2: 1, 3: 3}


def test_pairs_plan_shape(spark, media):
    plan = (
        phash_pairs(perceptual_hashes(media), max_hamming=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# audio fingerprints (real WAV decode) — the same perceptual family
# ---------------------------------------------------------------------------


def make_audio(seed: int, n: int = 8000, sr: int = 8000) -> np.ndarray:
    rng = np.random.RandomState(seed)
    t = np.arange(n) / sr
    f = rng.uniform(100, 900, 3)
    envf = rng.uniform(0.5, 3.0, 2)
    env = 0.6 + 0.4 * np.sin(2 * np.pi * envf[0] * t + rng.uniform(0, 6)) * np.cos(
        2 * np.pi * envf[1] * t
    )
    sig = env * (np.sin(2 * np.pi * f[0] * t) + 0.5 * np.sin(2 * np.pi * f[1] * t))
    return np.clip(sig * 12000, -32768, 32767).astype(np.int16)


def _resample_nearest(x: np.ndarray, m: int) -> np.ndarray:
    return x[(np.arange(m) * len(x)) // m]


def audio_variants(seed: int) -> list[bytes]:
    """Original + volume-scaled + down/up-resampled + stereo twin of the
    same clip — the duplicate classes an exact byte hash misses."""
    from nexus_event_stream_spark.functions.wav import encode_wav

    a = make_audio(seed)
    stereo = np.repeat(a, 2)  # L == R interleaved
    return [
        encode_wav(a.tolist(), 8000),
        encode_wav((a * 0.3).astype(np.int16).tolist(), 8000),
        encode_wav(_resample_nearest(a, 5512).tolist(), 5512),
        encode_wav(_resample_nearest(a, 11025).tolist(), 11025),
        encode_wav(stereo.tolist(), 8000, channels=2),
    ]


A_SEEDS = [0, 3, 4, 7]


def test_audio_dhash_invariances_and_separation():
    from nexus_event_stream_spark.operators.phash import (
        audio_dhash_bytes,
        default_audio_decoder,
    )

    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    hashes = {}
    for s in A_SEEDS:
        hs = [
            audio_dhash_bytes(default_audio_decoder(p))
            for p in audio_variants(s)
        ]
        hashes[s] = hs
        assert max(ham(a, b) for a in hs for b in hs) <= 3, s
    for i, a in enumerate(A_SEEDS):
        for b in A_SEEDS[i + 1 :]:
            assert min(ham(x, y) for x in hashes[a] for y in hashes[b]) > 10


def test_perceptual_audio_dedup_collapses_variants(spark):
    from nexus_event_stream_spark.functions.jpeg import synthesize_jpeg
    from nexus_event_stream_spark.operators.phash import (
        perceptual_audio_dedup,
        perceptual_audio_hashes,
    )

    rows, mid = [], 0
    for s in A_SEEDS:
        for payload in audio_variants(s):
            rows.append((mid, payload))
            mid += 1
    rows += [(100, synthesize_jpeg(8, 8)), (101, None)]  # undecodable tail
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    out = perceptual_audio_dedup(media).collect()
    keep = {int(r.media_id): int(r.keep_id) for r in out}
    mid = 0
    for s in A_SEEDS:
        group = list(range(mid, mid + 5))
        assert {keep[m] for m in group} == {group[0]}, s
        mid += 5
    assert keep[100] == 100 and keep[101] == 101
    # driver-twin equality + stereo mixdown metadata
    h = {int(r.media_id): r for r in perceptual_audio_hashes(media).collect()}
    assert h[0].decoded and h[0].n_samples == 8000
    assert h[4].n_samples == 8000  # stereo pair mixed down to mono length
    assert not h[100].decoded and h[100].phash is None
    # zero shuffle for the hash kernel
    plan = (
        perceptual_audio_hashes(media)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# video fingerprints (APNG real decode) — per-frame dHash at timeline
# fractions
# ---------------------------------------------------------------------------


def make_frame(seed: int, t: float, w: int = 48, h: int = 32) -> np.ndarray:
    """Smooth-motion frame: content drifts slowly with t (real video's
    frame-to-frame correlation), so temporal resampling stays aligned."""
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


def video_variants(seed: int) -> list[bytes]:
    """Original 6-frame clip + 2×-fps re-encode of the SAME timeline +
    nearest-resized + RGB re-encode."""
    from nexus_event_stream_spark.functions.png import encode_apng

    base = [make_frame(seed, float(t)) for t in range(6)]
    hi = [make_frame(seed, t / 2) for t in range(12)]
    return [
        encode_apng(48, 32, [f.tobytes() for f in base], 0),
        encode_apng(48, 32, [f.tobytes() for f in hi], 0),
        encode_apng(
            24, 16,
            [resize_nearest(f.tobytes(), 48, 32, 24, 16, 1) for f in base],
            0,
        ),
        encode_apng(
            48, 32, [np.repeat(f[:, :, None], 3, 2).tobytes() for f in base], 2
        ),
    ]


V_SEEDS = [1, 3, 7, 9]
V_THR = 8


def test_video_dhash_invariances_and_separation():
    from nexus_event_stream_spark.operators.phash import (
        default_video_decoder,
        video_dhash_frames,
    )

    ham = lambda a, b: max(
        bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(a, b)
    )
    sigs = {}
    for s in V_SEEDS:
        hs = [
            video_dhash_frames(default_video_decoder(p))
            for p in video_variants(s)
        ]
        sigs[s] = hs
        assert max(ham(a, b) for a in hs for b in hs) <= V_THR, s
    for i, a in enumerate(V_SEEDS):
        for b in V_SEEDS[i + 1 :]:
            assert min(ham(x, y) for x in sigs[a] for y in sigs[b]) > 14


def test_video_pairs_match_bruteforce_and_dedup_collapses(spark):
    from nexus_event_stream_spark.functions.wav import encode_wav
    from nexus_event_stream_spark.operators.phash import (
        default_video_decoder,
        perceptual_video_dedup,
        perceptual_video_hashes,
        video_dhash_frames,
        video_phash_pairs,
    )

    rows, mid = [], 0
    for s in V_SEEDS:
        for payload in video_variants(s):
            rows.append((mid, payload))
            mid += 1
    rows += [(100, encode_wav([0, 1, -1])), (101, None)]  # undecodable
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    hashes = perceptual_video_hashes(media)
    hrows = {int(r.media_id): r for r in hashes.collect()}
    # driver-twin equality + frame counts from the real decode
    assert list(hrows[0].vhash) == video_dhash_frames(
        default_video_decoder(video_variants(V_SEEDS[0])[0])
    )
    assert hrows[0].n_frames == 6 and hrows[1].n_frames == 12
    assert not hrows[100].decoded and hrows[100].vhash is None

    # pairs == brute force at the threshold (banding frame 0 is
    # pigeonhole-exact: every qualifying pair has frame-0 ham <= thr)
    got = {
        (int(r.id_a), int(r.id_b), int(r.hamming))
        for r in video_phash_pairs(hashes, max_hamming=V_THR).collect()
    }
    sig = {m: list(r.vhash) for m, r in hrows.items() if r.vhash is not None}
    ham = lambda a, b: max(
        bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(a, b)
    )
    ids = sorted(sig)
    want = {
        (a, b, ham(sig[a], sig[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(sig[a], sig[b]) <= V_THR
    }
    assert got == want and len(want) >= len(V_SEEDS) * 6

    keep = {
        int(r.media_id): int(r.keep_id)
        for r in perceptual_video_dedup(media, max_hamming=V_THR).collect()
    }
    mid = 0
    for s in V_SEEDS:
        group = list(range(mid, mid + 4))
        assert {keep[m] for m in group} == {group[0]}, s
        mid += 4
    assert keep[100] == 100 and keep[101] == 101
    # hash kernel: zero shuffle
    plan = perceptual_video_hashes(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# MJPEG-in-MP4 real video decode (r12): demux (functions/mp4.py) + the
# in-repo JPEG codec light up end-to-end MP4 video dedup with NO
# external codec; H.264-class payloads stay behind decoder_fn.
# ---------------------------------------------------------------------------


def _mjpeg_mp4(seed: int, fps2: bool = False, codec: str = "jpeg") -> bytes:
    from nexus_event_stream_spark.functions.jpeg_codec import (
        encode_baseline_jpeg,
    )
    from nexus_event_stream_spark.functions.mp4 import encode_mp4

    ts = [t / 2 for t in range(12)] if fps2 else [float(t) for t in range(6)]
    frames = [
        encode_baseline_jpeg(make_frame(seed, t), quality=90) for t in ts
    ]
    return encode_mp4(frames, width=48, height=32, codec=codec)


def test_mjpeg_mp4_decodes_lazily_with_default_decoder():
    from nexus_event_stream_spark.operators.phash import (
        _LazyMjpegFrames,
        default_video_decoder,
        video_dhash_frames,
    )

    clip = _mjpeg_mp4(5)
    dec = default_video_decoder(clip)
    assert isinstance(dec, _LazyMjpegFrames) and len(dec) == 6
    # the 2x-fps re-encode under a GENERIC 4CC (SOI sniff) collapses
    twin = default_video_decoder(_mjpeg_mp4(5, fps2=True, codec="mp4v"))
    assert isinstance(twin, _LazyMjpegFrames) and len(twin) == 12
    h1, h2 = video_dhash_frames(dec), video_dhash_frames(twin)
    assert max(bin(a ^ b).count("1") for a, b in zip(h1, h2)) <= V_THR
    # a different clip stays far away
    h3 = video_dhash_frames(default_video_decoder(_mjpeg_mp4(6)))
    assert min(bin(a ^ b).count("1") for a, b in zip(h1, h3)) > 14
    # H.264-class samples under avc1: still the decoder_fn boundary
    from nexus_event_stream_spark.functions.mp4 import encode_mp4

    assert (
        default_video_decoder(
            encode_mp4([b"\x00\x00\x00\x01xxxx"] * 4, codec="avc1")
        )
        is None
    )


def test_mjpeg_mp4_collapses_in_perceptual_video_dedup(spark):
    """The verdict-r11 done-bar: a synthesized MJPEG MP4 collapses with
    its re-encoded twin in perceptual_video_dedup under the DEFAULT
    decoder; a corrupt sampled frame degrades that row to undecoded
    (singleton) instead of killing the Arrow kernel."""
    from nexus_event_stream_spark.functions.mp4 import parse_mp4
    from nexus_event_stream_spark.operators.phash import (
        perceptual_video_dedup,
    )

    clip = _mjpeg_mp4(11)
    twin = _mjpeg_mp4(11, fps2=True)
    other = _mjpeg_mp4(12)
    corrupt = bytearray(_mjpeg_mp4(13))
    off = parse_mp4(bytes(corrupt))["sample_offsets"][3]
    corrupt[off + 2 : off + 8] = b"\x00" * 6
    media = spark.createDataFrame(
        [
            (0, bytearray(clip)),
            (1, bytearray(twin)),
            (2, bytearray(other)),
            (3, corrupt),
        ],
        "media_id long, payload binary",
    )
    out = perceptual_video_dedup(media, max_hamming=V_THR)
    keep = {r.media_id: r.keep_id for r in out.collect()}
    assert keep[0] == keep[1] == 0  # twin collapses onto the original
    assert keep[2] == 2  # distinct clip survives alone
    assert keep[3] == 3  # corrupt row degrades to a singleton


def test_video_decoder_fn_may_return_ndarray(spark):
    """r12 self-review: a decoder_fn returning a numpy 3-D array of
    frames must hash normally (no truthiness-ambiguity swallow marking
    the corpus undecoded)."""
    import numpy as np

    from nexus_event_stream_spark.operators.phash import (
        perceptual_video_hashes,
    )

    def nd_decoder(payload: bytes):
        seed = payload[0]
        yy, xx = np.mgrid[0:32, 0:48]
        return np.stack(
            [
                (128 + 90 * np.sin(xx / 6.0 + seed + t) * np.cos(yy / 5.0))
                .clip(0, 255)
                for t in range(5)
            ]
        )

    media = spark.createDataFrame(
        [(0, bytearray([3, 0, 0])), (1, bytearray([9, 0, 0])), (2, None)],
        "media_id long, payload binary",
    )
    rows = {
        r.media_id: r
        for r in perceptual_video_hashes(
            media, decoder_fn=nd_decoder
        ).collect()
    }
    assert rows[0].decoded and rows[0].n_frames == 5
    assert rows[1].decoded and rows[1].vhash != rows[0].vhash
    assert not rows[2].decoded
