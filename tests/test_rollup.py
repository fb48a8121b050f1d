"""Continuous time-bucket rollup (streaming/rollup.py) vs one-shot batch.

Contracts pinned:
- streamed store ≡ one-shot batch aggregate over the same events (exact
  integer cents), through a real Structured Streaming file-source run
- late data re-merges a closed bucket (the capability plain append-mode
  windows lack) — final state identical to as-if-on-time
- replayed epochs NEVER double-count (token-scoped monotone guard;
  tokenless calls keep the legacy strictly-monotone contract), incl.
  replay after an empty-batch epoch advance; the cross-token raise path
  is pinned in tests/test_replay_guard.py
- per-epoch writes touch only the time buckets in the batch (manifest
  locality, the 100 TB write-cost bound)
- hour→day coarsening from stored partials ≡ day rollup from raw events
  (mergeable-partials exactness — no raw re-scan)
- real-time view (stored ∪ un-applied tail) ≡ full batch aggregate
- both commit backends drive the same bytes
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)
from nexus_event_stream_spark.streaming.rollup import (
    RollupStore,
    coarsen,
    finalize,
    start_rollup,
)

SF_DIR = "/root/testdata/sf0.001"


def batch_rollup(events, grain_trunc="hour"):
    """Driver-side oracle: one-shot exact-integer aggregate."""
    rows = (
        events.groupBy(
            F.date_trunc(grain_trunc, "ts").alias("bucket_ts"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "sum_cents"
            ),
            F.min(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "min_cents"
            ),
            F.max(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "max_cents"
            ),
        )
        .collect()
    )
    return {
        (r.bucket_ts, r.event_type): (
            r.n_events,
            r.sum_cents,
            r.min_cents,
            r.max_cents,
        )
        for r in rows
    }


def stored_rows(spark, store):
    df = store.read(spark)
    assert df is not None
    return {
        (r.bucket_ts, r.event_type): (
            r.n_events,
            r.sum_cents,
            r.min_cents,
            r.max_cents,
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value"
    )


@pytest.mark.parametrize("backend_cls", [PosixRenameBackend, ConditionalPutBackend])
def test_epoch_applies_match_batch_oracle(spark, events, tmp_path, backend_cls):
    store = RollupStore(
        str(tmp_path / "rollup"), backend=backend_cls(), n_buckets=8
    )
    # three epochs split by event hash — arbitrary interleaving of buckets
    for epoch in range(3):
        store.apply_batch(
            spark,
            events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch),
            epoch,
        )
    assert stored_rows(spark, store) == batch_rollup(events)


def test_late_data_remerges_closed_bucket(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    hours = sorted(
        r[0] for r in events.select(F.date_trunc("hour", "ts")).distinct().collect()
    )
    first = hours[0]
    on_time = events.filter(F.date_trunc("hour", "ts") != F.lit(first))
    late = events.filter(F.date_trunc("hour", "ts") == F.lit(first))
    store.apply_batch(spark, on_time, 0)
    before = stored_rows(spark, store)
    assert not any(k[0] == first for k in before)
    store.apply_batch(spark, late, 1)  # last Tuesday arrives today
    assert stored_rows(spark, store) == batch_rollup(events)


def test_replay_never_double_counts(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    half = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == 0)
    rest = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(2)) == 1)
    store.apply_batch(spark, half, 0)
    store.apply_batch(spark, rest, 1)
    want = stored_rows(spark, store)
    store.apply_batch(spark, rest, 1)  # same-run replay
    store.apply_batch(spark, half, 0)  # crash-replay from an older offset
    assert stored_rows(spark, store) == want
    # empty-batch epoch still advances the guard
    store.apply_batch(spark, events.limit(0), 2)
    assert store.current()["epoch"] == 2
    store.apply_batch(spark, rest, 2)  # replay landing after the advance
    assert stored_rows(spark, store) == want


def test_epoch_writes_touch_only_batch_buckets(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    hours = sorted(
        r[0] for r in events.select(F.date_trunc("hour", "ts")).distinct().collect()
    )
    assert len(hours) >= 2
    store.apply_batch(
        spark, events.filter(F.date_trunc("hour", "ts") == F.lit(hours[0])), 0
    )
    manifest0 = dict(store.current()["manifest"])
    store.apply_batch(
        spark, events.filter(F.date_trunc("hour", "ts") == F.lit(hours[1])), 1
    )
    manifest1 = store.current()["manifest"]
    changed = {b for b in manifest1 if manifest1[b] != manifest0.get(b)}
    # hour[1] hashes to exactly one bucket — only that entry may move
    assert len(changed) == 1
    assert all(manifest1[b] == v for b, v in manifest0.items() if b not in changed)


def test_coarsen_exact_vs_raw_day_rollup(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    store.apply_batch(spark, events, 0)
    got = {
        (r.bucket_ts, r.event_type): (r.n_events, r.sum_cents, r.min_cents, r.max_cents)
        for r in coarsen(store.read(spark), "1 day", ("event_type",)).collect()
    }
    assert got == batch_rollup(events, "day")


def test_realtime_view_merges_tail(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    applied = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(4)) != 0)
    tail = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(4)) == 0)
    store.apply_batch(spark, applied, 0)
    got = {
        (r.bucket_ts, r.event_type): (r.n_events, round(r.sum_value, 2))
        for r in store.realtime(spark, tail).collect()
    }
    want = {
        k: (v[0], round(v[1] / 100.0, 2))
        for k, v in batch_rollup(events).items()
    }
    assert got == want
    # finalized avg sanity on one key
    fin = finalize(store.read(spark), ("event_type",)).collect()
    for r in fin:
        assert r.avg_value == pytest.approx(r.sum_value / r.n_events)


def test_structured_streaming_end_to_end(spark, events, tmp_path):
    """Real file-source streaming run, one file per micro-batch epoch."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        events.filter(
            F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == i
        ).coalesce(1).write.parquet(str(src / f"slice={i}"))
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/slice=*")
    store = RollupStore(str(tmp_path / "rollup"), n_buckets=8)
    q = start_rollup(spark, stream, store, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert store.current()["epoch"] >= 1
    assert stored_rows(spark, store) == batch_rollup(events)


def _exact_quantile(vals, q):
    """Oracle rank interval: [q·n-th, …] value under the sketch's
    smallest-value-reaching-rank semantics; we accept any value whose
    rank error is within the bound, so return the sorted array."""
    import numpy as np

    return np.sort(np.asarray(vals, dtype=float))


def test_quantile_mode_sketches_per_bucket(spark, events, tmp_path):
    """Opt-in quantile partials: exact columns stay bit-identical to the
    sketch-free store, p50/p95 estimates land within rank-error 0.05 of
    the per-bucket exact distribution, late merges update the sketch,
    and hour→day coarsening merges sketches too."""
    import numpy as np

    from nexus_event_stream_spark.streaming.rollup import rollup_quantiles

    exact_store = RollupStore(str(tmp_path / "exact"), n_buckets=8)
    sk_store = RollupStore(
        str(tmp_path / "sk"), n_buckets=8, quantile_k=256
    )
    for epoch in range(3):
        sl = events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch)
        exact_store.apply_batch(spark, sl, epoch)
        sk_store.apply_batch(spark, sl, epoch)
    # exact columns identical between modes (incl. after the late merges)
    assert stored_rows(spark, sk_store) == stored_rows(spark, exact_store)

    # per-bucket quantile estimates vs exact values
    per_bucket: dict = {}
    for r in events.select(
        F.date_trunc("hour", "ts").alias("b"), "event_type", "value"
    ).collect():
        per_bucket.setdefault((r.b, r.event_type), []).append(r.value)
    got = {
        (r.bucket_ts, r.event_type): (r.p50, r.p95)
        for r in rollup_quantiles(
            sk_store.read(spark), [0.5, 0.95], ("event_type",)
        ).collect()
    }
    assert set(got) == set(per_bucket)
    for key, vals in per_bucket.items():
        s = _exact_quantile(vals, 0.5)
        n = len(s)
        for q, est in zip((0.5, 0.95), got[key]):
            # rank of the estimate within the exact values ∈ q ± 0.05
            lo = np.searchsorted(s, est, side="left") / n
            hi = np.searchsorted(s, est, side="right") / n
            assert lo - 0.05 <= q <= hi + 0.05, (key, q, est)

    # coarsening merges sketches: day-grain p50 within bound of all values
    from nexus_event_stream_spark.streaming.rollup import coarsen

    day = rollup_quantiles(
        coarsen(sk_store.read(spark), "1 day", ("event_type",), sketch=True),
        [0.5],
        ("event_type",),
    ).collect()
    per_day: dict = {}
    for r in events.select(
        F.date_trunc("day", "ts").alias("b"), "event_type", "value"
    ).collect():
        per_day.setdefault((r.b, r.event_type), []).append(r.value)
    assert {(r.bucket_ts, r.event_type) for r in day} == set(per_day)
    for r in day:
        s = _exact_quantile(per_day[(r.bucket_ts, r.event_type)], 0.5)
        n = len(s)
        lo = np.searchsorted(s, r.p50, side="left") / n
        hi = np.searchsorted(s, r.p50, side="right") / n
        assert lo - 0.05 <= 0.5 <= hi + 0.05


def test_quantile_mode_realtime_and_nulls(spark, tmp_path):
    from pyspark.sql import types as T

    rows = [
        ("2026-01-01 10:05:00", "a", float(v)) for v in range(100)
    ] + [("2026-01-01 10:06:00", "a", None)]
    df = (
        pytest.importorskip("pyspark").sql.SparkSession.getActiveSession()
        .createDataFrame(rows, "ts string, event_type string, value double")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    store = RollupStore(str(tmp_path / "sk"), n_buckets=4, quantile_k=128)
    applied = df.filter(F.col("value").isNull() | (F.col("value") < 50))
    tail = df.filter(F.col("value") >= 50)
    store.apply_batch(spark, applied, 0)
    # NULL counted in n_events, excluded from folds (exact-mode parity)
    r = store.read(spark).collect()[0]
    assert r.n_events == 51 and r.sum_cents == sum(v * 100 for v in range(50))
    rt = store.realtime(spark, tail).collect()[0]
    assert rt.n_events == 101
    assert rt.sum_value == pytest.approx(sum(range(100)))


def test_distinct_mode_kmv_per_bucket(spark, tmp_path):
    """distinct_col mode: exact below k, LOSSLESS merge (streamed sketch
    bytes == one-shot sketch bytes), day-coarsening still exact, and the
    above-k regime estimates within the KMV error bound."""
    events = load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    streamed = RollupStore(
        str(tmp_path / "s"), n_buckets=8, distinct_col="user_id"
    )
    for epoch in range(3):
        streamed.apply_batch(
            spark,
            events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch),
            epoch,
        )
    oneshot = RollupStore(
        str(tmp_path / "o"), n_buckets=8, distinct_col="user_id"
    )
    oneshot.apply_batch(spark, events, 0)
    from nexus_event_stream_spark.streaming.rollup import rollup_distinct

    # lossless merge ⇒ identical sketch payloads, streamed or not
    key = lambda r: ((r.bucket_ts, r.event_type))
    s_rows = {key(r): r.kmv for r in streamed.read(spark).collect()}
    o_rows = {key(r): r.kmv for r in oneshot.read(spark).collect()}
    assert s_rows == o_rows

    # exact regime (distincts per bucket « k=256): estimate == countDistinct
    exact = {
        (r.bucket_ts, r.event_type): r.nd
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    got = {
        (r.bucket_ts, r.event_type): (r.n_distinct, r.distinct_exact)
        for r in rollup_distinct(
            streamed.read(spark), ("event_type",)
        ).collect()
    }
    assert set(got) == set(exact)
    for k2, (est, is_exact) in got.items():
        assert is_exact and est == float(exact[k2]), k2

    # day coarsening merges sketches losslessly → still exact
    from nexus_event_stream_spark.streaming.rollup import coarsen

    day_exact = {
        (r.bucket_ts, r.event_type): r.nd
        for r in events.groupBy(
            F.date_trunc("day", "ts").alias("bucket_ts"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    day_got = {
        (r.bucket_ts, r.event_type): (r.n_distinct, r.distinct_exact)
        for r in rollup_distinct(
            coarsen(streamed.read(spark), "1 day", ("event_type",), distinct=True),
            ("event_type",),
        ).collect()
    }
    assert set(day_got) == set(day_exact)
    for k2, (est, is_exact) in day_got.items():
        assert is_exact and est == float(day_exact[k2]), k2

    # above-k regime: small k → approximate but flagged and bounded
    small = RollupStore(
        str(tmp_path / "k8"), n_buckets=8, distinct_col="user_id", kmv_k=8
    )
    small.apply_batch(spark, events, 0)
    for r in rollup_distinct(small.read(spark), ("event_type",)).collect():
        true = exact[(r.bucket_ts, r.event_type)]
        if true < 8:
            assert r.distinct_exact and r.n_distinct == float(true)
        else:
            assert not r.distinct_exact
            assert 0.2 * true <= r.n_distinct <= 5.0 * true  # 4σ-ish at k=8


def test_quantile_and_distinct_combined(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    store = RollupStore(
        str(tmp_path / "both"),
        n_buckets=8,
        quantile_k=128,
        distinct_col="user_id",
    )
    store.apply_batch(spark, events, 0)
    from nexus_event_stream_spark.streaming.rollup import (
        rollup_distinct,
        rollup_quantiles,
    )

    df = store.read(spark)
    assert {"qsketch", "kmv"} <= set(df.columns)
    nd = rollup_distinct(df, ("event_type",)).collect()
    qq = rollup_quantiles(df, [0.5], ("event_type",)).collect()
    assert len(nd) == len(qq) == df.count() > 0
    # exact columns still equal the sketch-free oracle
    got = {
        (r.bucket_ts, r.event_type): (r.n_events, r.sum_cents, r.min_cents, r.max_cents)
        for r in df.collect()
    }
    assert got == batch_rollup(events.select("ts", "event_type", "value"))


def test_all_null_bucket_quantiles_are_null_not_error(spark, tmp_path):
    from nexus_event_stream_spark.streaming.rollup import rollup_quantiles

    rows = [("2026-01-01 10:00:00", "a", None), ("2026-01-01 11:00:00", "a", 7.0)]
    df = spark.createDataFrame(
        rows, "ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    store = RollupStore(str(tmp_path / "sk"), n_buckets=4, quantile_k=64)
    store.apply_batch(spark, df, 0)
    got = {
        r.bucket_ts.hour: r.p50
        for r in rollup_quantiles(store.read(spark), [0.5], ("event_type",)).collect()
    }
    assert got[10] is None and got[11] == 7.0
    # and a later real merge into the null bucket revives its sketch
    late = spark.createDataFrame(
        [("2026-01-01 10:30:00", "a", 3.0)], "ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    store.apply_batch(spark, late, 1)
    got = {
        r.bucket_ts.hour: r.p50
        for r in rollup_quantiles(store.read(spark), [0.5], ("event_type",)).collect()
    }
    assert got[10] == 3.0


def test_topk_mode_heavy_hitters_per_bucket(spark, tmp_path):
    """topk_col mode: exact within capacity (streamed == one-shot ==
    exact value counts, incl. after day coarsening), sound bounds when
    capped."""
    from nexus_event_stream_spark.streaming.rollup import (
        coarsen,
        rollup_topk,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    streamed = RollupStore(
        str(tmp_path / "s"), n_buckets=8, topk_col="user_id", mg_capacity=512
    )
    for epoch in range(3):
        streamed.apply_batch(
            spark,
            events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch),
            epoch,
        )
    # exact oracle: user counts per (hour, type)
    exact: dict = {}
    for r in events.select(
        F.date_trunc("hour", "ts").alias("b"), "event_type", "user_id"
    ).collect():
        exact.setdefault((r.b, r.event_type), {}).setdefault(
            str(r.user_id), 0
        )
        exact[(r.b, r.event_type)][str(r.user_id)] += 1
    got: dict = {}
    for r in rollup_topk(streamed.read(spark), 3, ("event_type",)).collect():
        got.setdefault((r.bucket_ts, r.event_type), []).append(
            (r.item, r.count_min, r.count_max, r.rank)
        )
    assert set(got) == set(exact)
    for key, rows in got.items():
        want = sorted(exact[key].items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [(i, c, c) for r_, (i, c) in enumerate(want)] == [
            (i, lo, hi) for i, lo, hi, _ in sorted(rows, key=lambda t: t[3])
        ]  # capacity 512 » distincts → zero decrement mass, exact counts

    # day coarsening merges MG summaries — still exact at this capacity
    day = rollup_topk(
        coarsen(streamed.read(spark), "1 day", ("event_type",), topk=True),
        1,
        ("event_type",),
    ).collect()
    day_exact: dict = {}
    for r in events.select(
        F.date_trunc("day", "ts").alias("b"), "event_type", "user_id"
    ).collect():
        day_exact.setdefault((r.b, r.event_type), {}).setdefault(str(r.user_id), 0)
        day_exact[(r.b, r.event_type)][str(r.user_id)] += 1
    for r in day:
        want_item, want_n = sorted(
            day_exact[(r.bucket_ts, r.event_type)].items(),
            key=lambda kv: (-kv[1], kv[0]),
        )[0]
        assert (r.item, r.count_min, r.count_max) == (want_item, want_n, want_n)

    # capped regime: capacity 2 on skewed data → bounds still sound
    skew_rows = [("2026-01-01 10:00:00", "a", 1.0, "hot")] * 50 + [
        ("2026-01-01 10:00:00", "a", 1.0, f"u{i}") for i in range(20)
    ]
    skew = spark.createDataFrame(
        skew_rows, "ts string, event_type string, value double, user_id string"
    ).withColumn("ts", F.to_timestamp("ts"))
    capped = RollupStore(
        str(tmp_path / "c"), n_buckets=4, topk_col="user_id", mg_capacity=2
    )
    capped.apply_batch(spark, skew, 0)
    top = rollup_topk(capped.read(spark), 1, ("event_type",)).collect()
    assert len(top) == 1 and top[0].item == "hot"
    assert top[0].count_min <= 50 <= top[0].count_max


def test_quantile_column_names_no_float_truncation(spark, tmp_path):
    """Review fix: int(0.29*100) == 28 under float representation — the
    column must be p29 (round, not truncate)."""
    from nexus_event_stream_spark.streaming.rollup import rollup_quantiles

    df = spark.createDataFrame(
        [("2026-01-01 10:00:00", "a", float(v)) for v in range(10)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    store = RollupStore(str(tmp_path / "sk"), n_buckets=4, quantile_k=64)
    store.apply_batch(spark, df, 0)
    out = rollup_quantiles(store.read(spark), [0.29, 0.58, 0.95], ("event_type",))
    assert {"p29", "p58", "p95"} <= set(out.columns)


# ---------------------------------------------------------------------------
# append write mode (segment lists, the BM25-index shape) — for
# late-data-heavy streams whose batches scatter across old time buckets
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("backend_cls", [PosixRenameBackend, ConditionalPutBackend])
def test_append_mode_equals_merge_mode_and_oracle(
    spark, events, tmp_path, backend_cls
):
    """append-mode epochs write O(batch) segments (history byte-identical
    on disk), reads merge segments exactly — streamed ≡ one-shot."""
    import os

    store = RollupStore(
        str(tmp_path / "ra"), backend=backend_cls(), n_buckets=8,
        write_mode="append",
    )

    def files_of(version):
        out = {}
        root = os.path.join(store._store.path, f"v={version}")
        for dirpath, _dirs, names in os.walk(root):
            for nm in names:
                p = os.path.join(dirpath, nm)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    store.apply_batch(
        spark, events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == 0), 0
    )
    m0 = store.current()["manifest"]
    assert all(v == [0] for v in m0.values())
    f0 = files_of(0)
    for epoch in (1, 2):
        store.apply_batch(
            spark,
            events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch),
            epoch,
        )
        # earlier segments never rewritten — per-epoch write is O(batch)
        assert files_of(0) == f0
    m2 = store.current()["manifest"]
    assert any(isinstance(v, list) and len(v) > 1 for v in m2.values())
    # merged read ≡ the exact one-shot oracle
    assert stored_rows(spark, store) == batch_rollup(events)
    # replay still suppressed (additive guard rides append commits too)
    store.apply_batch(
        spark, events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == 1), 1
    )
    assert stored_rows(spark, store) == batch_rollup(events)


def test_reopen_in_default_mode_merges_append_segments(spark, tmp_path):
    """A store written in append mode and reopened with the default mode
    still merges its segments on read: the manifest, not the mode the
    store was opened with, says whether a key holds several partials, so
    ``finalized()`` gives one row per key, equal to the one-shot oracle."""
    import datetime as dt

    hour = dt.datetime(2024, 1, 9, 19)
    schema = "ts timestamp, event_type string, value double"
    epochs = [
        [(hour.replace(minute=5), "click", 1.5), (hour.replace(minute=20), "view", 2.0)],
        [(hour.replace(minute=40), "click", 3.25), (hour.replace(minute=50), "view", 0.5)],
    ]
    path = str(tmp_path / "ro")
    writer = RollupStore(path, n_buckets=8, write_mode="append")
    for e, rows in enumerate(epochs):
        writer.apply_batch(spark, spark.createDataFrame(rows, schema), e)
    assert list(writer.current()["manifest"].values()) == [[0, 1]]

    got = sorted(
        (r.bucket_ts, r.event_type, r.n_events, round(r.sum_value * 100))
        for r in RollupStore(path, n_buckets=8).finalized(spark).collect()
    )
    oracle = batch_rollup(spark.createDataFrame(epochs[0] + epochs[1], schema))
    want = sorted((ts, et, n, s) for (ts, et), (n, s, _lo, _hi) in oracle.items())
    assert got == want


def test_append_mode_late_data_is_a_new_segment(spark, events, tmp_path):
    """A late sliver for an old bucket lands as ONE small segment — the
    old bucket's history is not re-read or rewritten — and the merged
    view equals as-if-on-time."""
    store = RollupStore(str(tmp_path / "rl"), n_buckets=8, write_mode="append")
    hours = sorted(
        r[0] for r in events.select(F.date_trunc("hour", "ts")).distinct().collect()
    )
    first = hours[0]
    on_time = events.filter(F.date_trunc("hour", "ts") != F.lit(first))
    late = events.filter(F.date_trunc("hour", "ts") == F.lit(first))
    store.apply_batch(spark, on_time, 0)
    store.apply_batch(spark, late, 1)
    assert stored_rows(spark, store) == batch_rollup(events)


@pytest.mark.parametrize("backend_cls", [PosixRenameBackend, ConditionalPutBackend])
def test_append_mode_compact_folds_identically(
    spark, events, tmp_path, backend_cls
):
    store = RollupStore(
        str(tmp_path / "rc"), backend=backend_cls(), n_buckets=8,
        write_mode="append",
    )
    for epoch in range(3):
        store.apply_batch(
            spark,
            events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(3)) == epoch),
            epoch,
        )
    before = stored_rows(spark, store)
    fin_before = {
        (r.bucket_ts, r.event_type): (r.n_events, float(r.avg_value))
        for r in store.finalized(spark).collect()
    }
    assert store.compact(spark) is not None
    cur = store.current()
    # every bucket folded to one owning version; epoch/token preserved
    assert all(not isinstance(v, list) or len(v) == 1 for v in cur["manifest"].values())
    assert cur["epoch"] == 2
    assert stored_rows(spark, store) == before
    fin_after = {
        (r.bucket_ts, r.event_type): (r.n_events, float(r.avg_value))
        for r in store.finalized(spark).collect()
    }
    assert fin_after == fin_before
    # nothing left to fold; the stream keeps appending afterwards
    assert store.compact(spark) is None
    store.apply_batch(spark, events.limit(0), 3)
    assert store.current()["epoch"] == 3


def test_append_mode_streaming_with_scheduled_compaction(
    spark, events, tmp_path, monkeypatch
):
    """Real Structured Streaming run with MAX_SEGMENTS=2: segment lists
    stay bounded through a live stream and the result is exact."""
    import os

    from nexus_event_stream_spark.streaming import projection

    monkeypatch.setattr(projection, "MAX_SEGMENTS", 2)

    src = str(tmp_path / "src")
    parts = [
        events.filter(F.pmod(F.xxhash64("ts", "value"), F.lit(4)) == i)
        for i in range(4)
    ]
    parts[0].coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b0"))
    store = RollupStore(str(tmp_path / "rs"), n_buckets=8, write_mode="append")
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(src + "/*")
    q = start_rollup(spark, stream, store, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        for i in (1, 2, 3):
            parts[i].coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, f"b{i}")
            )
            q.processAllAvailable()
    finally:
        q.stop()
    assert stored_rows(spark, store) == batch_rollup(events)
    # compaction ran: manifests are bounded (≤ MAX_SEGMENTS segments)
    assert all(
        len(v) <= 2 if isinstance(v, list) else True
        for v in store.current()["manifest"].values()
    )
