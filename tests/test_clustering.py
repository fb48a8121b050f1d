"""Z-order clustering + min/max file skipping (operators/clustering.py).

Soundness is the load-bearing property: for ANY predicate, the pruned
read must equal the unpruned filtered scan — pruning may only drop files
the predicate could not select from.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.io import load_table
from nexus_event_stream_spark.operators.clustering import (
    _bin_expr,
    _interleave,
    build_skipping_manifest,
    equi_depth_boundaries,
    prune_files,
    pruned_read,
    read_manifest,
    zorder_append,
    zorder_key,
    zorder_write,
)


def _py_zvalue(bins: list[int], bits: int) -> int:
    z = 0
    for b in range(bits):
        for i, v in enumerate(bins):
            z |= ((v >> b) & 1) << (b * len(bins) + i)
    return z


# ---------------------------------------------------------------- unit level


def test_bin_expr_matches_python_bisect(spark):
    import bisect

    boundaries = [10.0, 20.0, 35.0, 50.0, 80.0]  # 6 bins
    vals = [-5.0, 9.99, 10.0, 19.0, 20.0, 34.9, 49.0, 50.0, 79.9, 80.0, 1e9, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r["b"]
        for r in df.select(_bin_expr(F.col("v"), boundaries).alias("b")).collect()
    ]
    want = [
        bisect.bisect_right(boundaries, v) if v is not None else 0 for v in vals
    ]
    assert got == want


def test_interleave_matches_python_reference(spark):
    bits = 6
    cases = [(0, 0), (1, 0), (0, 1), (63, 63), (5, 40), (63, 0), (17, 33)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = [
        r["z"]
        for r in df.select(
            _interleave([F.col("a"), F.col("b")], bits).alias("z")
        ).collect()
    ]
    want = [_py_zvalue(list(c), bits) for c in cases]
    assert got == want
    # z-value is monotone-ish: equal inputs → equal z, max inputs → max z
    assert got[3] == (1 << (2 * bits)) - 1


def test_equi_depth_boundaries_spread_skew(spark):
    # zipf-ish skew: equi-depth must still split the head value off
    rows = [(1,)] * 500 + [(i,) for i in range(2, 300)]
    df = spark.createDataFrame(rows, "v long")
    bounds = equi_depth_boundaries(df, ["v"], bits=4)["v"]
    assert len(bounds) == 15  # full bin space, duplicates retained
    assert bounds == sorted(bounds)
    # the hot head value occupies multiple bins' worth of boundary slots
    assert bounds.count(1.0) >= 5


# ---------------------------------------------------------------- end-to-end


@pytest.fixture(scope="module")
def zdata(spark, sf_dir):
    """events sf0.001 written Z-ordered by (user_id, ts) into a tmp dir."""
    path = tempfile.mkdtemp(prefix="zorder-") + "/events_z"
    ev = load_table(spark, sf_dir, "events")
    boundaries = zorder_write(ev, path, ["user_id", "ts"], n_files=16)
    yield path, ev, boundaries
    shutil.rmtree(path, ignore_errors=True)


def test_zorder_write_produces_files_and_manifest(spark, zdata):
    path, ev, _ = zdata
    m = read_manifest(spark, path)
    rows = m.collect()
    files = {r["file"] for r in rows}
    assert 2 <= len(files) <= 16
    assert {r["col"] for r in rows} == {"user_id", "ts"}
    # stats present and ordered
    for r in rows:
        assert r["vmin"] is not None and r["vmin"] <= r["vmax"]
    # no rows lost in the rewrite
    assert spark.read.parquet(path).count() == ev.count()


def test_pruned_read_equals_full_filter(spark, zdata):
    path, ev, _ = zdata
    lo_u, hi_u = 3.0, 7.0
    got, stats = pruned_read(
        spark, path, {"user_id": (lo_u, hi_u)}
    )
    want = (
        spark.read.parquet(path)
        .filter((F.col("user_id") >= lo_u) & (F.col("user_id") <= hi_u))
    )
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("event_id")).first()[0]
        == want.agg(F.sum("event_id")).first()[0]
    )
    assert stats["files_read"] <= stats["files_total"]


def test_clustering_actually_prunes(spark, zdata):
    """A tight predicate on the leading z column must skip most files —
    that is the point of clustering."""
    path, _, _ = zdata
    # sf0.001 events has user_ids 0..14; [1, 3] is ~1/5 of the key space
    kept, total = prune_files(spark, path, {"user_id": (1.0, 3.0)})
    assert total >= 8
    assert len(kept) < total  # pruning happened
    assert len(kept) <= (3 * total) // 4  # and meaningfully so


def test_second_dimension_prunes_too(spark, zdata):
    """Z-order (unlike linear sort on user_id) keeps ts ranges tight
    enough per file that ts-only predicates also skip files."""
    path, ev, _ = zdata
    lo, hi = ev.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).first()
    span = hi - lo
    tight = (float(lo), float(lo + span // 8))
    kept, total = prune_files(spark, path, {"ts": tight})
    assert len(kept) < total


def test_pruning_soundness_random_predicates(spark, zdata):
    """20 deterministic pseudo-random rectangles: pruned == unpruned."""
    path, ev, _ = zdata
    u_max = ev.agg(F.max("user_id")).first()[0]
    t_lo, t_hi = ev.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).first()
    full = spark.read.parquet(path)
    seed = 0x9E3779B97F4A7C15
    for i in range(20):
        seed = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = seed % (u_max + 1)
        b = (seed >> 17) % (u_max + 1)
        lo_u, hi_u = float(min(a, b)), float(max(a, b))
        c = t_lo + (seed >> 33) % (t_hi - t_lo + 1)
        preds = {"user_id": (lo_u, hi_u), "ts": (float(t_lo), float(c))}
        got, _stats = pruned_read(spark, path, preds)
        want = full.filter(
            (F.col("user_id") >= lo_u)
            & (F.col("user_id") <= hi_u)
            & (F.unix_micros("ts") <= float(c))
        )
        assert got.count() == want.count(), f"rect {i}: {preds}"


def test_open_ended_predicates(spark, zdata):
    path, ev, _ = zdata
    med = ev.approxQuantile("user_id", [0.5], 0.01)[0]
    got, _ = pruned_read(spark, path, {"user_id": (med, None)})
    want = spark.read.parquet(path).filter(F.col("user_id") >= med)
    assert got.count() == want.count()
    got2, _ = pruned_read(spark, path, {"user_id": (None, med)})
    want2 = spark.read.parquet(path).filter(F.col("user_id") <= med)
    assert got2.count() == want2.count()


def test_empty_selection_returns_empty_not_error(spark, zdata):
    path, ev, _ = zdata
    u_max = ev.agg(F.max("user_id")).first()[0]
    got, stats = pruned_read(
        spark, path, {"user_id": (float(u_max + 10), float(u_max + 20))}
    )
    assert got.count() == 0
    assert stats["files_read"] == 0  # every file pruned by stats alone


def test_missing_stats_files_are_kept(spark, tmp_path):
    """A file whose predicated column has no usable stats must survive."""
    p = str(tmp_path / "mixed")
    df = spark.createDataFrame(
        [(None, 1), (None, 2)], "v double, k long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(p)
    build_skipping_manifest(spark, p, ["v"])
    m = read_manifest(spark, p).collect()
    assert all(r["vmin"] is None for r in m)  # all-null → no min/max stats
    kept, total = prune_files(spark, p, {"v": (0.0, 1.0)})
    assert kept and len(kept) == total  # conservatively kept


def test_frozen_boundaries_reusable_for_incremental_data(spark, zdata):
    """Incremental batches binned against the frozen layout's boundaries
    get z-keys in the same key space (same bins → same z)."""
    path, ev, boundaries = zdata
    z1 = ev.select(
        zorder_key(ev, ["user_id", "ts"], boundaries=boundaries).alias("z"),
        "event_id",
    )
    z2 = ev.limit(100).select(
        zorder_key(ev.limit(100), ["user_id", "ts"], boundaries=boundaries).alias(
            "z"
        ),
        "event_id",
    )
    j = z1.alias("a").join(z2.alias("b"), "event_id").filter(
        F.col("a.z") != F.col("b.z")
    )
    assert j.count() == 0


def test_stat_to_double_timestamp_is_exact_microseconds():
    """float .timestamp()*1e6 truncates 1 µs low for ~2.5 % of epochs past
    ~2040 — which would prune a file whose max equals the bound. The
    conversion must be exact integer µs for any epoch."""
    import datetime as dt

    from nexus_event_stream_spark.operators.clustering import _stat_to_double

    for micros in [
        2199444544775469,  # empirically truncated by the float path
        4502944837381215,
        1755158400123456,
        -123456789,
        0,
    ]:
        v = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
            microseconds=micros
        )
        assert _stat_to_double(v) == float(micros), micros


# ------------------------------------------------------------- append / stale


def test_zorder_append_extends_layout_and_manifest(spark, sf_dir, tmp_path):
    path = str(tmp_path / "appendable")
    ev = load_table(spark, sf_dir, "events")
    old, new = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    boundaries = zorder_write(old, path, ["user_id", "ts"], n_files=4)
    n_manifest_before = read_manifest(spark, path).count()
    zorder_append(new, path, ["user_id", "ts"], boundaries, n_files=4)
    m = read_manifest(spark, path)
    assert m.count() == n_manifest_before + 4 * 2  # 4 new files × 2 cols
    # the combined layout serves sound pruned reads over BOTH generations
    got, stats = pruned_read(spark, path, {"user_id": (2.0, 6.0)})
    want = spark.read.parquet(path).filter(
        (F.col("user_id") >= 2) & (F.col("user_id") <= 6)
    )
    assert got.count() == want.count() > 0
    assert stats["files_total"] == 8
    assert spark.read.parquet(path).count() == ev.count()


def test_write_and_append_bin_each_column_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The Z-key and the occupancy counts share one bin column per
    clustered column: a write or an append builds the 64-leaf bin tree
    once per column, and the counts it persists are the exact bisect_right
    histogram (and row count) of the rows it wrote."""
    import bisect

    from nexus_event_stream_spark.operators import clustering

    built = []
    real_bin_expr = clustering._bin_expr

    def counting_bin_expr(v, boundaries):
        built.append(len(boundaries))
        return real_bin_expr(v, boundaries)

    monkeypatch.setattr(clustering, "_bin_expr", counting_bin_expr)
    cols = ["user_id", "ts"]
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    base, batch = ev.filter("event_id % 3 != 0"), ev.filter("event_id % 3 = 0")
    path = str(tmp_path / "binned_once")

    boundaries = zorder_write(base, path, cols, n_files=4)
    assert len(built) == len(cols)

    def histogram(df):
        rows = df.select(
            F.col("user_id").cast("double"), F.unix_micros("ts").cast("double")
        ).collect()
        occ = {c: [0] * 64 for c in cols}
        for r in rows:
            for c, v in zip(cols, r):
                occ[c][0 if v is None else bisect.bisect_right(boundaries[c], v)] += 1
        return occ, len(rows)

    state = clustering.read_layout_state(path)
    want_base, n_base = histogram(base)
    assert state["n_base_rows"] == n_base
    assert state["base_occupancy"] == want_base

    built.clear()
    zorder_append(batch, path, cols, n_files=2)
    assert len(built) == len(cols)
    after = clustering.read_layout_state(path)
    want_batch, n_batch = histogram(batch)
    for c in cols:
        added = [a - b for a, b in zip(after["occupancy"][c], state["occupancy"][c])]
        assert added == want_batch[c], c
    assert after["n_appended_rows"] == state["n_appended_rows"] + n_batch
    assert after["base_occupancy"] == state["base_occupancy"]
    assert after["n_base_rows"] == n_base


def test_stale_manifest_keeps_unknown_files(spark, sf_dir, tmp_path):
    """A data file the manifest has never seen must still be read —
    the manifest may only subtract work, never data."""
    path = str(tmp_path / "stale")
    ev = load_table(spark, sf_dir, "events")
    zorder_write(ev.filter("event_id < 500"), path, ["user_id"], n_files=4)
    # raw append behind the manifest's back
    extra = ev.filter("event_id >= 500")
    extra.coalesce(1).write.mode("append").parquet(path)
    got, stats = pruned_read(spark, path, {"user_id": (0.0, 1e9)})
    assert got.count() == ev.count()  # nothing silently dropped
    assert stats["files_total"] == stats["files_read"] == 5


def test_zorder_serving_layout_from_committed_corpus(spark, sf_dir, tmp_path):
    """Ingest/layout decoupling (the OPTIMIZE pattern): the exactly-once
    sharded store owns ingest; a periodic batch job Z-orders the COMMITTED
    snapshot into a read-optimized layout. Equality corpus ↔ layout, and
    the layout serves pruned reads."""
    from nexus_event_stream_spark.sources.shards import ShardedCorpusWriter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    w = ShardedCorpusWriter(str(tmp_path / "store"), n_shards=4)
    w.write(docs)
    committed = w.read(spark).select("doc_id", "source", "text")
    layout = str(tmp_path / "serving")
    zorder_write(committed, layout, ["doc_id"], n_files=8)
    assert spark.read.parquet(layout).count() == docs.count()
    lo, hi = 10.0, 40.0
    got, stats = pruned_read(spark, layout, {"doc_id": (lo, hi)})
    want = committed.filter((F.col("doc_id") >= 10) & (F.col("doc_id") <= 40))
    assert got.count() == want.count()
    assert stats["files_read"] < stats["files_total"]


# ---------------------------------------------------------------- plan shape


def test_zorder_key_is_pure_projection(spark, sf_dir):
    """The z-key adds NO exchange — binning + interleave are row-local
    codegen expressions; the only shuffle in the write path is the single
    explicit repartitionByRange."""
    ev = load_table(spark, sf_dir, "events")
    b = equi_depth_boundaries(ev, ["user_id", "ts"], bits=4)
    keyed = ev.select(zorder_key(ev, ["user_id", "ts"], bits=4, boundaries=b))
    plan = keyed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_residual_filter_reaches_parquet_scan(spark, zdata):
    """The re-applied predicate must be type-native so it lands in
    PushedFilters — a double-cast column comparison would read every row
    group of every kept file."""
    path, _, _ = zdata
    df, _stats = pruned_read(spark, path, {"user_id": (2.0, 9.0)})
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "GreaterThanOrEqual(user_id,2)" in plan
    assert "LessThanOrEqual(user_id,9)" in plan


def test_manifest_build_is_distributed_footer_scan(spark, zdata):
    """Manifest rows = files × cols exactly (footer sweep, no data rows)."""
    path, _, _ = zdata
    import os

    n_files = len(
        [f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")]
    )
    assert read_manifest(spark, path).count() == n_files * 2


# --------------------------------------------------- layout decay / compaction


def test_layout_decay_detected_and_compaction_recovers(spark, sf_dir, tmp_path):
    """VERDICT r6: frozen equi-depth boundaries decay as appends drift —
    every appended row past the last ts boundary lands in the top bin, the
    new files all share its wide z-range, and pruning on the appended
    region degrades toward full scans. The occupancy counters must detect
    this, and zorder_compact (fresh quantiles + re-cluster) must restore
    selectivity — with results hash-identical throughout."""
    from nexus_event_stream_spark.operators.clustering import (
        needs_compaction,
        read_layout_state,
        zorder_compact,
    )

    path = str(tmp_path / "drifting")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    zorder_write(ev, path, ["user_id", "ts"], n_files=16)
    state0 = read_layout_state(path)
    assert state0 is not None and state0["n_appended_rows"] == 0

    # the future: appended batches sit entirely PAST the frozen ts range
    # (time always marches forward), one year out, same user distribution
    shifted = ev.select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
    )
    rep = None
    for i in range(3):
        batch = shifted.filter(F.col("event_id") % 3 == i)
        rep = zorder_append(batch, path, ["user_id", "ts"], n_files=8)
    # ts occupancy is pathological: every appended row in the top bin
    assert rep["skew"]["ts"] > 32  # ≥ half the 64-bin mass in one bin
    assert rep["needs_compaction"] is True
    assert needs_compaction(read_layout_state(path)) is True

    # a time-rectangle over the DRIFTED region: decayed layout reads every
    # appended file (they all span the same top ts bin)
    t_lo, t_hi = shifted.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).first()
    preds = {"ts": (float(t_lo), float(t_lo + (t_hi - t_lo) // 8))}
    got_before, stats_before = pruned_read(spark, path, preds)
    rows_before = sorted(
        (r["event_id"], r["user_id"]) for r in got_before.collect()
    )
    sel_before = stats_before["files_read"] / stats_before["files_total"]

    zorder_compact(spark, path, n_files=40)  # 16 + 3×8 = same file count
    state1 = read_layout_state(path)
    assert state1["n_appended_rows"] == 0  # counters reset
    assert needs_compaction(state1) is False
    got_after, stats_after = pruned_read(spark, path, preds)
    rows_after = sorted(
        (r["event_id"], r["user_id"]) for r in got_after.collect()
    )
    assert rows_after == rows_before  # hash-identical results
    sel_after = stats_after["files_read"] / stats_after["files_total"]
    # fresh quantiles cover the drifted region → selectivity recovers
    assert sel_after < sel_before, (sel_before, sel_after)
    assert sel_after <= 0.5  # a 1/8 time slice must not read most files


def test_healthy_appends_do_not_trigger_compaction(spark, sf_dir, tmp_path):
    """Appends drawn from the SAME distribution as the base layout spread
    near-uniformly over the frozen bins — no false compaction trigger, no
    matter how much healthy mass arrives."""
    path = str(tmp_path / "healthy")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    old, new = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    zorder_write(old, path, ["user_id", "ts"], n_files=8)
    rep = zorder_append(new, path, ["user_id", "ts"], n_files=8)
    assert rep["appended_frac"] > 0.5  # mass IS material...
    assert rep["needs_compaction"] is False  # ...but not skewed
    assert all(r < 4 for r in rep["skew"].values()), rep["skew"]


def test_small_skewed_append_defers_compaction(spark, sf_dir, tmp_path):
    """A skewed but immaterial append (< min_appended_frac of the base)
    must NOT trigger: rewriting 100 TB over a 0.1 % tail is all cost."""
    path = str(tmp_path / "tiny")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    zorder_write(ev, path, ["user_id", "ts"], n_files=16)
    tiny = ev.filter("event_id < 20").select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
    )
    rep = zorder_append(tiny, path, ["user_id", "ts"], n_files=2)
    assert rep["skew"]["ts"] > 32  # fully skewed...
    assert rep["needs_compaction"] is False  # ...but immaterial


# ------------------------------------------------------- top-k bound property


def test_topk_bound_soundness_property(tmp_path):
    """Hypothesis pin: for ANY file layout (random values split into random
    files, random null sprinkling, some files with missing stats) and ANY
    k, the manifest-only bound admits at least k non-null values — i.e.
    a top-k read over files with vmax ≥ bound can never miss a row."""
    import os

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nexus_event_stream_spark.operators.clustering import (
        _MANIFEST_SCHEMA,
        _MANIFEST_SUBDIR,
        topk_prune_bound,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        data=st.lists(
            st.lists(
                st.one_of(st.floats(-1e6, 1e6), st.none()),
                min_size=1,
                max_size=20,
            ),
            min_size=1,
            max_size=8,
        ),
        hide=st.integers(0, 7),
        k=st.integers(1, 40),
    )
    def check(data, hide, k):
        rows = []
        all_vals = []
        for i, f_vals in enumerate(data):
            non_null = [v for v in f_vals if v is not None]
            all_vals += non_null
            known = non_null and i != hide % len(data)
            rows.append(
                {
                    "file": f"f{i}.parquet",
                    "col": "x",
                    "vmin": min(non_null) if known else None,
                    "vmax": max(non_null) if known else None,
                    "n_nulls": len(f_vals) - len(non_null) if known else None,
                    "n_rows": len(f_vals),
                }
            )
        root = tmp_path / f"m{abs(hash(str(data))) % 10**9}_{k}"
        mdir = root / _MANIFEST_SUBDIR
        os.makedirs(mdir, exist_ok=True)
        pd.DataFrame(rows, columns=_MANIFEST_SCHEMA.names).to_parquet(
            mdir / "manifest.parquet"
        )
        bound = topk_prune_bound(str(root), "x", k)
        if bound is None:
            return  # caller full-scans: trivially sound
        # soundness: ≥ k non-null values at or above the bound
        assert sum(1 for v in all_vals if v >= bound) >= k

    check()
