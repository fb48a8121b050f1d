"""Multi-dimensional clustering (Z-order) + file-level min/max data skipping.

The 100 TB lever this module adds: the reference serves point/range reads
through Redis secondary indexes (``data-plane/internal/projection/signal.go``
ZSets); a lakehouse engine gets the same effect from *physical layout* —
cluster the table on the hot predicate columns so every parquet file covers
a tight value range, then prune files by footer min/max before the scan ever
starts. Partitioning handles ONE coarse column; Z-ordering interleaves the
bit-patterns of SEVERAL columns so range predicates on *any* of them map to
a contiguous-ish set of files (the Delta Lake / Databricks OPTIMIZE ZORDER
technique, built here from first principles on open Spark APIs).

Design constraints, in order:

* **Write path is one shuffle.** The Z-key is a pure projection (codegen'd
  binary-search binning + bit interleave — no UDF), then a single
  ``repartitionByRange`` on the key; file count is explicit. Each column
  is binned once per write: the layout's occupancy counts read the same
  bin columns the Z-key interleaves, inside the write action.
* **Equi-depth bins.** Bin boundaries come from ``approxQuantile`` so skewed
  columns still spread across the full bin space (equi-width bins would put
  90 % of a zipf column in one bin and destroy the clustering).
* **Skipping is sound, never required.** The manifest prunes files whose
  [min,max] cannot intersect the predicate; files with missing stats are
  kept. The residual predicate is ALWAYS re-applied, so a stale or absent
  manifest degrades to a full scan, never to wrong rows.
* **Manifest build is distributed and footer-only.** Executors read parquet
  *metadata* (KBs per file), not data; the driver holds one row per
  (file, column) — the same O(files) scale as a Delta transaction log.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Bits per dimension for the Z-key. 64 equi-depth bins per column is
#: plenty to order *files* (thousands of files ≪ 64^ndims cells) while
#: keeping the binning expression tree small enough for codegen.
DEFAULT_BITS = 6

_MANIFEST_SUBDIR = "_skipping"  # leading "_" → invisible to spark.read.parquet
_LAYOUT_STATE = "_layout.json"  # frozen boundaries + append occupancy counters

#: Compaction trigger: the hottest bin of the APPENDED rows holds ≥ this
#: multiple of the uniform share (equi-depth boundaries make healthy
#: appends near-uniform; a drifting column — ts always drifts — piles its
#: rows into the top bin, max_share → 1.0 = 64× uniform at 6 bits) ...
DEFAULT_SKEW_RATIO = 8.0
#: ... AND the appended mass is at least this fraction of the base layout
#: (re-clustering a 100 TB table over a 0.1 % skewed append is all cost,
#: no pruning win — decay only matters once the drifted region is a real
#: share of the table).
DEFAULT_MIN_APPENDED_FRAC = 0.10

_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("n_nulls", T.LongType(), True),
        T.StructField("n_rows", T.LongType(), False),
    ]
)


def _numeric(col: str, dtype: T.DataType) -> Column:
    c = F.col(col)
    if isinstance(dtype, T.TimestampType):
        # exact integer µs, not float seconds: doubles hold 2^53 exactly,
        # µs epochs fit until year ~2255
        return (F.unix_micros(c)).cast("double")
    return c.cast("double")


def equi_depth_boundaries(
    df: DataFrame, cols: Sequence[str], bits: int = DEFAULT_BITS, rel_err: float = 0.001
) -> dict[str, list[float]]:
    """(2^bits − 1) interior quantile boundaries per column, one pass.

    ``approxQuantile`` (Greenwald-Khanna) is a single distributed aggregation
    with O(1/rel_err) state per column — corpus-size independent.
    """
    n_bins = 1 << bits
    qs = [i / n_bins for i in range(1, n_bins)]
    num = df.select(
        *[_numeric(c, df.schema[c].dataType).alias(c) for c in cols]
    )
    got = num.approxQuantile(list(cols), qs, rel_err)
    out: dict[str, list[float]] = {}
    for c, bounds in zip(cols, got):
        # Keep DUPLICATED boundaries: a low-cardinality column must still
        # span the full bin space [0, 2^bits) or its bits collapse to the
        # low positions and the other dimensions dominate the interleave
        # (observed: 15 distinct user_ids deduped to 4 bits → z-order
        # degenerated to a ts sort and user predicates stopped pruning).
        # The binary-search tree computes bisect_right, which is
        # well-defined on sorted-with-duplicates boundaries.
        out[c] = sorted(bounds)
    return out


def _bin_expr(v: Column, boundaries: Sequence[float]) -> Column:
    """Equi-depth bin index via a balanced CASE binary-search tree.

    O(log B) comparisons per row, pure codegen — no higher-order functions
    (HOFs evaluate interpreted) and no UDF. NULLs land in bin 0.
    """

    def rec(lo: int, hi: int) -> Column:
        # candidate bins are [lo, hi]; boundaries[i] is the lower edge of bin i+1
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2  # test boundary entering bin mid+1
        return (
            F.when(v >= F.lit(boundaries[mid]), rec(mid + 1, hi))
            .otherwise(rec(lo, mid))
        )

    if not boundaries:
        return F.lit(0)
    return F.coalesce(rec(0, len(boundaries)), F.lit(0)).cast("long")


def _interleave(bins: Sequence[Column], bits: int) -> Column:
    """Morton / Z-value: bit b of dim i → position b*ndims + i.

    Pure shift/and/or integer expressions — whole-stage codegen keeps this
    free next to the scan.
    """
    n = len(bins)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bins):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1)).cast("long")
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = DEFAULT_BITS,
    boundaries: dict[str, list[float]] | None = None,
) -> Column:
    """The Z-value column for ``cols`` (computes boundaries if not given)."""
    if boundaries is None:
        boundaries = equi_depth_boundaries(df, cols, bits)
    bins = [
        _bin_expr(_numeric(c, df.schema[c].dataType), boundaries[c]) for c in cols
    ]
    return _interleave(bins, bits)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = DEFAULT_BITS,
    manifest: bool = True,
) -> dict[str, list[float]]:
    """Cluster ``df`` on the Z-order of ``cols`` and write ``n_files`` parquet
    files, each covering a tight Z-range (hence tight min/max on every
    clustered column). One quantile pass + ONE range shuffle; the in-file
    ``sortWithinPartitions`` tightens parquet *row-group* stats too, so
    Spark's own pushed-filter row-group skipping compounds with the
    file-level manifest.

    Returns the bin boundaries (callers re-clustering incremental data
    against a frozen layout pass them back to ``zorder_key``).
    """
    boundaries = equi_depth_boundaries(df, cols, bits)
    # Base occupancy: the layout's OWN bin histogram, the yardstick the
    # decay detector compares appends against. Against uniform instead, a
    # low-cardinality column (15 users over 64 bins → most bins empty,
    # occupied ones at ~4× uniform) would read as skewed on every healthy
    # append.
    n_rows, base_occ = _clustered_write(
        df, path, cols, boundaries, bits, n_files, "overwrite"
    )
    if manifest:
        build_skipping_manifest(df.sparkSession, path, cols)
    _write_layout_state(
        path,
        {
            "cols": list(cols),
            "bits": bits,
            "boundaries": boundaries,
            # the base mass the appended-fraction trigger compares against
            "n_base_rows": n_rows,
            "n_appended_rows": 0,
            "base_occupancy": base_occ,
            "occupancy": {c: [0] * (1 << bits) for c in cols},
        },
    )
    return boundaries


def _clustered_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    boundaries: dict[str, list[float]],
    bits: int,
    n_files: int,
    mode: str,
) -> tuple[int, dict[str, list[int]]]:
    """Write ``df`` clustered on the Z-order of ``cols`` and count, in the
    same action, its rows and its per-column bin occupancy.

    Each column is binned ONCE: one projection adds a bin column per
    clustered column, the Z-key interleaves those columns, and
    ``df.observe`` counts ``bin == i`` over the same columns — so the
    histogram is exactly the binning the files are clustered on. The
    counts sit AFTER the range exchange: ``repartitionByRange`` first runs
    a sampling job over its whole input, and an observation below the
    exchange would count every row twice. One range shuffle on the key,
    an in-file sort, the write; no extra pass. Returns
    ``(row count, {col: [rows per bin]})``."""
    from pyspark.sql import Observation

    n_bins = 1 << bits
    bins = [f"__bin{j}" for j in range(len(cols))]
    keyed = df.select(
        "*",
        *[
            _bin_expr(_numeric(c, df.schema[c].dataType), boundaries[c]).alias(b)
            for c, b in zip(cols, bins)
        ],
    ).withColumn("__z", _interleave([F.col(b) for b in bins], bits))
    obs = Observation()
    observed = keyed.repartitionByRange(n_files, F.col("__z")).observe(
        obs,
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum((F.col(b) == i).cast("long")).alias(f"{b}_{i}")
            for b in bins
            for i in range(n_bins)
        ],
    )
    with _micros_timestamps(df.sparkSession):
        (
            observed.sortWithinPartitions("__z")
            .drop("__z", *bins)
            .write.mode(mode)
            .parquet(path)
        )
    row = obs.get
    occupancy = {
        c: [int(row[f"{b}_{i}"] or 0) for i in range(n_bins)]
        for c, b in zip(cols, bins)
    }
    return int(row["__n"] or 0), occupancy


# ----------------------------------------------------------- layout state


def _state_path(path: str) -> str:
    return os.path.join(path, _LAYOUT_STATE)


def read_layout_state(path: str) -> dict | None:
    """The persisted layout state (frozen boundaries + append-occupancy
    counters), or None for layouts written before this tier / by hand."""
    try:
        with open(_state_path(path)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _write_layout_state(path: str, state: dict) -> None:
    tmp = _state_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _state_path(path))  # same POSIX-rename commit as the stores


def layout_skew(state: dict) -> dict:
    """Per-column decay diagnosis from the occupancy counters — pure driver
    math, no data access. The metric is the worst per-bin ratio of the
    APPENDED share to the BASE layout's share of that bin (floored at a
    quarter of uniform, so a bin the base barely touched but the appends
    flood still reads as drift): 1.0 = appends mirror the base
    distribution exactly; a ts column whose appends all land past the
    frozen range piles into the top occupied bin at base share ~1/bins →
    ratio ~bins. Falls back to a uniform base for pre-upgrade states."""
    n_bins = 1 << state["bits"]
    base = state.get("base_occupancy") or {}
    out = {}
    for c, occ in state["occupancy"].items():
        total = sum(occ)
        if not total:
            out[c] = 1.0
            continue
        b_occ = base.get(c)
        b_total = sum(b_occ) if b_occ else 0
        floor = 0.25 / n_bins
        out[c] = max(
            (occ[i] / total)
            / max((b_occ[i] / b_total) if b_total else 1.0 / n_bins, floor)
            for i in range(n_bins)
        )
    return out


def needs_compaction(
    state: dict,
    skew_ratio: float = DEFAULT_SKEW_RATIO,
    min_appended_frac: float = DEFAULT_MIN_APPENDED_FRAC,
) -> bool:
    """True when the appended mass is both SKEWED (some column's hottest
    bin ≥ ``skew_ratio``× uniform) and MATERIAL (appended rows ≥
    ``min_appended_frac`` of the base layout)."""
    base = max(state.get("n_base_rows", 0), 1)
    if state.get("n_appended_rows", 0) < min_appended_frac * base:
        return False
    return any(r >= skew_ratio for r in layout_skew(state).values())


class _micros_timestamps:
    """Scoped conf: write INT64-µs timestamps (INT96 carries no parquet
    min/max stats, which would blind the manifest AND Spark's own
    row-group skipping) — restored on exit so a layout call never
    changes the encoding of unrelated writes in the caller's session."""

    _KEY = "spark.sql.parquet.outputTimestampType"

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.prev: str | None = None

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self._KEY, None)
            self.spark.conf.set(self._KEY, "TIMESTAMP_MICROS")
        except Exception:
            self.prev = None  # non-settable: ts columns fall back to "kept"
        return self

    def __exit__(self, *exc):
        try:
            if self.prev is None:
                self.spark.conf.unset(self._KEY)
            else:
                self.spark.conf.set(self._KEY, self.prev)
        except Exception:
            pass
        return False


def zorder_append(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    boundaries: dict[str, list[float]] | None = None,
    n_files: int = 8,
    bits: int = DEFAULT_BITS,
    skew_ratio: float = DEFAULT_SKEW_RATIO,
    min_appended_frac: float = DEFAULT_MIN_APPENDED_FRAC,
) -> dict:
    """Append an incremental batch into an existing Z-ordered layout.

    The batch is re-binned against the layout's FROZEN boundaries (same
    z-key space — a later full re-cluster is an optimization, not a
    correctness need), range-split into ``n_files`` new tight files, and
    the manifest is extended with footer stats for JUST those files —
    O(batch) work per append, the streaming-ingest shape. Readers that
    race an append stay correct either way: `prune_files` keeps any data
    file the manifest doesn't know yet. (The manifest rewrite itself is
    last and advisory; a production deployment would publish it through
    the pointer backends in streaming/commit.py like every other store.)
    ``bits`` must match the ``zorder_write`` that froze ``boundaries``;
    when ``boundaries`` is None both come from the persisted layout state.

    **Layout-decay defense (VERDICT r6):** frozen equi-depth boundaries go
    stale as the appended distribution drifts — time marches forward, so a
    ``ts`` dimension ALWAYS piles new rows into the top bin, the appended
    files all share that bin's wide z-range, and pruning selectivity on
    the appended region decays toward full scans. Correctness never
    breaks (the residual predicate is always re-applied), but at 100 TB
    with daily appends this is the dominant layout-decay mode. Each
    append therefore also counts the batch's rows per frozen bin — read
    off the same bin columns its Z-key interleaves, inside the append's own
    write action (no extra pass, no extra shuffle of data rows) — and
    accumulates per-column bin occupancy in the layout state. Returns a
    report::

        {"new_files": [...], "skew": {col: max_share_ratio},
         "appended_frac": float | None, "needs_compaction": bool}

    (``appended_frac`` is None when the layout carries no state file —
    boundaries passed explicitly, pre-upgrade layouts.)

    — callers schedule :func:`zorder_compact` when ``needs_compaction``
    is True (kept as a separate step: compaction rewrites the table and
    belongs in a maintenance window, not inline in the ingest hot path).
    """
    spark = df.sparkSession
    state = read_layout_state(path)
    if boundaries is None:
        if state is None:
            raise ValueError(
                f"no layout state at {path} — pass boundaries explicitly "
                "or write the layout with zorder_write first"
            )
        boundaries = state["boundaries"]
        bits = state["bits"]
    before = _data_files(path)
    n_bins = 1 << bits
    # occupancy of THIS batch against the frozen bins rides the append write
    n_batch, batch_occ = _clustered_write(
        df, path, cols, boundaries, bits, n_files, "append"
    )
    new_files = sorted(set(_data_files(path)) - set(before))
    if new_files:
        _extend_manifest(spark, path, new_files, cols)
    # appended_frac is None (not absent) without layout state — callers
    # reading report["appended_frac"] on a pre-upgrade / explicit-
    # boundaries layout get a value, never a KeyError (ADVICE r7)
    report = {
        "new_files": new_files,
        "skew": {},
        "appended_frac": None,
        "needs_compaction": False,
    }
    if state is not None:
        for c in cols:
            occ = state["occupancy"].setdefault(c, [0] * n_bins)
            for i in range(n_bins):
                occ[i] += batch_occ[c][i]
        state["n_appended_rows"] = state.get("n_appended_rows", 0) + n_batch
        _write_layout_state(path, state)
        report["skew"] = layout_skew(state)
        report["appended_frac"] = state["n_appended_rows"] / max(
            state.get("n_base_rows", 0), 1
        )
        report["needs_compaction"] = needs_compaction(
            state, skew_ratio, min_appended_frac
        )
    return report


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: Sequence[str] | None = None,
    n_files: int = 32,
    bits: int | None = None,
) -> dict[str, list[float]]:
    """Full re-cluster: re-quantile the CURRENT distribution (fresh
    equi-depth boundaries — the whole point: the frozen ones no longer
    match the data) and rewrite the layout, restoring pruning selectivity
    on the drifted region. Rewrites through a sibling staging directory,
    then swaps — the source stays intact until the new layout is fully
    written. (Locally the swap is rmtree+rename; a production deployment
    publishes the new file set through the manifest pointer backends in
    streaming/commit.py, the sources/shards.py pattern, so readers never
    observe a half-swap.) Returns the NEW boundaries."""
    import shutil

    state = read_layout_state(path)
    if cols is None:
        if state is None:
            raise ValueError(
                f"no layout state at {path} — pass cols explicitly"
            )
        cols = state["cols"]
    if bits is None:
        bits = state["bits"] if state else DEFAULT_BITS
    staging = path.rstrip("/") + ".__compact__"
    df = spark.read.parquet(path)
    # manifest AFTER the swap: its rows carry absolute file paths, which
    # must name the final location, not the staging directory
    boundaries = zorder_write(
        df, staging, cols, n_files=n_files, bits=bits, manifest=False
    )
    shutil.rmtree(path)
    os.rename(staging, path)
    build_skipping_manifest(spark, path, cols)
    return boundaries


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _extend_manifest(
    spark: SparkSession, path: str, new_files: list[str], cols: Sequence[str]
) -> None:
    """Footer-sweep only the new files; rewrite manifest = old ∪ new rows."""
    import pyarrow.parquet as pq

    old = pq.read_table(os.path.join(path, _MANIFEST_SUBDIR)).to_pandas()
    add = _footer_stats(pd.Series(new_files), list(cols))
    merged = pd.concat([old, add], ignore_index=True)
    out = spark.createDataFrame(merged, _MANIFEST_SCHEMA)
    out.write.mode("overwrite").parquet(os.path.join(path, _MANIFEST_SUBDIR))


def _footer_stats(paths: pd.Series, cols: Sequence[str]) -> pd.DataFrame:
    """Per-(file, col) min/max from parquet FOOTERS (no data pages read)."""
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        try:
            md = pq.ParquetFile(p).metadata
        except Exception:
            # unreadable file → no stats row → reader keeps it (sound)
            continue
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            idx = name_to_idx.get(c)
            vmin = vmax = None
            nulls = 0
            ok = idx is not None
            if ok:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo, hi = _stat_to_double(st.min), _stat_to_double(st.max)
                    if lo is None or hi is None:
                        ok = False
                        break
                    vmin = lo if vmin is None else min(vmin, lo)
                    vmax = hi if vmax is None else max(vmax, hi)
                    nulls += st.null_count or 0
            rows.append(
                {
                    "file": p,
                    "col": c,
                    "vmin": vmin if ok else None,
                    "vmax": vmax if ok else None,
                    "n_nulls": nulls if ok else None,
                    "n_rows": md.num_rows,
                }
            )
    return pd.DataFrame(
        rows, columns=["file", "col", "vmin", "vmax", "n_nulls", "n_rows"]
    )


def _stat_to_double(v) -> float | None:
    """Parquet stat → comparable double (timestamps → epoch µs)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        # exact integer epoch-µs: float .timestamp()*1e6 truncates 1 µs low
        # for ~2.5 % of epochs past ~2040, which would let prune_files drop
        # a file whose true max equals the predicate bound — silent row loss
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        micros = (v - epoch) // datetime.timedelta(microseconds=1)
        return float(micros)
    return None  # strings/binary: not manifest-skippable here


def build_skipping_manifest(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Distributed footer sweep → ``{path}/_skipping`` manifest parquet.

    The file *list* is O(files) driver memory (same as any commit log); the
    footer reads run on executors via one ``mapInPandas`` over the list.
    """
    files = _data_files(path)
    cols = list(cols)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _footer_stats(b["file"], cols)

    fdf = spark.createDataFrame([(f,) for f in files], "file string")
    # spread the footer reads across the cluster; each file's stats row is tiny
    n_slices = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    manifest = fdf.repartition(n_slices).mapInPandas(scan, _MANIFEST_SCHEMA)
    manifest.write.mode("overwrite").parquet(os.path.join(path, _MANIFEST_SUBDIR))
    return read_manifest(spark, path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest as a (driver-materialized) DataFrame.

    Loaded with pyarrow, not spark.read: the manifest is O(files·cols)
    rows, and underscore-prefixed paths are invisible to Spark's file
    listing by design (that is what hides the manifest from data scans).
    """
    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(path, _MANIFEST_SUBDIR)).to_pandas()
    return spark.createDataFrame(pdf, _MANIFEST_SCHEMA)


def prune_files(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple[float | None, float | None]],
) -> tuple[list[str], int]:
    """Files whose stats CAN satisfy every [lo, hi] predicate → (kept, total).

    A file is pruned when some predicated column has known stats whose
    [vmin, vmax] cannot overlap the interval: vmin/vmax describe every
    NON-null value, and NULL never satisfies a range predicate, so
    non-overlap ⇒ zero matching rows regardless of null count. Unknown
    stats keep the file.

    The decision runs DRIVER-SIDE over the manifest with pyarrow — the
    manifest is O(files·cols) rows (the Delta-transaction-log scale, KBs
    per thousand files), and a planning step must not cost a Spark job:
    pruning exists to make short selective scans cheap.
    """
    import pyarrow.parquet as pq

    mdir = os.path.join(path, _MANIFEST_SUBDIR)
    m = pq.read_table(mdir).to_pandas()
    # ONE vectorized pass over the predicated manifest rows (VERDICT r7
    # #8): per-column bounds broadcast via map, the non-overlap test is a
    # single boolean expression — at 10⁵ files × cols this is
    # milliseconds where a per-column re-filter loop was seconds of
    # per-serving-read driver time.
    sub = m[m["col"].isin(predicates)]
    lo = sub["col"].map({c: p[0] for c, p in predicates.items()}).astype(float)
    hi = sub["col"].map({c: p[1] for c, p in predicates.items()}).astype(float)
    known = sub["vmin"].notna() & sub["vmax"].notna()
    violates = known & (
        (lo.notna() & (sub["vmax"] < lo)) | (hi.notna() & (sub["vmin"] > hi))
    )
    excluded: set[str] = set(sub.loc[violates, "file"])
    # The live directory, not the manifest, is the source of truth for
    # WHICH files exist: a file appended after the manifest build has no
    # stats row and must be KEPT, or a stale manifest would silently drop
    # its rows (the manifest may only ever subtract work, never data).
    all_files = _data_files(path)
    kept = [f for f in all_files if f not in excluded]
    return kept, len(all_files)


def topk_prune_bound(path: str, col: str, k: int) -> float | None:
    """A SOUND lower bound for the top-``k`` largest values of ``col``,
    from the manifest alone (driver math, no data access).

    Walk files by vmin descending, accumulating guaranteed row mass
    (``n_rows − n_nulls`` — every non-null row in a file is ≥ its vmin);
    once ≥ k rows are accumulated, that file's vmin is the bound: at
    least k values sit at or above it, so the k-th largest value is ≥ it
    and any file with vmax < bound cannot contain a top-k row. Returns
    None when the manifest cannot guarantee k rows (missing stats, tiny
    table) — the caller must full-scan, never guess.
    """
    import pyarrow.parquet as pq

    try:
        m = pq.read_table(os.path.join(path, _MANIFEST_SUBDIR)).to_pandas()
    except Exception:
        return None
    rows = m[(m["col"] == col) & m["vmin"].notna()].sort_values(
        "vmin", ascending=False
    )
    if rows.empty:
        return None
    # one cumsum + searchsorted instead of an iterrows walk (VERDICT r7
    # #8): the cumulative guaranteed mass is nondecreasing, so the first
    # index with acc ≥ k is a binary search
    mass = (
        rows["n_rows"].astype("int64")
        - rows["n_nulls"].fillna(0).astype("int64")
    ).to_numpy()
    acc = mass.cumsum()
    idx = int(np.searchsorted(acc, k, side="left"))
    if idx >= len(acc):
        return None
    return float(rows["vmin"].to_numpy()[idx])


def pruned_read(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple[float | None, float | None]],
    schema: T.StructType | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Manifest-pruned scan + the residual predicate re-applied.

    Soundness by construction: pruning only ever *removes files the
    predicate could not select from*, and the same predicate filters the
    surviving rows — so the result equals the unpruned filtered scan for
    every input, manifest or no manifest.
    """
    kept, total = prune_files(spark, path, predicates)
    stats = {"files_total": total, "files_read": len(kept)}
    if not kept:
        base = spark.read.parquet(path) if schema is None else (
            spark.read.schema(schema).parquet(path)
        )
        return base.limit(0), stats
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(*kept)
    for c, (lo, hi) in predicates.items():
        dtype = df.schema[c].dataType
        if lo is not None:
            df = df.filter(F.col(c) >= _pushable_lit(lo, dtype, floor=True))
        if hi is not None:
            df = df.filter(F.col(c) <= _pushable_lit(hi, dtype, floor=False))
    return df, stats


def _pushable_lit(v: float, dtype: T.DataType, floor: bool) -> Column:
    """A literal in the COLUMN's type so the residual filter reaches the
    parquet scan (``PushedFilters``) and skips row groups inside kept files.

    A double literal against an integral/timestamp column would promote the
    *column* to double and kill pushdown. Integral bounds round toward the
    predicate's interior (ceil for lower bounds, floor for upper) — the
    manifest interval is over the same numeric view, so this loses no rows.
    """
    import math

    if isinstance(dtype, T.TimestampType):
        # the numeric view is epoch-µs (see _numeric / _stat_to_double)
        micros = math.ceil(v) if floor else math.floor(v)
        return F.timestamp_micros(F.lit(int(micros)))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return F.lit(int(math.ceil(v) if floor else math.floor(v)))
    # float32 columns: keep the bound in DOUBLE (Spark promotes the column)
    # — casting the literal down to float can round UP past the bound and
    # admit rows the predicate excludes; exactness beats pushdown here.
    return F.lit(float(v))
