"""Continuous time-bucket rollups — hypertable-style incremental
aggregates over the event stream.

The TimescaleDB continuous-aggregate / Druid-rollup shape, rebuilt on the
repo's bucketed-store machinery: a ``RollupStore`` materializes PARTIAL
aggregates per (time bucket × dimensions) — count, integer-cents sum,
min, max — and every micro-batch epoch merges only the time buckets it
touches. Because every partial is MERGEABLE (associative, commutative,
exact integer arithmetic — the repo's combine-order-independence
convention), three properties fall out by construction:

- **Late data is just another merge.** An event for last Tuesday arriving
  today re-merges Tuesday's bucket — no watermark-drops-it semantics, no
  full recompute. Plain Structured-Streaming append-mode windows cannot
  revise a window after the watermark closes it; the rollup store can,
  which is exactly why hypertables materialize partials, not finals.
- **Coarser grains are free and exact.** hour→day→month rollups re-merge
  the same partials (``coarsen``) — no second pass over raw events and
  no float drift (integer cents).
- **Real-time views are a union-merge.** ``realtime_aggregate`` merges
  the materialized partials with partials of the not-yet-applied tail —
  the serving pattern where the stored rollup answers history and the
  last seconds come from the queue. Exactness rests on the caller's
  stored∕tail DISJOINTNESS contract (the stream's own delivery boundary).

Storage reuses ``BucketedViewStore`` (pointer-last atomic commit under
both backends, touched-bucket-only rewrites, vacuum keeping
reader-referenced versions, and the segment folds, whose row fold here
is ``merge_partials``) with ``key_col = bucket_ts``: per-epoch write
cost is O(|batch partials| + |touched time buckets|), never O(|history|).
A year of hourly × 1k-dim partials is ~9M rows — the STORE is bounded by
the rollup grain, not the event volume, which is the whole point of
rollup at 100 TB of raw events.

Exactly-once: additive aggregates are NOT idempotent under replay (a
re-applied epoch double-counts — unlike the LWW stores, where replay is
harmless), so the store runs the shared ``ReplayGuard("additive")``
discipline (streaming/replay.py): strictly-monotone silent suppression
WITHIN a run token (Structured Streaming's foreachBatch epoch ids are
monotone per checkpoint, continuing across restarts), and a loud
``ReplayMismatchError`` when a DIFFERENT token presents a regressed
epoch — a fresh checkpointed query attached to an existing store
restarts epoch numbering at 0, and the pre-r9 unconditional guard
silently swallowed its early epochs (VERDICT r8 #1). ``start_rollup``
derives a checkpoint-stable token (``run_token_for``) automatically;
``RollupStore.adopt`` is the explicit escape hatch for intentionally
attaching a new disjoint stream to existing data.

No reference counterpart: the reference serves only the latest-state view
(`data-plane/internal/projection/signal.go`); time-bucketed analytics
over the event history is part of this engine's analytics surface
(SURVEY §2.9's batch q_tumbling_window is the one-shot twin — pinned
equal in tests/test_rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .projection import BucketedViewStore

__all__ = [
    "RollupStore",
    "coarsen",
    "finalize",
    "merge_partials",
    "realtime_aggregate",
    "rollup_distinct",
    "rollup_topk",
    "rollup_quantiles",
    "start_rollup",
]

_AGG_FIELDS = [
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_cents", T.LongType()),
    T.StructField("min_cents", T.LongType()),
    T.StructField("max_cents", T.LongType()),
]
#: optional mergeable quantile-sketch column (operators/quantiles.py
#: JSON form) — present when the store runs with ``quantile_k``
_SKETCH_FIELD = T.StructField("qsketch", T.StringType())
#: optional mergeable KMV distinct-count column (operators/sketches.py
#: dict form) — present when the store runs with ``distinct_col``.
#: Unlike the quantile sketch, KMV union-merge is LOSSLESS (pinned in
#: tests/test_sketches.py), so this column is bit-deterministic across
#: partitionings and epoch splits — and EXACT below k distincts.
_KMV_FIELD = T.StructField("kmv", T.StringType())
#: optional mergeable Misra-Gries heavy-hitters column
#: (operators/heavy_hitters.py JSON form) — present when the store runs
#: with ``topk_col``. Exact (zero decrement mass) while a bucket's
#: distinct items stay within ``mg_capacity``; above it, every served
#: item carries sound [count_min, count_max] bounds.
_MG_FIELD = T.StructField("mg", T.StringType())


def _merge_exprs() -> list:
    return [
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    ]


def _schema(
    dims: tuple[str, ...],
    sketch: bool,
    distinct: bool = False,
    topk: bool = False,
) -> T.StructType:
    fields = (
        [T.StructField("bucket_ts", T.TimestampType())]
        + [T.StructField(d, T.StringType()) for d in dims]
        + list(_AGG_FIELDS)
    )
    if sketch:
        fields.append(_SKETCH_FIELD)
    if distinct:
        fields.append(_KMV_FIELD)
    if topk:
        fields.append(_MG_FIELD)
    return T.StructType(fields)


def merge_partials(
    partials: DataFrame,
    dims: tuple[str, ...],
    sketch: bool = False,
    distinct: bool = False,
    topk: bool = False,
) -> DataFrame:
    """Merge partial rows sharing (bucket_ts, dims). The exact columns
    are associative/commutative integer folds (safe under any combine
    order); with ``sketch``/``distinct`` the qsketch/kmv columns merge
    through ``quantile_merge``/``kmv_merge`` in a grouped Arrow pass —
    group input is partial ROWS (one per upstream batch/epoch per key),
    never raw events."""
    if not (sketch or distinct or topk):
        return partials.groupBy("bucket_ts", *dims).agg(*_merge_exprs())

    import json as _json

    from ..operators.heavy_hitters import MGSummary, mg_merge
    from ..operators.quantiles import QuantileSketch, quantile_merge
    from ..operators.sketches import KMVSketch, kmv_merge

    out_schema = _schema(dims, sketch=sketch, distinct=distinct, topk=topk)
    keys = ["bucket_ts", *dims]

    def merge(pdf):
        import pandas as pd

        def _i(v):
            # all-NULL buckets carry NULL folds (exact-mode F.sum/min/max
            # semantics) — they arrive here as NaN and must stay NULL
            return None if pd.isna(v) else int(v)

        row = {k: [pdf[k].iloc[0]] for k in keys}
        row.update(
            {
                "n_events": [int(pdf["n_events"].sum())],
                "sum_cents": [_i(pdf["sum_cents"].sum(min_count=1))],
                "min_cents": [_i(pdf["min_cents"].min())],
                "max_cents": [_i(pdf["max_cents"].max())],
            }
        )
        if sketch:
            sk = None
            for s in pdf["qsketch"]:
                cur = QuantileSketch.from_json(s)
                sk = cur if sk is None else quantile_merge(sk, cur)
            row["qsketch"] = [sk.to_json()]
        if distinct:
            km = None
            for s in pdf["kmv"]:
                cur = KMVSketch.from_dict(_json.loads(s))
                km = cur if km is None else kmv_merge(km, cur)
            row["kmv"] = [_json.dumps(km.to_dict())]
        if topk:
            mg = None
            for s in pdf["mg"]:
                cur = MGSummary.from_json(s)
                mg = cur if mg is None else mg_merge(mg, cur)
            row["mg"] = [mg.to_json()]
        return pd.DataFrame(row)

    return partials.groupBy(*keys).applyInPandas(merge, out_schema)


def coarsen(
    partials: DataFrame,
    grain: str,
    dims: tuple[str, ...],
    sketch: bool = False,
    distinct: bool = False,
    topk: bool = False,
) -> DataFrame:
    """Re-bucket partials to a coarser ``grain`` and merge — EXACT for
    the integer columns (the mergeable-partial property): hour→day from
    the stored rollup equals a day rollup computed from raw events,
    without touching raw events. Sketches merge too (quantile error
    stays within the additive merge bound; KMV merge is lossless)."""
    return merge_partials(
        partials.withColumn(
            "bucket_ts", F.window(F.col("bucket_ts"), grain)["start"]
        ),
        dims,
        sketch=sketch,
        distinct=distinct,
        topk=topk,
    )


def rollup_quantiles(
    partials: DataFrame, qs: list[float], dims: tuple[str, ...]
) -> DataFrame:
    """Per-bucket quantile estimates from the stored sketches:
    (bucket_ts, dims..., p<q> ...) — one Arrow pass over bucket-grain
    rows (bounded by grain×dims, never event volume)."""
    from ..operators.quantiles import QuantileSketch

    cols = [f"p{round(q * 100)}" for q in qs]
    out_schema = T.StructType(
        [T.StructField("bucket_ts", T.TimestampType())]
        + [T.StructField(d, T.StringType()) for d in dims]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )
    keys = ["bucket_ts", *dims]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = {k: pdf[k] for k in keys}
            ests = []
            for s in pdf["qsketch"]:
                sk = QuantileSketch.from_json(s)
                # a bucket whose values were all NULL has an empty
                # sketch — its quantiles are NULL, not an error
                ests.append(
                    sk.quantiles(qs) if sk.n else [None] * len(qs)
                )
            for i, c in enumerate(cols):
                out[c] = [e[i] for e in ests]
            yield pd.DataFrame(out)

    return partials.mapInPandas(run, out_schema)


def rollup_distinct(
    partials: DataFrame, dims: tuple[str, ...]
) -> DataFrame:
    """Per-bucket distinct-count estimates from the stored KMV sketches:
    (bucket_ts, dims..., n_distinct, distinct_exact) — ``distinct_exact``
    is True while the bucket's distincts stayed below k (the estimate is
    then an exact count)."""
    import json as _json

    from ..operators.sketches import KMVSketch, kmv_estimate

    out_schema = T.StructType(
        [T.StructField("bucket_ts", T.TimestampType())]
        + [T.StructField(d, T.StringType()) for d in dims]
        + [
            T.StructField("n_distinct", T.DoubleType()),
            T.StructField("distinct_exact", T.BooleanType()),
        ]
    )
    keys = ["bucket_ts", *dims]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = {k: pdf[k] for k in keys}
            sks = [KMVSketch.from_dict(_json.loads(s)) for s in pdf["kmv"]]
            out["n_distinct"] = [kmv_estimate(s) for s in sks]
            out["distinct_exact"] = [s.exact for s in sks]
            yield pd.DataFrame(out)

    return partials.mapInPandas(run, out_schema)


def rollup_topk(
    partials: DataFrame, k: int, dims: tuple[str, ...]
) -> DataFrame:
    """Per-bucket heavy hitters from the stored MG sketches: ≤k rows per
    bucket of (bucket_ts, dims..., item, count_min, count_max, rank) —
    count bounds are SOUND (S ≤ true ≤ S + decrement mass), equal while
    the bucket stayed within capacity."""
    from ..operators.heavy_hitters import MGSummary

    out_schema = T.StructType(
        [T.StructField("bucket_ts", T.TimestampType())]
        + [T.StructField(d, T.StringType()) for d in dims]
        + [
            T.StructField("item", T.StringType()),
            T.StructField("count_min", T.LongType()),
            T.StructField("count_max", T.LongType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    keys = ["bucket_ts", *dims]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = {c.name: [] for c in out_schema.fields}
            for i in range(len(pdf)):
                top = MGSummary.from_json(pdf["mg"].iloc[i]).top(k)
                for r, (item, lo, hi) in enumerate(top):
                    for kc in keys:
                        rows[kc].append(pdf[kc].iloc[i])
                    rows["item"].append(item)
                    rows["count_min"].append(lo)
                    rows["count_max"].append(hi)
                    rows["rank"].append(r + 1)
            yield pd.DataFrame(rows)

    return partials.mapInPandas(run, out_schema)


def finalize(partials: DataFrame, dims: tuple[str, ...]) -> DataFrame:
    """Finalized aggregate columns from partials (floats only at the
    edge, per the integer-cents convention)."""
    return partials.select(
        "bucket_ts",
        *dims,
        "n_events",
        (F.col("sum_cents") / 100.0).alias("sum_value"),
        (F.col("min_cents") / 100.0).alias("min_value"),
        (F.col("max_cents") / 100.0).alias("max_value"),
        (F.col("sum_cents") / 100.0 / F.col("n_events")).alias("avg_value"),
    )


def realtime_aggregate(
    stored: DataFrame | None,
    tail_partials: DataFrame,
    dims: tuple[str, ...],
    sketch: bool = False,
    distinct: bool = False,
    topk: bool = False,
) -> DataFrame:
    """Stored rollup ∪ un-applied tail, merged — the real-time serving
    view. Caller contract: tail events are DISJOINT from every applied
    epoch (the stream's delivery boundary provides exactly this)."""
    merged = (
        tail_partials
        if stored is None
        else stored.unionByName(tail_partials)
    )
    return merge_partials(
        merged, dims, sketch=sketch, distinct=distinct, topk=topk
    )


class _PartialStore(BucketedViewStore):
    """The rollup's ``BucketedViewStore``: its fold merges each key's
    partials (one per segment) into one row."""

    def __init__(self, path: str, merge, **kwargs):
        super().__init__(path, **kwargs)
        self._merge = merge

    def fold_rows(self, df: DataFrame) -> DataFrame:
        return self._merge(df)


class RollupStore:
    """Incrementally-maintained time-bucket rollup over an event stream.

    ``grain`` is any Spark window duration ("1 hour", "15 minutes");
    ``dims`` the grouping dimensions kept alongside the time bucket;
    ``value_col`` aggregates as integer cents. Storage, atomic commit,
    touched-bucket locality, and vacuum come from BucketedViewStore
    (key = bucket_ts, so one time bucket's partials — all dims — live in
    one hash bucket and late-merges rewrite only that bucket's dir), and
    so do the segment folds: the store's fold merges partials.
    """

    def __init__(
        self,
        path: str,
        grain: str = "1 hour",
        dims: tuple[str, ...] = ("event_type",),
        n_buckets: int = 32,
        backend=None,
        ts_col: str = "ts",
        value_col: str = "value",
        quantile_k: int | None = None,
        distinct_col: str | None = None,
        kmv_k: int = 256,
        topk_col: str | None = None,
        mg_capacity: int = 64,
        write_mode: str = "merge",
    ):
        """``quantile_k`` opts into a mergeable quantile-sketch column
        (p50/p95-per-bucket serving via ``rollup_quantiles``): partials
        carry a sketch built per Arrow batch (two-level, like
        ``quantile_sketch`` — no whole-group materialization) and merged
        per epoch. The exact integer columns stay bit-identical to the
        sketch-free mode; the sketch column is approximate (rank error
        per the KLL-style bound) and, unlike them, not byte-identical
        across partitionings.

        ``distinct_col`` opts into a KMV distinct-count column
        ("distinct users per hour" via ``rollup_distinct``): the column
        hashes through the repo's NULL-gated KMV domain, merges
        LOSSLESSLY across batches/epochs (bit-deterministic, and exact
        while a bucket's distincts stay below ``kmv_k``).

        ``topk_col`` opts into a Misra-Gries heavy-hitters column ("top
        pages per hour" via ``rollup_topk``): exact counts while a
        bucket's distinct items fit ``mg_capacity``; beyond it every
        served item keeps sound [count_min, count_max] bounds (S ≤ true
        ≤ S + decrement mass — the MG invariant, preserved by the
        re-capping merge).

        ``write_mode`` picks the epoch write path. ``"merge"`` (default)
        read-merge-rewrites the touched time buckets — right when
        batches touch FEW buckets (the common real-time shape: events
        land in the current hour). ``"append"`` writes the batch's
        partials as a new SEGMENT of the touched buckets
        (``append_buckets``, the shape the BM25 index uses): per-epoch
        write cost is O(|batch partials|) with the stored history never
        read or rewritten — right for LATE-DATA-HEAVY streams whose
        batches scatter across many old time buckets (each late sliver
        no longer drags its whole bucket's rewrite). Reads merge the
        segments at read time (partials are mergeable — that is the
        rollup invariant), whichever mode the store is opened with, and
        the store folds long segment lists back to one merged row per
        key after the append that grew them."""
        if write_mode not in ("merge", "append"):
            raise ValueError(f"write_mode must be merge|append, got {write_mode!r}")
        self.write_mode = write_mode
        self.grain = grain
        self.dims = tuple(dims)
        self.ts_col = ts_col
        self.value_col = value_col
        self.quantile_k = quantile_k
        self.distinct_col = distinct_col
        self.kmv_k = kmv_k
        self.topk_col = topk_col
        self.mg_capacity = mg_capacity
        self._store = _PartialStore(
            path,
            self._merge,
            n_buckets=n_buckets,
            backend=backend,
            schema=_schema(
                self.dims,
                sketch=quantile_k is not None,
                distinct=distinct_col is not None,
                topk=topk_col is not None,
            ),
            key_col="bucket_ts",
            guard_mode="additive",
        )
        self._guard = self._store.guard

    def _merge(self, partials: DataFrame) -> DataFrame:
        return merge_partials(
            partials,
            self.dims,
            sketch=self.quantile_k is not None,
            distinct=self.distinct_col is not None,
            topk=self.topk_col is not None,
        )

    @property
    def _sketchy(self) -> bool:
        return (
            self.quantile_k is not None
            or self.distinct_col is not None
            or self.topk_col is not None
        )

    # -- aggregation --------------------------------------------------------

    def partials(self, events: DataFrame) -> DataFrame:
        """Events → MERGED partial rows at the store's grain (one shuffle
        either way: Catalyst partial agg in exact mode, per-Arrow-batch
        sketch rows + grouped merge in quantile mode; output is
        bucket-grain, |batch|-independent)."""
        cents = F.round(F.col(self.value_col) * 100, 0).cast("bigint")
        keyed = events.withColumn("__c", cents).withColumn(
            "bucket_ts",
            F.window(F.col(self.ts_col), self.grain)["start"],
        )
        cols = [
            F.col("bucket_ts"),
            *[F.col(d).cast("string").alias(d) for d in self.dims],
            F.col("__c"),
            F.col(self.value_col).cast("double").alias("__v"),
        ]
        if self.distinct_col is not None:
            from ..operators.sketches import _hv

            cols.append(_hv(self.distinct_col).alias("__h"))
        if self.topk_col is not None:
            cols.append(F.col(self.topk_col).cast("string").alias("__t"))
        keyed = keyed.select(*cols)
        if not self._sketchy:
            return keyed.groupBy("bucket_ts", *self.dims).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("__c").alias("sum_cents"),
                F.min("__c").alias("min_cents"),
                F.max("__c").alias("max_cents"),
            )
        return self._merge(self._batch_sketch_rows(keyed))

    def _batch_sketch_rows(self, keyed: DataFrame) -> DataFrame:
        """Per-Arrow-batch partial rows incl. batch-local sketches — the
        map-side 'combine' of the sketch modes (state O(k·groups) per
        batch, never whole-group arrays)."""
        qk = self.quantile_k
        kmv_k = self.kmv_k
        mg_cap = self.mg_capacity
        want_q = qk is not None
        want_d = self.distinct_col is not None
        want_t = self.topk_col is not None
        dims = self.dims
        out_schema = _schema(
            dims, sketch=want_q, distinct=want_d, topk=want_t
        )
        keys = ["bucket_ts", *dims]

        def gen(batches):
            import json as _json

            import numpy as np
            import pandas as pd

            from ..operators.heavy_hitters import MGSummary, _MGState
            from ..operators.quantiles import sketch_values
            from ..operators.sketches import KMVSketch

            for pdf in batches:
                if not len(pdf):
                    continue
                names = [f.name for f in out_schema.fields]
                rows = {c: [] for c in names}
                for key, g in pdf.groupby(keys, dropna=False, sort=False):
                    key = key if isinstance(key, tuple) else (key,)
                    for kc, kv in zip(keys, key):
                        rows[kc].append(kv)
                    # NULL values: counted in n_events, excluded from the
                    # folds — the exact-mode F.sum/min/max semantics
                    c = g["__c"].dropna().to_numpy(dtype=np.int64)
                    rows["n_events"].append(len(g))
                    rows["sum_cents"].append(int(c.sum()) if len(c) else None)
                    rows["min_cents"].append(int(c.min()) if len(c) else None)
                    rows["max_cents"].append(int(c.max()) if len(c) else None)
                    if want_q:
                        rows["qsketch"].append(
                            sketch_values(
                                g["__v"].to_numpy(dtype=np.float64), qk
                            ).to_json()
                        )
                    if want_d:
                        hs = np.unique(
                            g["__h"].dropna().to_numpy(dtype=np.int64)
                        )
                        rows["kmv"].append(
                            _json.dumps(
                                KMVSketch(
                                    kmv_k, tuple(int(h) for h in hs[:kmv_k])
                                ).to_dict()
                            )
                        )
                    if want_t:
                        st = _MGState(mg_cap)
                        vc = g["__t"].dropna().value_counts()
                        # heaviest first: bulk increments before any
                        # decrement pressure (mg_partition_summaries'
                        # convention)
                        for item, w in vc.items():
                            st.add(str(item), int(w))
                        rows["mg"].append(
                            MGSummary(
                                mg_cap, st.summary(), st.dec
                            ).to_json()
                        )
                yield pd.DataFrame(rows)

        return keyed.mapInPandas(gen, out_schema)

    # -- store passthrough --------------------------------------------------

    def current(self) -> dict | None:
        return self._store.current()

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The materialized partials table (None before the first epoch):
        one row per (bucket_ts, dims). A bucket whose manifest entry
        lists more than one segment (``append`` writes) holds one PARTIAL
        per segment per key, so then the read merges them (mergeability
        is the rollup invariant, so this is exact); otherwise rows are
        already unique per key and the read is the plain union. The
        store's manifest decides, not the mode it was opened with."""
        cur = self.current()
        df = self._store.read(spark, cur=cur)
        if df is None or not self._store.deep_buckets(cur, 1):
            return df
        return self._merge(df)

    def finalized(self, spark: SparkSession) -> DataFrame | None:
        stored = self.read(spark)
        return None if stored is None else finalize(stored, self.dims)

    # -- write path ---------------------------------------------------------

    def adopt(self) -> None:
        """``PointerStore.adopt``: only valid when the new stream is
        disjoint from what is stored (replays double-count)."""
        self._store.adopt()

    def apply_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        epoch: int,
        run_token: str | None = None,
    ) -> None:
        """foreachBatch body: additive replay guard (token-scoped
        monotone suppression, loud on cross-token regression — see
        module docstring), then merge the batch's partials into only
        the touched buckets."""
        cur = self.current()
        if self._guard.is_replay(cur, epoch, run_token):
            return
        batch_partials = self.partials(batch)
        touched = self._store.touched_buckets(batch_partials, "bucket_ts")
        cols = [f.name for f in self._store.schema.fields]
        if self.write_mode == "append":
            # SEGMENT append: only this batch's partials are written —
            # the stored history is never read or rewritten, so a late
            # sliver touching an old time bucket costs O(sliver), not
            # O(that bucket's history). Reads merge segments; the store
            # folds long segment lists.
            self._store.append_buckets(
                batch_partials.select(*cols), touched, epoch,
                run_token=run_token, cur=cur,
            )
            return
        state_slice = (
            self._store.read(spark, buckets=touched, cur=cur) if cur else None
        )
        merged = (
            batch_partials
            if state_slice is None
            else self._merge(state_slice.unionByName(batch_partials))
        )
        # an empty batch writes nothing but still commits its epoch, or
        # a crash replaying it could land AFTER later epochs and
        # double-apply
        self._store.write_buckets(
            merged.select(*cols), touched, epoch, run_token=run_token, cur=cur
        )

    def compact(self, spark: SparkSession) -> int | None:
        """Fold every bucket's segment list into ONE merged row per
        (bucket_ts, dims) (``BucketedViewStore.compact`` with the
        partial merge as its row fold). Finalized results are identical
        before and after (pinned); epoch and run token ride the pointer
        commit unchanged. Returns the new version or None when there is
        nothing to fold."""
        return self._store.compact(spark)

    def realtime(
        self, spark: SparkSession, tail_events: DataFrame
    ) -> DataFrame:
        """Finalized real-time view: materialized history + the caller's
        un-applied tail (disjointness is the caller's contract)."""
        return finalize(
            realtime_aggregate(
                self.read(spark),
                self.partials(tail_events),
                self.dims,
                sketch=self.quantile_k is not None,
                distinct=self.distinct_col is not None,
                topk=self.topk_col is not None,
            ),
            self.dims,
        )


def start_rollup(
    spark: SparkSession,
    events: DataFrame,
    store: RollupStore,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
):
    """Wire a parsed event stream into the rollup store and start it —
    the continuous-aggregate twin of ``start_projection``. The run token
    is checkpoint-stable (``run_token_for``): a crash-recovery restart
    presents the same identity (replays suppress silently), while a
    checkpoint RESET presents a fresh one — which the additive guard
    rejects loudly instead of swallowing the new run's epochs. An
    ``append``-mode store folds its segment lists as they grow
    (``BucketedViewStore.append_buckets``)."""
    from .dedup import run_token_for

    run_token = run_token_for(checkpoint_path)

    def _apply(batch: DataFrame, epoch: int) -> None:
        store.apply_batch(spark, batch, epoch, run_token)

    writer = (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
