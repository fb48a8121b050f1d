"""Streaming semantic near-dup suppression — cross-batch SemDeDup in the
ingest path, the embedding-space twin of streaming/dedup.py.

MinHash suppression (streaming/dedup.py) catches edit-level mirrors as
they arrive; this module catches PARAPHRASES — documents whose text
shares no shingles but whose embeddings sit within ``eps`` cosine. Same
composition discipline: the batch operator's pair semantics
(operators/semdedup.py) + the projection path's store/commit machinery.

- Beside the accepted corpus lives an ``EmbeddingStore``: accepted
  vectors laid out by centroid — ``BucketedViewStore`` with
  ``key_col=centroid_id``, so a micro-batch probes ONLY the centroid
  lists its own vectors assign to. The frozen centroids ride the store
  POINTER (k·d floats — KBs), and every apply re-validates them: vectors
  assigned under different centroids are incomparable, so a mismatch is
  an error, not a silent recall loss (the quantizer-pinning rule from
  streaming/ann_index.py).
- Each ``foreachBatch``: within-batch pairs (exact per-cluster GEMM /
  banded fallback — the batch operator) where the LARGER id loses →
  cross-batch probe of the touched centroid lists (one numpy GEMM per
  centroid: |batch_c| × |history_c|) → survivors registered back,
  pointer-last.
- Replay: token-scoped epoch guard skips the append; the suppression
  recompute filters the replayed epoch's own rows out of the probe, so
  same-run replay returns identical survivors. CROSS-run replay (new
  token after a checkpoint loss) is self-healing the same way the
  lexical module is: an exact replay has cosine 1 ≥ eps against its own
  registered copy, so every doc suppresses and nothing re-registers.

Scale notes: per-epoch probe cost is |batch| × |touched centroid
lists| — ``n_clusters`` is the knob that keeps lists short (SemDeDup
uses 50k clusters at web scale; lists shrink linearly as k grows).
Registered buckets are REWRITTEN per touched epoch (read ∪ append →
write, BucketedViewStore.write_buckets) — correct and atomic; the same
store's append segments (``append_buckets``, what SignatureStore and the
BM25 index use) are the upgrade path if bucket rewrite bandwidth ever
dominates (the probe already reads the
full touched list either way). Takedowns are the inner store's, keyed
on ``vec_id``: ``EmbeddingStore.forget`` folds only the victims'
centroid buckets (``BucketedViewStore.compact``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.semdedup import _normalized, semantic_dedup_pairs
from ..operators.similarity import ivf_assign
from .projection import BucketedViewStore
from .replay import replay_mask

__all__ = ["EmbeddingStore", "suppress_and_register_semantic", "start_semantic_ingest"]

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
    ]
)


class EmbeddingStore:
    """Accepted-vector store, centroid-bucketed, centroids pinned in the
    pointer (same atomic commit as the data — a separate centroid file
    could drift from the lists built under it)."""

    def __init__(self, path: str, n_buckets: int = 64, backend=None):
        self._store = BucketedViewStore(
            path,
            n_buckets=n_buckets,
            backend=backend,
            schema=_STORE_SCHEMA,
            key_col="centroid_id",
            id_col="vec_id",
        )
        #: the inner store's idempotent replay discipline
        #: (streaming/replay.py): a replayed registration self-suppresses
        #: at cosine 1, so only positively-identified same-run replays
        #: skip the append.
        self.guard = self._store.guard

    @property
    def n_buckets(self) -> int:
        return self._store.n_buckets

    def current(self) -> dict | None:
        return self._store.current()

    def pinned_centroids(self):
        cur = self.current()
        return None if cur is None else cur.get("centroids")

    def validate_centroids(self, centroids) -> None:
        import numpy as np

        pinned = self.pinned_centroids()
        if pinned is not None and not np.array_equal(
            np.asarray(pinned, dtype=np.float64),
            np.asarray(centroids, dtype=np.float64),
        ):
            raise ValueError(
                "centroid mismatch: this store's lists were assigned under "
                "different centroids — vectors are incomparable across "
                "quantizers (rebuild into a fresh store to re-cluster)"
            )

    def read_buckets(self, spark: SparkSession, buckets) -> DataFrame | None:
        return self._store.read(spark, buckets=buckets)

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self._store.read(spark)

    def append(
        self,
        spark: SparkSession,
        rows: DataFrame,
        touched: list[int],
        epoch: int | None,
        run_token: str | None,
        centroids,
    ) -> None:
        cur = self.current()
        old = self._store.read(spark, buckets=touched, cur=cur) if cur else None
        merged = rows if old is None else old.unionByName(rows)
        self._store.write_buckets(
            merged.select(*[f.name for f in _STORE_SCHEMA.fields]),
            touched,
            epoch,
            run_token,
            extra={"centroids": [list(map(float, c)) for c in centroids]},
            cur=cur,
        )

    def forget(self, spark: SparkSession, vec_ids) -> int:
        """Right-to-be-forgotten maintenance: drop ``vec_ids``' vectors
        from the accepted store, one atomic pointer swing (the BM25
        store's ``forget`` twin). Returns how many were present.

        The store is centroid-bucketed, so the sweep is a fold
        (``BucketedViewStore.compact``) of only the buckets actually
        holding the victims. Consequence to know: a forgotten
        vector stops suppressing future near-duplicates of itself —
        that IS the semantics of forgetting (its content must not keep
        influencing the corpus); docs it already suppressed stay
        suppressed (suppression decisions are not re-litigated).
        Centroids, epoch, and run token ride through unchanged."""
        cur = self.current()
        ids = [int(v) for v in vec_ids]
        if cur is None or not cur["manifest"] or not ids:
            return 0
        idf = spark.createDataFrame([(i,) for i in ids], "vec_id long")
        victims = self._store.read(spark, cur=cur).join(
            F.broadcast(idf), "vec_id", "left_semi"
        )
        touched = self._store.touched_buckets(victims, "centroid_id")
        if not touched:
            return 0
        n_gone = victims.count()
        self._store.compact(spark, touched, idf, cur=cur, trigger="forget")
        return int(n_gone)


def suppress_and_register_semantic(
    spark: SparkSession,
    store: EmbeddingStore,
    embs: DataFrame,
    centroids,
    epoch: int | None = None,
    run_token: str | None = None,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairwise: int = 4096,
) -> DataFrame:
    """One micro-batch of semantic suppression: returns the surviving
    rows of ``embs`` and registers their vectors in the store.

    Suppression rule (greedy, arrival-order — the lexical module's): a
    doc drops iff a cosine-``eps`` match exists among already-accepted
    vectors or same-batch vectors with a smaller id. Earliest accepted
    copy wins; an exact replay has cosine 1 and always suppresses.
    """
    import numpy as np

    store.validate_centroids(centroids)
    # rows with no embedding cannot be judged: they PASS THROUGH un-judged
    # and unregistered (the CorpusRecipe convention — an embedding-coverage
    # gap must not drop documents), instead of crashing the numpy kernels
    judgeable = F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    unjudged = embs.filter(~judgeable)
    embs = embs.filter(judgeable)
    cur = store.current()
    replay = store.guard.is_replay(cur, epoch, run_token)
    cents = np.asarray(centroids, dtype=np.float64)

    # (a) within-batch: the batch operator's pair set; larger id loses
    intra = semantic_dedup_pairs(
        embs,
        cents,
        eps=eps,
        id_col=id_col,
        vec_col=vec_col,
        max_pairwise=max_pairwise,
    ).select(F.col("id_b").alias(id_col))

    # (b) cross-batch: probe ONLY the centroid lists this batch assigns to
    assigned = ivf_assign(
        embs, cents, id_col=id_col, vec_col=vec_col, include_vec=True
    )
    touched = store._store.touched_buckets(assigned, "centroid_id")
    stored = store.read_buckets(spark, touched) if touched else None
    if stored is not None and replay:
        # rows this very epoch wrote must not suppress its own docs
        stored = replay_mask(stored, epoch, run_token)
    if stored is not None:
        hist = stored.select(
            "centroid_id",
            F.col("vec_id").alias("__hid"),
            F.col("vec").alias("__hvec"),
            F.lit("h").alias("__side"),
        )
        batch_side = assigned.select(
            "centroid_id",
            F.col(id_col).alias("__hid"),
            F.col(vec_col).alias("__hvec"),
            F.lit("b").alias("__side"),
        )
        out_schema = T.StructType([T.StructField(id_col, T.LongType())])

        def probe(pdf):
            import pandas as pd

            b = pdf[pdf["__side"] == "b"]
            h = pdf[pdf["__side"] == "h"]
            if not len(b) or not len(h):
                return pd.DataFrame({id_col: []}).astype({id_col: "int64"})
            mb = _normalized(np.array(b["__hvec"].tolist(), dtype=np.float64))
            mh = _normalized(np.array(h["__hvec"].tolist(), dtype=np.float64))
            hits = ((mb @ mh.T) >= eps).any(axis=1)
            return pd.DataFrame({id_col: b["__hid"].to_numpy()[hits]})

        cross = (
            hist.unionByName(batch_side)
            .groupBy("centroid_id")
            .applyInPandas(probe, out_schema)
        )
        suppressed = intra.union(cross).distinct()
    else:
        suppressed = intra.distinct()

    survivors = embs.join(suppressed, id_col, "left_anti").unionByName(
        unjudged
    )
    if not replay and touched:
        rows = (
            assigned.join(suppressed, id_col, "left_anti")
            .select(
                F.col(id_col).alias("vec_id"),
                "centroid_id",
                F.col(vec_col).alias("vec"),
                F.lit(epoch).cast("long").alias("epoch"),
                F.lit(run_token).cast("string").alias("run"),
            )
        )
        store.append(spark, rows, touched, epoch, run_token, cents)
    return survivors


def start_semantic_ingest(
    spark: SparkSession,
    embs: DataFrame,
    store: EmbeddingStore,
    centroids,
    checkpoint_path: str,
    eps: float = 0.95,
    accepted_sink=None,
    trigger_seconds: int | None = None,
):
    """Wire an embedding stream into the suppressor and start it.
    ``accepted_sink(survivors_df, epoch)`` receives each epoch's
    survivors (e.g. an exactly-once corpus append). The run token is
    checkpoint-stable (``run_token_for``): a crash-recovery restart
    presents the same identity, so replayed epochs skip the probe-filter
    dance instead of relying on the cos-1 self-heal."""
    from .dedup import run_token_for

    run_token = run_token_for(checkpoint_path)

    def _apply(batch: DataFrame, epoch: int) -> None:
        surv = suppress_and_register_semantic(
            spark, store, batch, centroids, epoch, run_token, eps=eps
        )
        if accepted_sink is not None:
            accepted_sink(surv, epoch)

    writer = (
        embs.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
