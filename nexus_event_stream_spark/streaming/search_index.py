"""Incrementally-maintained BM25 postings — streaming upkeep for the
lexical index, the retrieval twin of the streaming ANN index.

``BM25IndexStore`` keeps (term, doc_id, tf, dl) postings on the
BucketedViewStore machinery with **key = term**: a micro-batch of new
documents APPENDS its postings as a new segment of the buckets it
touches (``append_buckets`` — the stored history is never read or
rewritten, per-epoch write cost O(|batch postings|); ``compact()``
folds segment lists, Lucene-merge style), pointer committed last (both
backends), and corpus scalars (doc count, total length) accumulate as
exact integers in the pointer. Additive state ⇒
the shared ``ReplayGuard("additive")`` discipline (streaming/replay.py,
same as the rollup store): a replayed epoch within the run token must
never re-append (silent monotone suppression), and a DIFFERENT token
presenting a regressed epoch — a fresh checkpointed query attached to
an existing index — raises ``ReplayMismatchError`` instead of silently
swallowing the new run's postings (VERDICT r8 #1).
``start_search_index`` derives the checkpoint-stable token
automatically; ``BM25IndexStore.adopt`` is the explicit escape hatch.

Two design points that differ from the batch ``build_bm25_index`` — both
BECAUSE the corpus grows:

- **No materialized idf.** The batch index denormalizes idf onto every
  posting; under growth that goes stale with every epoch (idf depends on
  N and df). Here df/idf are computed AT QUERY TIME from the query
  terms' own postings — which cost nothing extra, because the read was
  already pruned to exactly those terms' buckets. Corollary: the
  ``max_df_frac`` stop-term cap is evaluated live too, so a term that
  drifts common (today's meme flooding the crawl) starts being treated
  as a stop-term the epoch it crosses the line — no index decay, no
  rebuild. (The cap guards RANKING live; the skew a hot posting list
  puts on its bucket's rewrite is bounded separately by the bucket
  fan-out, and a full re-cap rebuild stays available as compaction.)
- **Append-only contract.** Each doc_id enters once (the corpus-sink
  model: documents are immutable, revisions are new ids). Re-ingesting
  an id double-counts by design — dedup upstream, like the sharded sink.

Query cost at 100 TB: the read touches |query terms| buckets out of
``n_buckets`` (manifest-pruned paths, never a corpus scan), df/idf are
one tiny aggregate over those postings, and scoring reuses the batch
``bm25_topk`` — broadcast terms, fixed-point int64 sums, rank window.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.search import BM25Index, bm25_topk, search_tokens
from .projection import BucketedViewStore

logger = logging.getLogger(__name__)

__all__ = ["BM25IndexStore", "start_search_index"]

_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.IntegerType()),
    ]
)


class BM25IndexStore:
    """Streaming-maintained postings + exact corpus counters."""

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        backend=None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self._store = BucketedViewStore(
            path,
            n_buckets=n_buckets,
            backend=backend,
            schema=_POSTING_SCHEMA,
            key_col="term",
            guard_mode="additive",
        )
        self._guard = self._store.guard

    def current(self) -> dict | None:
        return self._store.current()

    def adopt(self) -> None:
        """``PointerStore.adopt``: only valid when the new stream's doc
        ids are disjoint from what is indexed (append-only contract)."""
        self._store.adopt()

    # -- write path ---------------------------------------------------------

    def apply_batch(
        self,
        spark: SparkSession,
        docs: DataFrame,
        epoch: int,
        run_token: str | None = None,
    ) -> None:
        """Append the batch's postings into the touched term buckets and
        advance the exact corpus counters; additive replay guard —
        token-scoped monotone suppression, loud on cross-token
        regression (module docstring)."""
        cur = self.current()
        if self._guard.is_replay(cur, epoch, run_token):
            return
        # Tokenize ONCE: the tokenized relation feeds the corpus counters,
        # the touched-bucket probe, and the posting write — three actions
        # that would otherwise each re-run search_tokens over the batch.
        toks = (
            docs.select(
                F.col(self.id_col).alias("doc_id"),
                search_tokens(
                    F.coalesce(F.col(self.text_col), F.lit(""))
                ).alias("__toks"),
            )
            .withColumn("dl", F.size("__toks").cast("int"))
            .persist()
        )
        try:
            n_new, sum_dl_new = toks.select(
                F.count(F.lit(1)), F.sum("dl")
            ).first()
            postings = (
                toks.select("doc_id", "dl", F.explode("__toks").alias("term"))
                .groupBy("term", "doc_id", "dl")
                .agg(F.count(F.lit(1)).alias("tf"))
                .select("term", "doc_id", "tf", "dl")
            )
            touched = self._store.touched_buckets(postings, "term")
            self._apply_postings(
                spark, cur, postings, touched, epoch,
                int(n_new), int(sum_dl_new or 0), run_token,
            )
        finally:
            toks.unpersist()

    def _tombstones(self, cur: dict | None) -> list[int]:
        return [int(d) for d in (cur or {}).get("tombstones", [])]

    def _exclude_tombstones(self, df: DataFrame, cur: dict | None) -> DataFrame:
        """Postings of tombstoned docs are dead the moment the forget
        pointer lands — every read path routes through this filter until
        ``compact()`` sweeps them physically. The queue is bounded by
        compaction cadence, so an ``isin`` literal list (parquet-pushable)
        beats a join."""
        tomb = self._tombstones(cur)
        if not tomb:
            return df
        return df.filter(~F.col("doc_id").isin(tomb))

    def _apply_postings(
        self, spark, cur, postings, touched, epoch, n_new, sum_dl_new,
        run_token=None,
    ) -> None:
        if not touched:
            # no postings, but the batch's docs still grew the corpus
            # (empty/token-free texts shift N and avgdl for idf) — and the
            # epoch guard must advance either way
            base = cur or {
                "version": -1,
                "run_token": None,
                "manifest": {},
                "prev_refs": [],
            }
            self._store._commit(
                {
                    **base,
                    "epoch": epoch,
                    "run_token": run_token,
                    "n_docs": base.get("n_docs", 0) + int(n_new),
                    "sum_dl": base.get("sum_dl", 0) + int(sum_dl_new or 0),
                },
                expected=cur,
            )
            return
        # SEGMENT append: only the batch's postings are written — the
        # stored history is never read or rewritten. Natural-language
        # batches touch nearly every term bucket, so the merge-store
        # write path (read old + union + rewrite touched) would
        # degenerate to rewriting the whole index every epoch; the
        # segment manifest makes the epoch cost O(|batch postings|) and
        # compact() folds segment lists back when reads want fewer files.
        self._store.append_buckets(
            postings.select(*[f.name for f in _POSTING_SCHEMA.fields]),
            touched,
            epoch,
            run_token=run_token,
            extra={
                "n_docs": (cur or {}).get("n_docs", 0) + int(n_new),
                "sum_dl": (cur or {}).get("sum_dl", 0) + int(sum_dl_new or 0),
                # the pointer is rebuilt from extra each commit — an
                # append must not drop queued takedowns
                "tombstones": self._tombstones(cur),
            },
            cur=cur,
        )

    def compact(self, spark: SparkSession) -> int | None:
        """Fold every bucket's segment list into one owning version
        (read-union-rewrite through ``write_buckets``): query results are
        identical before and after — this is pure file-count maintenance,
        the Lucene-merge / parquet-compaction analogue. Queued takedown
        tombstones are swept PHYSICALLY here (the filter rides the fold
        for free) and the queue clears — N ``forget`` calls between
        compactions cost N pointer swings and ONE sweep. Returns the new
        version, or None when there is nothing to compact. The corpus
        counters, epoch, and run token ride the same pointer commit
        unchanged."""
        cur = self.current()
        if cur is None or not cur["manifest"]:
            return None
        tomb = self._tombstones(cur)
        if not tomb and not any(
            isinstance(v, list) and len(v) > 1 for v in cur["manifest"].values()
        ):
            return None
        all_rows = self._exclude_tombstones(
            self._store.read(spark, cur=cur), cur
        )
        touched = [int(b) for b in cur["manifest"]]
        return self._store.write_buckets(
            all_rows.select(*[f.name for f in _POSTING_SCHEMA.fields]),
            touched,
            cur.get("epoch"),
            run_token=cur.get("run_token"),
            extra={
                "n_docs": cur.get("n_docs", 0),
                "sum_dl": cur.get("sum_dl", 0),
                "tombstones": [],
            },
            cur=cur,
        )

    def forget(self, spark: SparkSession, doc_ids, mode: str = "tombstone") -> int:
        """Right-to-be-forgotten maintenance: remove every posting of
        ``doc_ids`` and decrement the exact corpus counters. Returns how
        many documents were actually present.

        ``mode='tombstone'`` (default) AMORTIZES the physical rewrite:
        the victims' ids queue in the pointer (one READ job to collect
        their lengths for the exact counters, one atomic pointer swing,
        ZERO data writes), every query anti-filters the queue
        immediately, and the next scheduled ``compact()`` folds the
        physical sweep in for free — N takedowns between compactions
        cost ONE sweep, not N full index rewrites. ``mode='sweep'``
        rewrites now (the takedown-cadence compaction-with-filter),
        clearing the queue alongside.

        Either way, because df/idf are computed LIVE at query time, the
        post-forget index answers queries EXACTLY as if the docs had
        never been ingested — no stale-idf shadow of the deleted
        document survives (pinned in tests). Epoch and run token ride
        through unchanged, so the owning stream keeps appending.

        Boundaries: a TOKEN-FREE document (empty text — it contributed
        to n_docs but has no postings) is invisible to this sweep; its
        counter contribution stays, which only nudges idf's N. A
        tombstoned id must not be RE-INGESTED before the next compact
        (the queue would hide the new postings) — the append-only
        contract already rules that out (ids enter once)."""
        if mode not in ("tombstone", "sweep"):
            raise ValueError(f"mode must be tombstone|sweep, got {mode!r}")
        cur = self.current()
        if cur is None or not cur["manifest"]:
            return 0
        ids = [int(d) for d in doc_ids]
        if not ids:
            return 0
        # already-queued victims are invisible to this read — no double
        # counting when a takedown request repeats
        all_rows = self._exclude_tombstones(
            self._store.read(spark, cur=cur), cur
        )
        spark_ids = spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        )
        gone = all_rows.join(F.broadcast(spark_ids), "doc_id", "left_semi")
        # one pass computes what leaves: distinct docs + their lengths
        gone_docs = (
            gone.select("doc_id", "dl").distinct().collect()
        )
        if not gone_docs:
            return 0
        n_docs = cur.get("n_docs", 0) - len(gone_docs)
        sum_dl = cur.get("sum_dl", 0) - sum(int(r["dl"]) for r in gone_docs)
        if mode == "tombstone":
            queued = sorted(
                set(self._tombstones(cur)) | {int(r["doc_id"]) for r in gone_docs}
            )
            self._store._commit(
                {**cur, "n_docs": n_docs, "sum_dl": sum_dl, "tombstones": queued},
                expected=cur,
            )
            return len(gone_docs)
        kept = all_rows.join(F.broadcast(spark_ids), "doc_id", "left_anti")
        touched = [int(b) for b in cur["manifest"]]
        self._store.write_buckets(
            kept.select(*[f.name for f in _POSTING_SCHEMA.fields]),
            touched,
            cur.get("epoch"),
            run_token=cur.get("run_token"),
            extra={
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "tombstones": [],
            },
            cur=cur,
        )
        return len(gone_docs)

    # -- query path ---------------------------------------------------------

    def query(
        self,
        spark: SparkSession,
        queries: list[tuple[int, str]],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        max_df_frac: float = 0.5,
        cur: dict | None = None,
    ) -> DataFrame | None:
        """Top-k per query from the live index: bucket-pruned postings
        read, LIVE df/idf (+ live stop-term cap), then the batch scorer.

        ``cur`` pins a pointer snapshot the caller already read; every
        pointer-derived input of the query — the bucket manifest paths,
        the n_docs/sum_dl counters the idf and length norm use, the
        tombstone queue — resolves under that ONE snapshot, so a commit
        landing mid-request serves the old index or the new one, never
        new postings normalized by old counters (the read-consistency
        contract serving.py's /search pins)."""
        from ..operators.search import _py_search_tokens

        if cur is None:
            cur = self.current()
        if cur is None or not cur.get("n_docs"):
            return None
        terms = sorted(
            {t for _qid, text in queries for t in _py_search_tokens(text)}
        )
        if not terms:
            return None
        # same bucket function as the store key — pruned read
        buckets = self._store.touched_buckets(
            spark.createDataFrame([(t,) for t in terms], "term string"), "term"
        )
        slice_ = self._store.read(spark, buckets=buckets, cur=cur)
        if slice_ is None:
            return None
        # queued takedowns are dead immediately — BEFORE the live df
        # build, so a tombstoned doc leaves no idf shadow either
        slice_ = self._exclude_tombstones(slice_, cur)
        # the pruned slice is read twice — once by the broadcast df/idf
        # build job, once by the scoring join — which is inherent to live
        # idf (df must be global per term before any posting can score);
        # both reads are bucket-pruned, never the whole index
        n_docs = int(cur["n_docs"])
        avgdl = cur["sum_dl"] / n_docs
        max_df = int(max_df_frac * n_docs)
        postings = (
            slice_.filter(F.col("term").isin(terms))
            .join(
                F.broadcast(
                    slice_.filter(F.col("term").isin(terms))
                    .groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .filter(F.col("df") <= max_df)
                ),
                "term",
            )
            .withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                ),
            )
            .select("term", "doc_id", "tf", "dl", "idf")
        )
        return bm25_topk(
            BM25Index(postings, n_docs, avgdl, "doc_id"), queries, k=k, k1=k1, b=b
        )


def start_search_index(
    spark: SparkSession,
    docs: DataFrame,
    store: BM25IndexStore,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = 16,
):
    """Wire a document stream into the postings store and start it. The
    run token is checkpoint-stable (``run_token_for``): crash-recovery
    restarts replay silently, a checkpoint reset fails loudly (additive
    guard) instead of silently dropping the new run's postings.

    ``compact_every`` schedules inline segment-fold maintenance: every N
    epochs the segment lists collapse to one version (``compact()``), so
    a long-running stream's per-query file count stays bounded at
    O(n_buckets + N) instead of growing with epochs — the same
    inline-scheduled-maintenance shape as ``start_projection``'s serving
    publish. Compaction failures are logged-and-continued (it is pure
    read maintenance; it must never take down ingest). None disables."""
    from .dedup import run_token_for

    run_token = run_token_for(checkpoint_path)

    def _apply(batch: DataFrame, epoch: int) -> None:
        store.apply_batch(spark, batch, epoch, run_token)
        if compact_every and epoch % compact_every == compact_every - 1:
            try:
                store.compact(spark)
            except Exception:  # noqa: BLE001 — ingest must survive
                logger.warning(
                    "bm25 segment compaction failed (epoch %d)", epoch, exc_info=True
                )

    writer = (
        docs.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
