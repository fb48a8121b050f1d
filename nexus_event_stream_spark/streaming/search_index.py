"""Incrementally-maintained BM25 postings — streaming upkeep for the
lexical index, the retrieval twin of the streaming ANN index.

``BM25IndexStore`` keeps (term, doc_id, tf, dl) postings on the
BucketedViewStore machinery with **key = term**: a micro-batch of new
documents APPENDS its postings as a new segment of the buckets it
touches (``append_buckets`` — the stored history is never read or
rewritten, per-epoch write cost O(|batch postings|); the store folds
segment lists once they grow, Lucene-merge style), pointer committed
last (both backends), and corpus scalars (doc count, total length)
accumulate as exact integers in the pointer. Takedowns (``forget``),
their queue and the fold are ``BucketedViewStore``'s; this module keeps
the corpus counters and the live idf. Additive state ⇒
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

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.search import BM25Index, bm25_topk, search_tokens
from .projection import BucketedViewStore

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
            id_col="doc_id",
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
            # SEGMENT append: only the batch's postings are written — the
            # stored history is never read or rewritten. Natural-language
            # batches touch nearly every term bucket, so the merge-store
            # write path (read old + union + rewrite touched) would
            # degenerate to rewriting the whole index every epoch. A batch
            # with no postings still grows the corpus (empty/token-free
            # texts shift N and avgdl for idf): its counters and epoch
            # marker commit alone.
            self._store.append_buckets(
                postings,
                self._store.touched_buckets(postings, "term"),
                epoch,
                run_token=run_token,
                extra={
                    "n_docs": (cur or {}).get("n_docs", 0) + int(n_new),
                    "sum_dl": (cur or {}).get("sum_dl", 0) + int(sum_dl_new or 0),
                },
                cur=cur,
            )
        finally:
            toks.unpersist()

    def compact(self, spark: SparkSession) -> int | None:
        """Fold every bucket's segment list into one owning version and
        sweep queued takedowns physically (``BucketedViewStore.compact``):
        query results are identical before and after. The corpus
        counters, epoch and run token ride the same pointer commit
        unchanged. Returns the new version, or None when there is
        nothing to compact."""
        return self._store.compact(spark)

    def forget(self, spark: SparkSession, doc_ids, mode: str = "tombstone") -> int:
        """Right-to-be-forgotten maintenance: remove every posting of
        ``doc_ids`` and decrement the exact corpus counters in the same
        commit. Returns how many documents were actually present.

        ``BucketedViewStore.forget`` does the work: ``mode='tombstone'``
        (default) queues the victims (one read job that also collects
        their lengths for the counters, one pointer swing, zero data
        writes) and every query drops them at once; ``mode='sweep'``
        rewrites now. Either way, because df/idf are computed LIVE at
        query time, the post-forget index answers queries EXACTLY as if
        the docs had never been ingested — no stale-idf shadow of the
        deleted document survives (pinned in tests).

        Boundaries: a TOKEN-FREE document (empty text — it contributed
        to n_docs but has no postings) is invisible to this sweep; its
        counter contribution stays, which only nudges idf's N. A
        tombstoned id must not be RE-INGESTED before the next full fold
        (the queue would hide the new postings) — the append-only
        contract already rules that out (ids enter once)."""

        def counters(cur, victims):
            return {
                "n_docs": cur.get("n_docs", 0) - len(victims),
                "sum_dl": cur.get("sum_dl", 0) - sum(int(r["dl"]) for r in victims),
            }

        return self._store.forget(spark, doc_ids, mode, ("dl",), counters)

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
        # the store's read drops queued takedowns — BEFORE the live df
        # build, so a tombstoned doc leaves no idf shadow either
        slice_ = self._store.read(spark, buckets=buckets, cur=cur)
        if slice_ is None:
            return None
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
):
    """Wire a document stream into the postings store and start it. The
    run token is checkpoint-stable (``run_token_for``): crash-recovery
    restarts replay silently, a checkpoint reset fails loudly (additive
    guard) instead of silently dropping the new run's postings. Segment
    folds ride the appends (``BucketedViewStore.append_buckets``), so a
    long-running stream's per-query file count stays bounded."""
    from .dedup import run_token_for

    run_token = run_token_for(checkpoint_path)

    def _apply(batch: DataFrame, epoch: int) -> None:
        store.apply_batch(spark, batch, epoch, run_token)

    writer = (
        docs.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
