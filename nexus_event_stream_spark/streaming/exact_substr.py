"""Streaming ExactSubstr — cross-batch token-span dedup (r12).

The last batch-only dedup tier gets its incremental twin: a duplicated
``>= min_len``-token span arriving in a LATER epoch than the occurrence
that owns it is stripped at ingest time instead of waiting for the next
full batch pass (operators/exact_substr.py was the gap — the Bloom
store gives streaming exact-DOC dedup and CMS streaming gram
frequencies, but neither catches a repeated 50-token span).

State (two ``SignatureStore``s under one root, same commit/replay/
tombstone machinery as every other suppression tier):

- ``<root>/anchors`` — winnowing-anchor postings of every ACCEPTED
  document, bucketed by the anchor hash. Per epoch the probe reads ONLY
  the buckets the batch's anchor hashes fall into (hash-uniform, so
  reads track the batch's anchor count, and only MATCHED hashes do any
  further work).
- ``<root>/docs`` — the accepted documents' ORIGINAL text, bucketed by
  doc id, so verification loads exactly the history documents whose
  anchors matched, never the corpus. Originals (not stripped
  survivors) are registered: the first occurrence OWNS the span, and a
  later third copy must still match it even though the second copy was
  stripped.

Per-epoch algorithm (the batch operator's four phases, split at the
epoch boundary):

1. anchor the batch (same winnowing kernel — selection is content-local,
   so anchors agree across epochs by the winnowing theorem);
2. candidates = anchors occurring >= 2 within the batch (the batch
   operator's rule) UNION anchors matching a stored posting (the
   cross-batch rule);
3. verify: md5 the ``W`` sliding windows around candidate anchors in
   the batch docs AND around the matched postings in the loaded history
   docs — a shared span contains the same anchor on both sides, so both
   sides hash the common window (exactness, not approximation);
4. a batch window is duplicate iff its hash appears in the history
   window set (earlier epoch wins) or earlier in this batch
   (first_occurrence_flag, ordered by doc id then position); duplicate
   spans are stripped with the batch operator's interval-union sweep.

Batch-equivalence: feeding a corpus split into epochs by increasing doc
id yields EXACTLY ``exact_substr_dedup(whole_corpus, emit_text=True)``
(pinned in tests) — the epoch order and (doc_id, pos) order coincide.

Replay discipline: each store guards its own append (idempotent — a
crash between the two appends converges on replay), and a replayed
epoch recomputes the same survivors: both stores are read through
``SignatureStore.probe``, which masks the epoch's own postings out of a
replay's probe (``replay.replay_mask``, null-safe, so history written
without a run token keeps matching).

Scale: probe reads track the batch's anchor-bucket fan-out; history
text loads track the MATCHED duplicate rate, not the corpus; all
verification is Arrow-kernel map work. No driver state beyond bounded
bucket-id/doc-id lists.

Reference parity: none (the reference dedups nothing) — the streaming
twin of operators/exact_substr.py, north-star tier declared in
SURVEY.md §2.11.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_event_stream_spark.operators.exact_substr import (
    _strip_spans,
    _token_split,
    _window_hashes,
    _window_starts,
    _winnow_anchors,
)
from nexus_event_stream_spark.streaming.dedup import SignatureStore

#: anchor postings: the anchor hash (stringified int64) IS the bucket
#: key; ``pos`` is the anchor's token offset in the accepted document.
ANCHOR_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
        T.StructField("pos", T.IntegerType()),
    ]
)

#: accepted-document store: original text bucketed by doc id, loaded
#: only for documents whose anchors matched a batch anchor.
DOC_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


@dataclass
class SubstrStore:
    """The streaming-ExactSubstr state pair. ``anchors`` is the epoch
    authority (its pointer drives the replay guard); ``docs`` holds the
    accepted originals. Both are plain SignatureStores — compaction,
    tombstones and ``forget_signatures`` apply to each."""

    anchors: SignatureStore
    docs: SignatureStore


def substr_store(path: str, n_buckets: int = 64, backend=None) -> SubstrStore:
    return SubstrStore(
        anchors=SignatureStore(
            os.path.join(path, "anchors"),
            n_buckets=n_buckets,
            backend=backend,
            schema=ANCHOR_POSTING_SCHEMA,
        ),
        docs=SignatureStore(
            os.path.join(path, "docs"),
            n_buckets=n_buckets,
            backend=backend,
            schema=DOC_POSTING_SCHEMA,
        ),
    )


def forget_substr(spark: SparkSession, store: SubstrStore, doc_ids) -> None:
    """Right-to-be-forgotten: queue the victims in BOTH stores — their
    anchors stop matching and their text stops loading immediately
    (post-forget ≡ never-ingested, the store-wide pin); physical removal
    rides each store's normal compaction."""
    from nexus_event_stream_spark.streaming.dedup import forget_signatures

    forget_signatures(spark, store.anchors, doc_ids)
    forget_signatures(spark, store.docs, doc_ids)


def substr_suppress_and_register(
    spark: SparkSession,
    store: SubstrStore,
    docs: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    anchor_k: int | None = None,
) -> DataFrame:
    """One micro-batch of cross-batch ExactSubstr: return
    ``(id_col, n_tokens, dup_tokens, clean_text)`` for every input row
    (spans duplicated against accepted history OR earlier in this batch
    stripped; the batch operator's output shape) and register the
    batch's ORIGINAL texts + anchors.

    ``anchor_k`` must stay constant across the store's lifetime (anchor
    hashes are only comparable at one gram size) — same class of
    contract as a store's ``n_buckets``. ``id_col`` must be long-typed
    and globally unique across epochs (the SignatureStore doc_id
    convention — tombstones and replay key on it).
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    k = anchor_k if anchor_k is not None else max(min_len // 2, 1)
    if not 1 <= k <= min_len:
        raise ValueError(f"anchor_k must be in [1, min_len], got {k}")
    L, W = min_len, min_len - k + 1

    cur = store.anchors.current()
    replay = store.anchors.guard.is_replay(cur, epoch, run_token)

    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).persist()
    # release every persisted intermediate even on a mid-batch failure
    # (r12 advisory: a retrying streaming driver must not accumulate
    # leaked cache blocks — the orphaned-registry trap)
    anchors = matched = batch_windows = hist_pos = None
    try:

        id_field = src.schema["doc_id"]
        anchor_schema = T.StructType(
            [
                T.StructField("doc_id", id_field.dataType),
                T.StructField("pos", T.IntegerType()),
                T.StructField("ahash", T.LongType()),
            ]
        )

        def anchor_batches(it):
            import pandas as pd

            for pdf in it:
                ids, poss, hashes = [], [], []
                for did, text in zip(pdf["doc_id"], pdf["__text"]):
                    toks = _token_split(text)
                    if len(toks) < L:
                        continue
                    for p, h in _winnow_anchors(toks, k, W):
                        ids.append(did)
                        poss.append(p)
                        hashes.append(h)
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "pos": pd.array(poss, dtype="Int32"),
                        "ahash": pd.array(hashes, dtype="Int64"),
                    }
                )

        anchors = src.mapInPandas(anchor_batches, anchor_schema).persist()

        # --- probe: only the buckets the batch's anchor hashes fall into
        batch_keys = anchors.select(
            F.col("ahash").cast("string").alias("bucket_key")
        ).distinct()
        stored = store.anchors.probe(spark, batch_keys, epoch, run_token, replay)
        if stored is not None:
            # matched postings: stored anchors sharing a hash with the batch
            matched = stored.join(batch_keys, "bucket_key").select(
                F.col("doc_id").alias("__hist_id"),
                "pos",
                F.col("bucket_key").alias("__key"),
            ).persist()
            n_matched = matched.count()
        else:
            matched = None
            n_matched = 0

        # --- candidate anchors: within-batch count >= 2 (the batch rule)
        #     UNION cross-batch hash match
        wcnt = Window.partitionBy("ahash")
        cand_local = anchors.withColumn(
            "__cnt", F.count(F.lit(1)).over(wcnt)
        ).filter(F.col("__cnt") >= 2).select("doc_id", "pos")
        if n_matched:
            hit_keys = matched.select(
                F.col("__key").alias("bucket_key")
            ).distinct()
            cand_cross = (
                anchors.withColumn(
                    "bucket_key", F.col("ahash").cast("string")
                )
                .join(hit_keys, "bucket_key", "left_semi")
                .select("doc_id", "pos")
            )
            cand_all = cand_local.unionByName(cand_cross).distinct()
        else:
            cand_all = cand_local.distinct()
        cand = cand_all.groupBy("doc_id").agg(
            F.collect_list("pos").alias("__anchor_pos")
        )

        win_schema = T.StructType(
            [
                T.StructField("doc_id", id_field.dataType),
                T.StructField("pos", T.IntegerType()),
                T.StructField("whash", T.StringType()),
            ]
        )

        def window_batches(it):
            import pandas as pd

            for pdf in it:
                ids, poss, hashes = [], [], []
                for did, text, apos in zip(
                    pdf["doc_id"], pdf["__text"], pdf["__anchor_pos"]
                ):
                    toks = _token_split(text)
                    n = len(toks)
                    if n < L:
                        continue
                    starts = _window_starts(n, apos, L, W)
                    whs = _window_hashes(toks, starts, L)
                    for s, wh in zip(starts, whs):
                        ids.append(did)
                        poss.append(s)
                        hashes.append(wh)
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "pos": pd.array(poss, dtype="Int32"),
                        "whash": hashes,
                    }
                )

        # persisted: TWO branches consume it (the within-batch
        # first-occurrence flag and the history semi-join) and Spark does
        # not CSE across DataFrame branches — without the persist every
        # candidate doc would be re-tokenized and re-md5'd per branch
        batch_windows = src.join(cand, "doc_id").mapInPandas(
            window_batches, win_schema
        ).persist()

        # --- history windows: load ONLY the matched documents' originals
        if n_matched:
            hist_pos = matched.groupBy("__hist_id").agg(
                F.collect_list("pos").alias("__anchor_pos")
            ).persist()
            # the probe's bounded collect: matched doc ids → bucket ids
            # only (no isin literal over the ids — a high-duplicate epoch
            # would inflate the plan with one expression node per id; the
            # inner join with hist_pos below already restricts to matched
            # docs)
            hist_docs = store.docs.probe(
                spark,
                hist_pos.select(
                    F.col("__hist_id").cast("string").alias("bucket_key")
                ),
                epoch,
                run_token,
                replay,
            )
        else:
            hist_pos = None
            hist_docs = None
        if hist_docs is not None:
            hist_src = (
                hist_docs.select(
                    F.col("doc_id").alias("__hist_id"),
                    F.col("text").alias("__text"),
                )
                .join(hist_pos, "__hist_id")
                .select(
                    F.col("__hist_id").alias("doc_id"),
                    "__text",
                    "__anchor_pos",
                )
            )
            hist_whash = (
                hist_src.mapInPandas(window_batches, win_schema)
                .select("whash")
                .distinct()
            )
        else:
            hist_whash = None

        # --- duplicate decision: history wins, then within-batch order
        from nexus_event_stream_spark.operators.quality import (
            first_occurrence_flag,
        )

        flagged = first_occurrence_flag(batch_windows, "whash")
        dup_local = flagged.filter(F.col("is_dup") == 1).select(
            "doc_id", "pos"
        )
        if hist_whash is not None:
            dup_hist = batch_windows.join(
                hist_whash, "whash", "left_semi"
            ).select("doc_id", "pos")
            dup_all = dup_local.unionByName(dup_hist).distinct()
        else:
            dup_all = dup_local
        dup_starts = dup_all.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("pos")).alias("__dup_starts")
        )

        out_schema = T.StructType(
            [
                T.StructField(id_col, id_field.dataType),
                T.StructField("n_tokens", T.LongType()),
                T.StructField("dup_tokens", T.LongType()),
                T.StructField("clean_text", T.StringType()),
            ]
        )

        def clean_batches(it):
            import pandas as pd

            for pdf in it:
                ids, nts, dts, cleans = [], [], [], []
                for did, text, starts in zip(
                    pdf["doc_id"], pdf["__text"], pdf["__dup_starts"]
                ):
                    ids.append(did)
                    if text is None:
                        nts.append(0)
                        dts.append(0)
                        cleans.append(None)
                        continue
                    n, dup, clean = _strip_spans(
                        _token_split(text),
                        None if starts is None else starts,
                        L,
                    )
                    nts.append(n)
                    dts.append(dup)
                    cleans.append(clean)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_tokens": pd.array(nts, dtype="Int64"),
                        "dup_tokens": pd.array(dts, dtype="Int64"),
                        "clean_text": cleans,
                    }
                )

        out = (
            src.join(dup_starts, "doc_id", "left")
            .select("doc_id", "__text", "__dup_starts")
            .mapInPandas(clean_batches, out_schema)
        )
        # materialize BEFORE the registration appends and unpersist — the
        # caller's collect must not recompute from a possibly
        # nondeterministic source (the r11 bloom-store lesson)
        out = out.localCheckpoint(eager=True)

        # --- register the batch (originals own future spans); each store
        # guards its own append so a crash between the two converges on
        # replay. docs BEFORE anchors: a visible anchor posting must always
        # resolve to a loadable document.
        doc_postings = src.select(
            F.col("doc_id").cast("string").alias("bucket_key"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("__text").alias("text"),
        )
        anchor_postings = anchors.select(
            F.col("ahash").cast("string").alias("bucket_key"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "pos",
        )
        if not store.docs.guard.is_replay(store.docs.current(), epoch, run_token):
            store.docs.append(doc_postings, epoch, run_token)
        if not replay:
            store.anchors.append(anchor_postings, epoch, run_token)

        return out
    finally:
        for handle in (batch_windows, hist_pos, matched, anchors, src):
            if handle is not None:
                handle.unpersist()
