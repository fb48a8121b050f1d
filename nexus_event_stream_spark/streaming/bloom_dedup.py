"""Streaming exact dedup with a Bloom-filter front — cross-batch
suppression that touches NO storage for the novel majority.

The lexical/perceptual suppression tiers (streaming/dedup.py,
streaming/phash_dedup.py) probe the store buckets a batch's keys hash
into. For EXACT dedup that discipline has a blind spot: every batch doc
carries exactly one digest, the digests are hash-uniform, so a 10k-doc
batch touches min(10k, n_buckets) buckets — i.e. on any realistic batch
size the probe reads the WHOLE store every epoch even when the batch is
100 % novel. This module puts the Dolma-style Bloom filter
(operators/bloom_dedup.py) in front of the same ``SignatureStore``:

- a register-blocked Bloom filter over every accepted digest rides a
  tiny sidecar pointer next to the store;
- per batch, only docs whose digest HITS the filter become candidates —
  everything else is provably novel (no false negatives) and is accepted
  without reading a single store file (``last_probe_paths == []`` on a
  novel-only batch, pinned);
- candidates go through the normal bucket-pruned EXACT probe
  (``SignatureStore.probe``: only the candidates' buckets, tombstones
  filtered, and on a replay the epoch's own postings masked out), so
  unlike raw Dolma the filter's false positives cost a bucket read,
  never a dropped novel document — the result is exact dedup at Bloom
  cost.

Commit ordering makes the two pointers safe without a joint atomic
commit: the sidecar (filter) commits BEFORE the store append. A crash
between the two leaves the filter a SUPERSET of the store — stray hits
that the exact probe resolves to "novel" — never a subset, which is the
direction that would admit duplicates. Replays rebuild the identical
filter state (OR is idempotent).

The filter cannot un-set bits, so right-to-be-forgotten composes through
the store's tombstone tier: ``forget_signatures`` queues the victim, the
exact probe stops matching it IMMEDIATELY (post-forget ≡ never-ingested,
same pin as every other store), and the stale filter bits only cost a
candidate probe until the next FULL ``compact_exact_store`` — which
rebuilds the filter from the surviving digests, re-tightening FPR.

Capacity: (m, k) are fixed at first commit (OR-merging requires it),
sized for ``expected_keys`` at ``fpr``. Overflow degrades candidate
rate, never correctness; ``compact_exact_store`` re-sizes to the live
key count when the estimated FPR has drifted past 4× the target.
``expected_keys`` defaults small (64 k) because the probe inlines the
word table as ONE plan literal and a Py4J literal past ~10⁵ words costs
more to SHIP than it saves — size it to the real corpus and switch the
probe to ``bloom_prune_join``'s broadcast word table past
``MAX_EXPR_WORDS`` (the candidate split then rides one map-side
broadcast join instead of an inline expression; same zero-shuffle
contract).

Reference parity: no analogue (the reference dedups nothing) — the
streaming twin of operators/bloom_dedup.py, north-star tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_event_stream_spark.operators.bloom import (
    BloomFilter,
    bloom_build,
    bloom_might_contain,
    bloom_params,
)
from nexus_event_stream_spark.streaming.commit import PointerStore
from nexus_event_stream_spark.streaming.dedup import SignatureStore

#: posting schema for the exact tier: the digest IS the bucket key.
EXACT_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("run", T.StringType()),
    ]
)

BLOOM_POINTER = "_bloom.json"


def exact_store(path: str, n_buckets: int = 64, backend=None) -> SignatureStore:
    """A ``SignatureStore`` wearing the exact-digest posting schema —
    tombstones, partial/full compaction, replay discipline and
    ``forget_signatures`` all apply unchanged."""
    return SignatureStore(
        path, n_buckets=n_buckets, backend=backend, schema=EXACT_POSTING_SCHEMA
    )


def _bloom_path(store: SignatureStore) -> str:
    return os.path.join(store.path, BLOOM_POINTER)


def _sidecar(store: SignatureStore) -> PointerStore:
    return PointerStore(_bloom_path(store), store.backend)


def _bloom_state(
    store: SignatureStore,
) -> tuple[dict | None, BloomFilter | None]:
    """The sidecar pointer snapshot and its filter, from ONE read (both
    None before the first commit). A commit built from this filter passes
    the snapshot as ``expected``: under a compare-and-swap backend a
    rival writer's sidecar commit in between then raises
    ``CommitConflictError`` instead of losing the rival's bits — a
    filter missing accepted keys would admit duplicates."""
    cur = _sidecar(store).current()
    if cur is None:
        return None, None
    return cur, BloomFilter(
        m_bits=cur["m_bits"], k=cur["k"], words=tuple(cur["words"])
    )


def read_bloom(store: SignatureStore) -> BloomFilter | None:
    return _bloom_state(store)[1]


def _commit_bloom(
    store: SignatureStore, bf: BloomFilter, n_keys: int, expected: dict | None
) -> None:
    _sidecar(store)._commit(
        {
            "m_bits": bf.m_bits,
            "k": bf.k,
            "words": list(bf.words),
            "n_keys": n_keys,
        },
        expected=expected,
    )


def _register_bloom(
    store: SignatureStore,
    cur: dict | None,
    bf: BloomFilter | None,
    keys: DataFrame,
    expected_keys: int,
    fpr: float,
) -> None:
    """OR ``keys``' ``bucket_key`` digests into the filter ``bf`` read as
    the sidecar snapshot ``cur`` (``_bloom_state``) and commit against
    that snapshot; a first commit sizes (m, k) for ``expected_keys``."""
    if bf is None:
        m, k = bloom_params(expected_keys, fpr)
        bf = BloomFilter(m_bits=m, k=k, words=tuple([0] * (m // 64)))
    batch_bf = bloom_build(keys, "bucket_key", m_bits=bf.m_bits, k=bf.k)
    n_keys = (cur["n_keys"] if cur else 0) + keys.count()
    _commit_bloom(store, _or_words(bf, batch_bf), n_keys, expected=cur)
    _warn_if_saturated(store, bf, n_keys, fpr)


def _warn_if_saturated(
    store: SignatureStore, bf: BloomFilter, n_keys: int, fpr: float
) -> None:
    """Surface filter saturation instead of degrading silently (r12
    advisory): a long-lived store whose accepted-key count has outgrown
    the fixed (m, k) keeps EXACT semantics (one-sided filter) but loses
    the zero-store-read discipline — every batch starts probing buckets.
    The resize path is ``compact_exact_store`` (rebuild from survivors
    at the live key count); warn once per commit past 4× target FPR,
    the same drift bar the compaction flow itself uses."""
    if bf.fpr_estimate(n_keys) > 4 * fpr:
        import warnings

        warnings.warn(
            f"Bloom sidecar at {store.path} is saturated: "
            f"{n_keys} keys in an m={bf.m_bits} filter gives estimated "
            f"FPR {bf.fpr_estimate(n_keys):.2e} > 4x the {fpr:.0e} "
            "target. Exactness is unaffected, but novel-only batches "
            "now pay store probes; run compact_exact_store to rebuild "
            "the filter at the live key count.",
            RuntimeWarning,
            stacklevel=4,
        )


def _or_words(a: BloomFilter, b: BloomFilter) -> BloomFilter:
    if (a.m_bits, a.k) != (b.m_bits, b.k):
        raise ValueError(
            "cannot OR-merge filters with different (m, k): "
            f"({a.m_bits},{a.k}) vs ({b.m_bits},{b.k})"
        )
    return BloomFilter(
        m_bits=a.m_bits,
        k=a.k,
        words=tuple(x | y for x, y in zip(a.words, b.words)),
    )


def doc_digest(text_col="text"):
    """The exact-dedup key: md5 of the raw text (byte-identical copies
    collapse; any normalization is the caller's, upstream)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(c)


def exact_suppress_and_register(
    spark: SparkSession,
    store: SignatureStore,
    docs: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_path: str | None = None,
    expected_keys: int = 1 << 16,
    fpr: float = 1e-4,
) -> DataFrame:
    """One micro-batch of exact cross-batch dedup: return the surviving
    rows and register their digests (store + filter).

    Suppression rule: a doc drops iff its digest matches (a) an accepted
    digest in the store (tombstone-filtered — forgotten docs never
    suppress) or (b) a same-batch doc with a smaller ``id_col``. Exact
    semantics always — the filter only decides who must be CHECKED, so
    its false positives cost a bucket read, not a document.

    Per-batch cost: one narrow digest map, one within-batch min-id
    aggregate, a store probe of only the buckets the CANDIDATE digests
    hash into (empty for a novel-only batch), one bucketed append, one
    O(m/64) driver OR of the filter words. Replays (same run_token,
    epoch ≤ committed) recompute the same survivors and skip both
    commits.
    """
    cur = store.current()
    replay = store.guard.is_replay(cur, epoch, run_token)
    keyed = docs.withColumn("__digest", doc_digest(text_col)).persist()
    try:

        # (a) within-batch: earliest id per digest wins
        firsts = keyed.groupBy("__digest").agg(F.min(id_col).alias("__keep"))
        batch_kept = keyed.join(firsts, "__digest").filter(
            F.col(id_col) == F.col("__keep")
        ).drop("__keep")

        # (b) cross-batch: the Bloom filter decides who needs the store
        bloom_cur, bf = _bloom_state(store)
        if bf is None:
            candidates = batch_kept.limit(0)
        else:
            candidates = batch_kept.filter(
                bloom_might_contain(bf, F.col("__digest"))
            )
        # THE Bloom win, pinned by tests: a novel-only batch touches no
        # bucket and resolves with zero store paths read
        stored = store.probe(
            spark,
            candidates.select(F.col("__digest").alias("bucket_key")),
            epoch,
            run_token,
            replay,
        )
        if stored is None:
            survivors = batch_kept
        else:
            dup_digests = stored.select(
                F.col("bucket_key").alias("__digest")
            ).distinct()
            survivors = batch_kept.join(dup_digests, "__digest", "left_anti")

        if not replay:
            surv_keys = survivors.select(
                F.col("__digest").alias("bucket_key"),
                F.col(id_col).alias("doc_id"),
            )
            # filter FIRST (crash leaves a superset — stray candidates, never
            # admitted duplicates), store append second
            _register_bloom(store, bloom_cur, bf, surv_keys, expected_keys, fpr)
            store.append(
                surv_keys,
                epoch,
                run_token,
                corpus=survivors.drop("__digest") if corpus_path else None,
                corpus_root=corpus_path,
            )
        # Materialize BEFORE unpersist: the caller consumes the returned
        # DataFrame after this function drops the cache, and a
        # nondeterministic batch source recomputed from scratch could
        # diverge from the digests just registered in the filter/store.
        survivors = survivors.localCheckpoint(eager=True)
        return survivors.drop("__digest")
    finally:
        keyed.unpersist()


def compact_exact_store(
    spark: SparkSession, store: SignatureStore, fpr: float = 1e-4
) -> int | None:
    """Full store compact + filter rebuild from the SURVIVING digests:
    physically removes tombstoned victims (SignatureStore.compact) and
    re-sizes/re-tightens the filter — stale bits from forgotten or
    duplicate-superseded keys drop out, and a filter past 4× its target
    FPR (capacity overflow) is rebuilt at the live key count."""
    version = store.compact(spark)
    cur = store.current()
    if cur is None:
        return version
    bloom_cur, old = _bloom_state(store)
    df = store.read_buckets(spark, list(cur["manifest"]))
    keys = None if df is None else df.select("bucket_key").distinct()
    n = 0 if keys is None else keys.count()
    if n == 0:
        if old is not None:  # reset to empty, keeping (m, k)
            empty = BloomFilter(
                m_bits=old.m_bits, k=old.k, words=tuple([0] * old.n_words)
            )
            _commit_bloom(store, empty, 0, expected=bloom_cur)
        return version
    if old is not None and old.fpr_estimate(n) <= 4 * fpr:
        m, k = old.m_bits, old.k  # keep (m, k): future ORs stay valid
    else:
        m, k = bloom_params(n, fpr)
    _commit_bloom(
        store,
        bloom_build(keys, "bucket_key", m_bits=m, k=k),
        n,
        expected=bloom_cur,
    )
    return version


def paragraph_suppress_and_register(
    spark: SparkSession,
    store: SignatureStore,
    docs: DataFrame,
    epoch: int | None = None,
    run_token: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    expected_keys: int = 1 << 16,
    fpr: float = 1e-4,
) -> DataFrame:
    """One micro-batch of exact cross-batch PARAGRAPH dedup (r12): the
    incremental twin of ``operators.bloom_dedup.bloom_dedup_paragraphs``
    whose "reference" is everything accepted so far — and the grain the
    other streaming tiers structurally miss (exact doc digests catch
    whole documents, streaming ExactSubstr catches >= min_len-token
    spans; a duplicated SHORT paragraph arriving across epochs slips
    both).

    Suppression rule (the Dolma paragraph discipline): a paragraph
    occurrence is stripped iff its text matches (a) an accepted
    paragraph in the store (tombstone-filtered) or (b) an earlier
    occurrence in this batch (ordered by doc id, then position). Rows
    are always preserved: zero-hit documents keep ``text_col``
    BYTE-EXACT, touched documents are rebuilt from the surviving
    trimmed units with ``\\n\\n`` (the batch operator's contract —
    all-duplicate docs come back as ``''``, NULL text stays NULL with
    zero counts). Appends ``n_paras`` / ``dup_paras``.

    Cost discipline is the doc tier's: the Bloom filter decides WHO
    must be checked, so a novel-only batch reads ZERO store paths
    (``last_probe_paths == []``, pinned) and exactness is unconditional
    — a filter false positive costs a bucket read, never a dropped
    novel paragraph. One md5-uniform shuffle for the within-batch
    first-occurrence window, one keyed re-assembly shuffle for the
    rebuild; registration appends only the batch's NOVEL digests.

    ``id_col`` must be long-typed, unique and non-null (the
    SignatureStore doc_id convention — the rebuild joins back on it).
    ``forget_signatures`` composes: a forgotten doc's paragraphs stop
    suppressing immediately, with the same releases-even-if-a-stripped-
    copy-existed semantics the exact doc tier documents.
    """
    from nexus_event_stream_spark.operators.bloom_dedup import _paragraphs
    from nexus_event_stream_spark.operators.quality import (
        first_occurrence_flag,
    )

    cur = store.current()
    replay = store.guard.is_replay(cur, epoch, run_token)
    text = F.col(text_col)

    src = docs.persist()
    flagged = None
    try:
        units = src.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_paragraphs(text)).alias("pos", "__para"),
        )
        # within-batch: first occurrence per paragraph text wins; the helper
        # md5s the value, so its `h` column IS the store digest
        flagged = first_occurrence_flag(units, "__para").persist()

        # cross-batch: the filter decides who needs the store
        bloom_cur, bf = _bloom_state(store)
        if bf is None:
            cand = flagged.limit(0).select(F.col("h").alias("bucket_key"))
        else:
            cand = (
                flagged.filter(bloom_might_contain(bf, F.col("h")))
                .select(F.col("h").alias("bucket_key"))
                .distinct()
            )
        # a novel-only batch reads no store path (the Bloom win, pinned)
        stored = store.probe(spark, cand, epoch, run_token, replay)
        if stored is not None:
            hist = stored.select(
                F.col("bucket_key").alias("h")
            ).distinct().join(cand.select(F.col("bucket_key").alias("h")), "h")
            marked = flagged.join(
                hist.withColumn("__hist", F.lit(True)), "h", "left"
            )
        else:
            marked = flagged.withColumn("__hist", F.lit(None).cast("boolean"))
        marked = marked.withColumn(
            "__dup",
            (F.col("is_dup") == 1) | F.coalesce(F.col("__hist"), F.lit(False)),
        )

        # per-doc accounting + rebuild from the SURVIVING occurrences
        per_doc = marked.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paras"),
            F.count_if(F.col("__dup")).cast("bigint").alias("dup_paras"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__dup"),
                                F.struct(F.col("pos"), F.col("__para")),
                            )
                        )
                    ),
                    lambda s: s["__para"],
                ),
                "\n\n",
            ).alias("__rebuilt"),
        )
        out = src.join(
            per_doc.withColumnRenamed("doc_id", "__pid"),
            F.col(id_col) == F.col("__pid"),
            "left",
        ).drop("__pid")
        out = out.withColumns(
            {
                "n_paras": F.coalesce(F.col("n_paras"), F.lit(0).cast("bigint")),
                "dup_paras": F.coalesce(
                    F.col("dup_paras"), F.lit(0).cast("bigint")
                ),
            }
        )
        out = out.withColumn(
            text_col,
            F.when(text.isNull() | (F.col("dup_paras") == 0), text).otherwise(
                F.col("__rebuilt")
            ),
        ).drop("__rebuilt")
        # materialize BEFORE the commits and unpersists (the r11 lesson: the
        # caller's collect must not recompute from the source)
        out = out.localCheckpoint(eager=True)

        if not replay:
            novel = (
                marked.filter(~F.col("__dup"))
                .select(
                    F.col("h").alias("bucket_key"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                )
                .dropDuplicates(["bucket_key"])
            )
            # filter FIRST (crash leaves a superset — stray candidates,
            # never admitted duplicates), store append second
            _register_bloom(store, bloom_cur, bf, novel, expected_keys, fpr)
            store.append(novel, epoch, run_token)

        return out
    finally:
        if flagged is not None:
            flagged.unpersist()
        src.unpersist()
