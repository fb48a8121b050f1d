"""Streaming drift monitor: a running corpus profile over micro-batches.

Batch drift detection (operators/drift.py) compares two finished
snapshots; a streaming ingest wants the same signal PER EPOCH — "did the
feed just shift?" — without waiting for the next full profile build. All
three constituent sketches merge (KMV exactly, quantile/MG with additive
error), so the monitor folds each micro-batch's profile into a running
one and reports drift against a pinned reference as part of the epoch.

Contract — the package's standard store shape (streaming/projection.py,
streaming/dedup.py, sources/shards.py):

- ``apply_batch(df, epoch)`` is ``foreachBatch``-compatible.
- **Idempotent apply**: the committed pointer carries the last applied
  (epoch, run token), checked by ``ReplayGuard("additive")``
  (streaming/replay.py): a replayed epoch is a no-op that returns the
  stored report — the running profile is never double-merged — and a
  DIFFERENT token presenting a regressed epoch raises
  ``ReplayMismatchError`` instead of silently dropping the batch.
- **Pointer commit**: state (epoch, run token, running profile JSON,
  last report) commits through the pluggable backend
  (streaming/commit.py) with ``expected`` set to the pointer last read,
  so on conditional-put deployments a racing monitor becomes an
  explicit conflict, not a lost update.
- **Restart**: a new monitor on the same path resumes from the committed
  profile.

Per-epoch cost: three scan-shaped jobs over the BATCH (not the history) —
the running state is KBs regardless of how much has streamed through.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from nexus_event_stream_spark.operators.drift import (
    CorpusProfile,
    corpus_profile,
    drift_report,
    merge_profiles,
)
from nexus_event_stream_spark.streaming.commit import PointerStore

#: Flags that compare absolute corpus volume — meaningful snapshot vs
#: snapshot (cumulative verdict), structurally meaningless for one
#: micro-batch vs a full reference corpus (ADVICE r7: any healthy batch
#: smaller than reference/4 would page doc_count_jump forever).
_SCALE_FLAGS = frozenset({"doc_count_jump", "empty_snapshot"})


class StreamingProfileMonitor(PointerStore):
    """Accumulates a running :class:`CorpusProfile` across epochs and
    gates each epoch against ``reference`` (None = accumulate only).
    ``path`` is the pointer file itself."""

    def __init__(
        self,
        path: str,
        reference: CorpusProfile | None = None,
        thresholds: dict | None = None,
        text_col: str = "text",
        backend=None,
        **profile_kwargs,
    ):
        super().__init__(path, backend, "additive")
        self.path = path
        self.reference = reference
        # The content-Jaccard gate compares EXACT shingle overlap — right
        # for "same nominal corpus, re-snapshotted" (batch drift), wrong
        # for a stream of genuinely fresh documents, which shares only
        # boilerplate shingles with any fixed reference and would flag
        # every healthy epoch. Streaming gates on distribution shape
        # (lengths, token frequencies, volume) by default; callers who DO
        # expect content overlap (e.g. re-crawls) can re-arm the gate via
        # ``thresholds={"min_content_jaccard": ...}``.
        self.thresholds = {"min_content_jaccard": 0.0, **(thresholds or {})}
        self.text_col = text_col
        self.profile_kwargs = profile_kwargs

    # -- state ---------------------------------------------------------

    @property
    def profile(self) -> CorpusProfile | None:
        """The committed running profile (None before the first epoch)."""
        ptr = self.current()
        if ptr is None:
            return None
        return CorpusProfile.from_json(json.dumps(ptr["profile"]))

    @property
    def last_report(self) -> dict | None:
        ptr = self.current()
        return ptr["report"] if ptr else None

    # -- epoch apply -----------------------------------------------------

    def apply_batch(
        self, df: DataFrame, epoch: int, run_token: str | None = None
    ) -> dict | None:
        """Fold one micro-batch. Returns the epoch's drift report (None
        when no reference is pinned). Replayed epochs are no-ops that
        return the stored report; a different ``run_token`` presenting a
        regressed epoch raises ``ReplayMismatchError``.

        The gate verdict is computed on the BATCH profile — "did the feed
        shift THIS epoch?" must not decay with stream history: against the
        accumulated profile a fresh break contributes only ~1/N of the
        compared mass after N healthy epochs, so detection sensitivity
        would erode exactly when the monitor has been healthy longest
        (ADVICE r6). The batch still merges into the running profile, and
        the report carries BOTH verdicts: ``batch`` (this epoch vs
        reference — the paging signal) and ``cumulative`` (lifetime vs
        reference — slow-creep drift the per-epoch gate can't see).
        Top-level ``flags``/``drifted`` are the union so existing
        gate-on-``drifted`` callers page on either.

        The batch verdict gates on SHAPE metrics only (length quantiles,
        token L1, content jaccard): count/volume checks compare absolute
        doc counts, and a micro-batch is smaller than the reference
        corpus by construction — ``doc_count_jump`` would page every
        healthy epoch and ``empty_snapshot`` every idle trigger (ADVICE
        r7). An empty batch SKIPS the batch verdict entirely
        (``batch.skipped``); volume anomalies stay the cumulative
        verdict's job, where the totals are actually comparable."""
        ptr = self.current()
        if self.guard.is_replay(ptr, epoch, run_token):
            return ptr["report"]  # replay after a crash: already applied
        batch = corpus_profile(df, text_col=self.text_col, **self.profile_kwargs)
        if ptr is None:
            running = batch
        else:
            running = merge_profiles(
                CorpusProfile.from_json(json.dumps(ptr["profile"])), batch
            )
        report = None
        if self.reference is not None:
            if batch.n_docs == 0:
                batch_rep = {
                    "metrics": {"n_docs_b": 0},
                    "flags": [],
                    "drifted": False,
                    "skipped": "empty_batch",
                }
            else:
                raw = drift_report(self.reference, batch, self.thresholds)
                shape_flags = [
                    f for f in raw["flags"] if f not in _SCALE_FLAGS
                ]
                batch_rep = {
                    **raw,
                    "flags": shape_flags,
                    "drifted": bool(shape_flags),
                }
            cum_rep = drift_report(self.reference, running, self.thresholds)
            report = {
                "batch": batch_rep,
                "cumulative": cum_rep,
                "flags": sorted(set(batch_rep["flags"]) | set(cum_rep["flags"])),
                "drifted": batch_rep["drifted"] or cum_rep["drifted"],
            }
        self._commit(
            {
                "epoch": epoch,
                "run_token": run_token,
                "profile": json.loads(running.to_json()),
                "report": report,
            },
            expected=ptr,
        )
        return report

    def foreach_batch(self, run_token: str | None = None):
        """Adapter for ``writeStream.foreachBatch`` — drop the return."""

        def fn(df: DataFrame, epoch: int) -> None:
            self.apply_batch(df, epoch, run_token)

        return fn
