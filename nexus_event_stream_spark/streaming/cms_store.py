"""Streaming Count-Min frequency store — corpus-wide gram frequencies
that accumulate per micro-batch, served back as a map-side scorer.

The batch CMS (operators/cms.py) answers "how often has the corpus seen
this gram" after a full pass. Ingest pipelines need the same answer
ABOUT the history WHILE the history grows: score each arriving
document's rarity against everything accepted so far, then fold the
batch's own grams into the running sketch. CMS is closed under cellwise
addition, so the store is just the d×w counter table in a pointer,
committed once per epoch:

- ``apply_batch``: build the BATCH sketch (one narrow pass over the
  batch, groupBy bounded by d×w cells), merge into the committed sketch
  (O(d·w) driver ints), commit with the (run_token, epoch) replay guard
  — a redelivered micro-batch is a pure no-op, so counts are never
  double-added (the property bloom's idempotent OR gets for free, CMS
  must guard: addition is not idempotent);
- ``current_sketch``: the committed history sketch — feed it to
  ``cms_estimate`` / ``rare_gram_frac`` for map-side scoring of the
  NEXT batch (score-then-fold: a batch's rarity is judged against the
  corpus BEFORE itself, the deterministic arrival-order semantics the
  dedup stores use);
- (w, d) are fixed at store creation — merging requires identical
  geometry; overflow only widens the ε·N error band, never corrupts
  (the CMS one-sidedness survives any load).

State is d×w integers forever — a frequency view of an unbounded stream
in kilobytes-to-megabytes, the same bounded-state argument as the drift
profiles. Takedowns: CMS cannot subtract a single document soundly
(collisions share cells), so right-to-be-forgotten composes the same
way as every sketch tier — rebuild from the surviving corpus
(``rebuild``), amortized on compaction cadence.

Reference parity: no analogue — the streaming twin of operators/cms.py,
north-star tier beside streaming/profile.py.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

from nexus_event_stream_spark.operators.cms import (
    CMSketch,
    cms_build,
    cms_merge,
)
from nexus_event_stream_spark.streaming.commit import PointerStore

POINTER = "_cms.json"


class CMSStore(PointerStore):
    """Pointer-committed running CMS with the additive replay guard
    (addition is NOT idempotent — a replayed epoch must be suppressed,
    never re-added; same discipline as the rollup store)."""

    def __init__(self, path: str, *, w: int, d: int, backend=None):
        if w <= 0 or d <= 0:
            raise ValueError("w and d must be positive")
        super().__init__(os.path.join(path, POINTER), backend, "additive")
        self.path = path
        self.w = w
        self.d = d
        os.makedirs(path, exist_ok=True)

    def current_sketch(self) -> CMSketch:
        return self._sketch(self.current())

    def _sketch(self, cur: dict | None) -> CMSketch:
        if cur is None:
            return CMSketch(
                w=self.w,
                d=self.d,
                rows=tuple(tuple([0] * self.w) for _ in range(self.d)),
                n_total=0,
            )
        sk = CMSketch.from_dict(cur["sketch"])
        if (sk.w, sk.d) != (self.w, self.d):
            raise ValueError(
                f"store at {self.path} holds (w={sk.w}, d={sk.d}) but the "
                f"handle was opened with (w={self.w}, d={self.d})"
            )
        return sk

    def apply_batch(
        self,
        batch: DataFrame,
        key: Column | str,
        *,
        epoch: int | None = None,
        run_token: str | None = None,
        weight: Column | None = None,
    ) -> CMSketch:
        """Fold the batch's key frequencies into the running sketch;
        returns the committed post-batch sketch. Replayed epochs return
        the committed sketch unchanged (no double-count)."""
        cur = self.current()
        if self.guard.is_replay(cur, epoch, run_token):
            return self._sketch(cur)
        batch_sk = cms_build(batch, key, w=self.w, d=self.d, weight=weight)
        merged = cms_merge(self._sketch(cur), batch_sk)
        self._commit(
            {
                "epoch": epoch,
                "run_token": run_token,
                "sketch": merged.to_dict(),
            },
            expected=cur,
        )
        return merged

    def rebuild(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        key: Column | str,
        *,
        weight: Column | None = None,
    ) -> CMSketch:
        """Re-derive the sketch from the surviving corpus (the takedown
        path: CMS cannot subtract one document — collisions share cells
        — so forget composes as rebuild-from-survivors, amortized on the
        caller's compaction cadence). Epoch/token carry through so the
        replay guard stays armed."""
        cur = self.current()
        sk = cms_build(corpus, key, w=self.w, d=self.d, weight=weight)
        self._commit(
            {
                "epoch": (cur or {}).get("epoch"),
                "run_token": (cur or {}).get("run_token"),
                "sketch": sk.to_dict(),
            },
            expected=cur,
        )
        return sk
