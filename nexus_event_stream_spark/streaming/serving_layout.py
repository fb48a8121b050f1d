"""Read-optimized serving layout over the streaming projection.

The two flagship tiers composed (VERDICT r6): the ingest path owns the
write-optimized layout — ``BucketedViewStore`` buckets by KEY HASH so a
micro-batch rewrites only the buckets it touches — but the serving reads
the reference optimizes for (newest-first listings, priority equality:
``data-plane/internal/projection/signal.go:13-16,70-96`` ZSet indexes)
want the opposite: files clustered on (priority, created_at) so a read
touches O(selectivity) files. Hash buckets scatter every priority and
every time range across ALL buckets — a top-50-newest against the raw
store reads every bucket file.

This module is the OPTIMIZE step between them:

- :func:`publish_serving_snapshot` re-clusters the store's LIVE view
  (tombstones already folded out) into a Z-ordered layout on
  ``(priority_code, created_at)`` with a skipping manifest — the same
  periodic-maintenance shape as Delta ``OPTIMIZE ZORDER``. The view is
  keyed state, bounded by |live keys| (≪ the event log), so a full
  re-cluster per maintenance window is the honest cost — incremental
  upsert into a sorted layout would re-create the LWW merge problem the
  bucketed store already solves on the write side. The published store
  version rides along; re-publishing an unchanged store is a no-op.
- :func:`serve_filter_priority` / :func:`serve_list_newest` are the two
  reference reads through :func:`pruned_read` — file-count-bounded by
  the manifest, residual predicate always re-applied (sound by
  construction). The newest-first read derives a SOUND top-k time bound
  from the manifest alone (:func:`topk_prune_bound`): ≥k non-null rows
  provably sit at or above the bound, so files entirely below it cannot
  hold a top-k row — the lake-scale replacement for the reference's
  ``ZRANGE 0 49`` (core/views.py top-50 cap).

Publish atomicity (VERDICT r7 #1): each publish writes a fresh
attempt-unique ``v={n}-{token}/`` directory that nothing references,
then swings the single ``_serving_pointer.json`` LAST through the
pluggable commit backends (streaming/commit.py) with the previously-read
pointer as ``expected=`` — under a CAS backend a racing publisher gets
``CommitConflictError`` instead of silently clobbering, and readers
resolve the pointer FIRST so they only ever see complete layouts. The
pointer is a ``PointerStore`` and the publish is its ``publish`` helper
(streaming/commit.py) — the one attempt-dir swing the ANN index's
``retrain_swap`` also uses — and matches the reference's atomic view
update (Redis MULTI/EXEC, ``data-plane/internal/projection/signal.go:45-58``).
Vacuum keeps the current and the immediately-previous snapshot so an
in-flight reader that resolved the old pointer finishes against an
intact directory.

Freshness contract: reads serve the last published snapshot — the same
eventual-consistency the reference's Redis view already has; cadence is
the caller's maintenance schedule.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.functions.domain import priority_display_to_score
from nexus_event_stream_spark.operators.clustering import (
    pruned_read,
    topk_prune_bound,
    zorder_write,
)
from nexus_event_stream_spark.schemas import PRIORITY_SCORES
from nexus_event_stream_spark.streaming.commit import PointerStore
from nexus_event_stream_spark.streaming.projection import BucketedViewStore

_POINTER = "_serving_pointer.json"  # "_" prefix: invisible to data scans

#: The serving clustering dimensions: priority equality + time range are
#: the reference's two indexed access paths (signal.go ZSets).
SERVING_COLS = ("priority_code", "created_at")


def _serving_pointer(path: str, backend=None) -> PointerStore:
    return PointerStore(os.path.join(path, _POINTER), backend)


def resolve_serving_dir(path: str, backend=None) -> str:
    """The data directory of the CURRENT published snapshot — readers
    call this first, then scan only inside it; a concurrent republish
    writes elsewhere and cannot disturb the resolved layout."""
    ptr = _serving_pointer(path, backend).current()
    if ptr is None:
        raise ValueError(f"no published serving snapshot at {path}")
    return os.path.join(path, ptr["dir"])


def publish_serving_snapshot(
    spark: SparkSession,
    store: BucketedViewStore,
    path: str,
    n_files: int = 32,
    backend=None,
) -> dict:
    """Re-cluster the store's live view into a NEW versioned snapshot dir
    and commit it pointer-last.

    Returns ``{"published": bool, "store_version": int, "n_files": int,
    "serving_version": int}``; ``published=False`` means the store hasn't
    advanced since the last publish (the no-op fast path a scheduled
    compactor needs). Raises ``CommitConflictError`` (CAS backends) if a
    concurrent publisher moved the pointer — the freshly-written attempt
    dir is removed before re-raising, since nothing references it."""
    pointer = _serving_pointer(path, backend)
    cur = store.current()
    if cur is None:
        raise ValueError("store has no committed state to publish")
    ptr = pointer.current()
    if ptr is not None and ptr["store_version"] == cur["version"]:
        return {
            "published": False,
            "store_version": cur["version"],
            "n_files": n_files,
            "serving_version": ptr["serving_version"],
        }
    live = store.read_live(spark)
    if live is None:
        raise ValueError("store live view is empty")
    serving = live.withColumn(
        "priority_code", priority_display_to_score("priority")
    )
    version = (ptr["serving_version"] + 1) if ptr else 1
    # attempt-unique: a crashed or conflicted publish leaves garbage that
    # vacuum reclaims, never a dir a future attempt could half-overwrite
    dirname = f"v={version}-{uuid.uuid4().hex[:8]}"
    pointer.publish(
        path,
        dirname,
        lambda out: zorder_write(
            serving, out, list(SERVING_COLS), n_files=n_files
        ),
        {
            "serving_version": version,
            "dir": dirname,
            "store_version": cur["version"],
            "prev_dir": ptr["dir"] if ptr else None,
        },
        expected=ptr,
        prefix="v=",
    )
    return {
        "published": True,
        "store_version": cur["version"],
        "n_files": n_files,
        "serving_version": version,
    }


def serve_filter_priority(
    spark: SparkSession, path: str, priority: str, backend=None
) -> tuple[DataFrame, dict]:
    """Equality read on the display priority through the manifest —
    touches only files whose priority_code range covers the code.
    Unknown display values encode 0 (the Go zero-value quirk the whole
    engine preserves) and return empty against the 1..3 coded layout."""
    data_dir = resolve_serving_dir(path, backend)
    code = PRIORITY_SCORES.get(priority, 0)
    df, stats = pruned_read(
        spark, data_dir, {"priority_code": (float(code), float(code))}
    )
    return df.drop("priority_code"), stats


def serve_list_newest(
    spark: SparkSession, path: str, k: int = 50, backend=None
) -> tuple[DataFrame, dict]:
    """Top-``k`` newest through the manifest: derive the sound time bound
    (≥k rows provably at/above it), read only files whose created_at
    range reaches it, then order + limit. Ties at the bound are included
    in the scan, so the result equals the full-scan top-k exactly."""
    data_dir = resolve_serving_dir(path, backend)
    bound = topk_prune_bound(data_dir, "created_at", k)
    preds = {"created_at": (bound, None)} if bound is not None else {}
    if preds:
        df, stats = pruned_read(spark, data_dir, preds)
    else:
        df = spark.read.parquet(data_dir)
        n = len([f for f in os.listdir(data_dir) if f.endswith(".parquet")])
        stats = {"files_total": n, "files_read": n}
    return (
        df.drop("priority_code")
        .orderBy(F.col("created_at").desc(), F.col("id"))
        .limit(k),
        stats,
    )
