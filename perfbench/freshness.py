"""Write → file → micro-batch → commit mapping for freshness.

A write's freshness is the time from its HTTP acknowledgement until the
view store commits the micro-batch that read the write's command file:

- write → file: every command file holds one envelope; it is matched to
  the write by ``(id, updated_at)`` (``(id, "deleted")`` for deletes);
- file → micro-batch: the streaming checkpoint's file-source log
  (``sources/0/<batchId>`` and compacted ``<batchId>.compact`` files)
  lists each file with the batch that read it;
- micro-batch → commit: the view store's pointer carries the epoch it
  committed; the load generator polls it and records when each new
  epoch first appeared.  A batch counts as committed at the first poll
  that shows an epoch at or past it.
"""

from __future__ import annotations

import bisect
import json
import os


def envelope_key(ev: dict) -> tuple:
    if ev.get("action") == "deleted":
        return (ev["id"], "deleted")
    return (ev["id"], ev.get("updated_at"))


def files_by_key(log_dir: str, skip: set[str] = frozenset()) -> dict[tuple, str]:
    """Envelope key → command file name, for every one-envelope file."""
    out = {}
    for name in os.listdir(log_dir):
        if not (name.startswith("cmd-") and name.endswith(".json")) or name in skip:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = [ln for ln in fh if ln.strip()]
        if len(lines) == 1:
            out[envelope_key(json.loads(lines[0]))] = name
    return out


def batch_of_files(checkpoint_dir: str) -> dict[str, int]:
    """File base name → id of the micro-batch that read it."""
    src = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


class CommitLog:
    """Pointer observations ``[(time, epoch), ...]`` in time order."""

    def __init__(self, observations):
        self.times: list[float] = []
        self.epochs: list[int] = []
        best = -1
        for t, epoch in sorted(observations):
            if epoch is None or epoch <= best:
                continue
            best = epoch
            self.times.append(t)
            self.epochs.append(epoch)

    def commit_time(self, batch: int) -> float | None:
        """First observed time at which the committed epoch was ≥ batch."""
        i = bisect.bisect_left(self.epochs, batch)
        return self.times[i] if i < len(self.times) else None


def freshness(writes, key_to_file, file_to_batch, commits: CommitLog):
    """Per acked write ``commit - ack`` seconds; writes whose file or batch
    cannot be found come back in the second list."""
    fresh, missing = [], []
    for w in writes:
        name = key_to_file.get(w["key"])
        batch = file_to_batch.get(name) if name else None
        t = commits.commit_time(batch) if batch is not None else None
        if t is None:
            missing.append(w)
        else:
            fresh.append(t - w["ack"])
    return fresh, missing
