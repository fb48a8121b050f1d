"""Pluggable pointer-commit backends for the snapshot stores.

Every snapshot store in this package publishes state the same way:
write data directories nobody references yet, then atomically swing a
single JSON pointer file. ``ParquetViewStore`` and ``BucketedViewStore``
(``streaming/projection.py``) each own one such pointer; the rollup,
BM25, embedding and signature stores delegate their layout, commit and
vacuum to a ``BucketedViewStore``.
HOW that pointer swing is made atomic is deployment-specific:

- On a POSIX filesystem (this sandbox, HDFS with a rename-consistent
  view, NFS with close-to-open), ``os.replace`` of a same-directory temp
  file is atomic — ``PosixRenameBackend``.
- On object stores there is NO atomic rename (S3 rename is copy+delete),
  so a 100 TB deployment commits via a conditional put — an "overwrite
  only if the object is still what I last read" primitive (S3
  If-Match/If-None-Match, GCS generation preconditions, or a
  DynamoDB-style lock row, which is exactly how Delta Lake commits on
  S3). ``ConditionalPutBackend`` implements those semantics: the commit
  carries the EXPECTED current pointer and is rejected with
  ``CommitConflictError`` if another writer moved it — the lost-update
  anomaly becomes an explicit, retryable failure instead of silent
  corruption.

The stores default to ``PosixRenameBackend`` (correct here) and accept a
``backend=`` injection; the exactly-once replay pins in
tests/test_bucketed_store.py and tests/test_streaming_dedup.py run under
BOTH backends. See SCALE.md for the deployment mapping.
"""

from __future__ import annotations

import json
import os
import tempfile
import time


class CommitConflictError(RuntimeError):
    """The pointer moved between read and commit — the caller's snapshot
    of the store is stale; re-read and retry the whole epoch apply."""


class PosixRenameBackend:
    """Atomic pointer swing via same-directory temp file + ``os.replace``.

    Correct on POSIX filesystems only; on object stores rename is
    copy+delete and this backend would silently lose the atomicity the
    stores' crash-safety argument rests on — use ConditionalPutBackend
    there. ``expected`` is accepted for interface parity but NOT
    enforced: rename-based commit is last-writer-wins.
    """

    def read(self, path: str) -> dict | None:
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def commit(self, path: str, pointer: dict, expected: dict | None = None) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix="._ptr")
        with os.fdopen(fd, "w") as fh:
            json.dump(pointer, fh)
        os.replace(tmp, path)  # atomic on POSIX


class ConditionalPutBackend:
    """Compare-and-swap pointer commit — object-store semantics.

    The commit succeeds only if the pointer currently equals ``expected``
    (None = must not exist yet); otherwise ``CommitConflictError``. The
    filesystem realization serializes the read-compare-write through a
    sidecar lock file acquired with ``O_CREAT|O_EXCL`` (itself atomic on
    POSIX *and* NFS), standing in for the service-side atomicity of S3
    If-Match / GCS preconditions / a DynamoDB lock item. Swap this class
    for a boto3 ``put_object(IfMatch=etag)`` twin in a real deployment —
    the store code does not change.
    """

    def __init__(self, lock_timeout: float = 5.0, poll: float = 0.01):
        self.lock_timeout = lock_timeout
        self.poll = poll

    def read(self, path: str) -> dict | None:
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def commit(self, path: str, pointer: dict, expected: dict | None = None) -> None:
        lock = path + ".lock"
        deadline = time.monotonic() + self.lock_timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise CommitConflictError(
                        f"commit lock {lock} held past timeout"
                    ) from None
                time.sleep(self.poll)
        try:
            current = self.read(path)
            if current != expected:
                raise CommitConflictError(
                    "pointer moved since read: expected "
                    f"{expected!r}, found {current!r}"
                )
            # still tmp+replace INSIDE the lock: a crash mid-write must
            # not leave a torn pointer for lock-free readers
            fdt, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix="._ptr")
            with os.fdopen(fdt, "w") as fh:
                json.dump(pointer, fh)
            os.replace(tmp, path)
        finally:
            os.close(fd)
            os.unlink(lock)
