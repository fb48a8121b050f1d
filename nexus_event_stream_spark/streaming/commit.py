"""The pointer-store base and its pluggable commit backends.

Every snapshot store in this package publishes state the same way:
write data directories nobody references yet, then atomically swing a
single JSON pointer file. ``PointerStore`` is that protocol, written
once: the pointer path and the default backend, ``current()``, the one
commit seam ``_commit(pointer, expected)``, the store's ``ReplayGuard``,
the directory ``vacuum`` and the attempt-directory ``publish``. The view
stores (``streaming/projection.py``), the CMS store, the drift monitor,
the ANN index and its generation pointer, the serving-layout pointer,
the Bloom sidecar and the sharded corpus sink are ``PointerStore``s; the
rollup, BM25, embedding and signature stores delegate to a
``BucketedViewStore``. So every store commits through one seam.
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
``backend=`` injection; the crash-replay pins in
tests/test_bucketed_crash.py run every store under BOTH backends. See
SCALE.md for the deployment mapping.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from nexus_event_stream_spark.streaming.replay import ReplayGuard


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


class PointerStore:
    """One JSON pointer file committed through a backend — the skeleton
    every snapshot store shares.

    ``pointer_path`` names the pointer FILE (a store whose pointer sits
    beside its data joins its directory with the file name).
    ``guard_mode`` declares the store's replay discipline
    (streaming/replay.py); None means the store keeps its own check.
    """

    def __init__(
        self, pointer_path: str, backend=None, guard_mode: str | None = None
    ):
        self._pointer = pointer_path
        self.backend = backend or PosixRenameBackend()
        self.guard = None if guard_mode is None else ReplayGuard(guard_mode)

    def _pointer_path(self) -> str:
        return self._pointer

    def current(self) -> dict | None:
        return self.backend.read(self._pointer)

    def _commit(self, pointer: dict, expected: dict | None = None) -> None:
        """The one commit seam: ``expected`` is the pointer the caller
        read, so under a compare-and-swap backend a writer that moved it
        in between surfaces as ``CommitConflictError``."""
        self.backend.commit(self._pointer, pointer, expected)

    def adopt(self) -> None:
        """Clear the committed-epoch watermark in one atomic commit, so a
        NEW query (fresh checkpoint, epoch ids restarting at 0) can feed
        the existing state. Only valid when the new stream is disjoint
        from what is stored; see ``ReplayGuard.adopt``."""
        cur = self.current()
        if cur is not None:
            self._commit(self.guard.adopt(cur), expected=cur)

    def publish(
        self, root: str, dirname: str, write, pointer: dict, expected, prefix: str
    ):
        """Write ``root/dirname`` (an attempt-unique name) with
        ``write(out)``, swing the pointer to ``pointer`` against
        ``expected``, and return what ``write`` returned. A refused or
        failed commit removes the attempt directory, since nothing
        references it. After the swing, ``prefix`` directories other than
        this one and ``pointer["prev_dir"]`` are vacuumed: the previous
        stays for in-flight readers of the old pointer."""
        out = os.path.join(root, dirname)
        result = write(out)
        try:
            self._commit(pointer, expected)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
        vacuum(root, {dirname, pointer.get("prev_dir")}, prefix)
        return result


def vacuum(root: str, keep, prefix: str) -> None:
    """Remove every ``prefix`` directory under ``root`` not named in
    ``keep``."""
    for name in os.listdir(root):
        if name.startswith(prefix) and name not in keep:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
