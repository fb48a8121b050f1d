"""Sharded training-corpus sink with a manifest-committed contract.

The last hop of a data pipeline: publish the prepared corpus as N
size-balanced parquet shards that training loaders consume shard-local,
plus a manifest a loader can trust — written with the SAME versioned
snapshot + atomic pointer discipline as the view stores
(streaming/projection.py, streaming/commit.py):

- each publish writes a fresh ``v=<n>`` directory nobody references yet
  (one shuffle, on the shard key);
- the manifest (per-shard row counts + file lists + the shard function,
  so a loader can re-derive placement) commits LAST via the pluggable
  pointer backend — ``PosixRenameBackend`` here, conditional-put on
  object stores, where a concurrent publisher surfaces as an explicit
  ``CommitConflictError`` instead of a silently mixed corpus;
- readers resolve the pointer first, so a crashed publish is invisible
  and the previous version stays readable (one-version time travel,
  same as the stores).

Shard assignment is the deterministic Knuth-hash bucket of the doc key —
replayable, engine-portable, and uniform (shard skew would starve
loader workers at epoch tails).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.sampling import hash_bucket
from nexus_event_stream_spark.streaming.commit import PointerStore


class ShardedCorpusWriter(PointerStore):
    """Versioned sharded parquet corpus under ``root`` with an atomically
    committed manifest pointer (``manifest.json``)."""

    #: bounded observability tail of per-epoch row counts kept in the
    #: manifest; the replay guard itself is the O(1) ``max_epoch``
    EPOCH_TAIL = 64

    def __init__(self, root: str, n_shards: int = 16, backend=None) -> None:
        # the replay guard is the manifest's own ``max_epoch`` (see append)
        super().__init__(os.path.join(root, "manifest.json"), backend)
        self.root = root
        self.n_shards = n_shards
        os.makedirs(root, exist_ok=True)

    def _snapshot_dir(self, cur: dict | None, version: int | None = None) -> str:
        """Resolve a committed snapshot version to its directory name.

        Manifests record their directory (``dir``) and the previous
        snapshot's (``prev_dir``) — attempt-unique names, so a crashed or
        losing publisher can never collide with a committed directory.
        Only what the committed manifest records is resolvable: the
        current version and (for snapshot-over-snapshot publishes) the
        one before it. Anything else raises rather than fabricating a
        path that may never have existed.
        """
        if cur is None:
            raise ValueError("no committed manifest")
        if version is None or version == cur["version"]:
            return cur.get("dir", f"v={cur['version']}")
        if cur.get("prev_version") == version:
            # legacy manifests (pre-attempt-suffix) recorded no prev_dir;
            # their directories really are plain v=<n>
            return cur.get("prev_dir", f"v={version}")
        raise ValueError(
            f"version {version} is not resolvable from the committed "
            f"manifest (time travel spans only the previous snapshot)"
        )

    def write(
        self, df: DataFrame, key_col: str = "doc_id", expected: dict | None = None
    ) -> dict:
        """Publish ``df`` as the next corpus version; returns the manifest.

        One shuffle (repartition on the shard id) then a partitioned
        write — shard subdirectories land as ``shard=<k>``. Row counts
        for the manifest come from reading the fresh version back
        (parquet footer counts — metadata, not data). The data directory
        name carries a random attempt token: a crashed or conflicted
        publish leaves an unreferenced orphan that can never wedge a
        retry or interleave with another publisher's committed files.
        The pointer commit carries ``expected`` (the manifest ``df`` was
        derived from — ``compact`` passes the one it read; defaults to
        the pointer read at entry) so a publish that raced anything —
        another snapshot OR a streaming append — surfaces as
        ``CommitConflictError`` on a conditional-put backend instead of
        silently dropping the interleaved commit's rows. The append
        replay guard (``max_epoch``/``epoch_rows``) carries forward, so
        a streaming epoch retried AFTER a snapshot rewrite/compaction is
        still recognized and skipped.
        """
        import secrets

        cur = self.current() if expected is None else expected
        version = (cur["version"] + 1) if cur else 0
        dirname = f"v={version}-{secrets.token_hex(4)}"
        out = os.path.join(self.root, dirname)
        with_shard = df.withColumn(
            "shard", hash_bucket(key_col, self.n_shards).cast("int")
        )
        (
            with_shard.repartition("shard")
            .write.mode("errorifexists")
            .partitionBy("shard")
            .parquet(out)
        )
        spark = df.sparkSession
        counts = {
            int(r["shard"]): r["n"]
            for r in spark.read.parquet(out)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        shards = {}
        for k in range(self.n_shards):
            d = os.path.join(out, f"shard={k}")
            files = sorted(
                f for f in (os.listdir(d) if os.path.isdir(d) else [])
                if f.endswith(".parquet")
            )
            shards[str(k)] = {"rows": counts.get(k, 0), "files": files}
        manifest = {
            "version": version,
            "dir": dirname,
            "created_unix": int(time.time()),
            "n_shards": self.n_shards,
            "shard_fn": f"knuth_hash({key_col}) % {self.n_shards}",
            "total_rows": sum(s["rows"] for s in shards.values()),
            "shards": shards,
            # append's replay guard survives snapshot rewrites
            "max_epoch": cur.get("max_epoch", -1) if cur else -1,
            "epoch_rows": dict(cur.get("epoch_rows", {})) if cur else {},
        }
        if cur and "dirs" not in cur:
            # one-step time travel: only a plain snapshot has a single
            # directory to point back to (an append lineage is its dirs
            # list, superseded wholesale by this snapshot)
            manifest["prev_version"] = cur["version"]
            manifest["prev_dir"] = self._snapshot_dir(cur)
        self._commit(manifest, expected=cur)
        return manifest

    def append(self, df: DataFrame, epoch: int, key_col: str = "doc_id") -> dict:
        """Exactly-once per-epoch append — the streaming publish path
        (``foreachBatch(lambda b, e: writer.append(b, e))``).

        Cost is O(|batch|): the epoch's rows land in their own
        attempt-unique ``epochs/e=<epoch>-<token>`` directory
        (partitioned by shard) and the new manifest version REFERENCES
        the previous version's directories plus the new one — no data
        rewrite, ever. Structured Streaming epochs are MONOTONIC per
        checkpoint, so the replay guard is the committed ``max_epoch``:
        a retried micro-batch with ``epoch <= max_epoch`` is a no-op,
        and the guard stays O(1) forever (``epoch_rows`` keeps only a
        bounded observability tail). The attempt token means a zombie
        publisher retrying a committed epoch writes a fresh orphan dir —
        it can never delete or replace files a committed manifest
        references — and its pointer commit loses the CAS. Uncommitted
        directories are invisible to readers.
        """
        import secrets

        cur = self.current()
        if cur is not None:
            # legacy manifests carry epoch_rows but no max_epoch — their
            # replay guard must not silently vanish on upgrade
            guard = cur.get(
                "max_epoch",
                max((int(k) for k in cur.get("epoch_rows", {})), default=-1),
            )
            if epoch <= guard:
                return cur  # replayed epoch — already committed, no-op
        dirname = os.path.join("epochs", f"e={epoch}-{secrets.token_hex(4)}")
        out = os.path.join(self.root, dirname)
        with_shard = df.withColumn(
            "shard", hash_bucket(key_col, self.n_shards).cast("int")
        )
        (
            with_shard.repartition("shard")
            .write.mode("errorifexists")
            .partitionBy("shard")
            .parquet(out)
        )
        n_rows = df.sparkSession.read.parquet(out).count()
        dirs = list(cur["dirs"]) if cur and "dirs" in cur else (
            [self._snapshot_dir(cur)] if cur else []
        )
        dirs.append(dirname)
        epoch_rows = dict(cur.get("epoch_rows", {})) if cur else {}
        epoch_rows[str(epoch)] = n_rows
        if len(epoch_rows) > self.EPOCH_TAIL:
            for old in sorted(epoch_rows, key=int)[: -self.EPOCH_TAIL]:
                del epoch_rows[old]
        manifest = {
            "version": (cur["version"] + 1) if cur else 0,
            "created_unix": int(time.time()),
            "n_shards": self.n_shards,
            "shard_fn": f"knuth_hash({key_col}) % {self.n_shards}",
            "total_rows": (cur.get("total_rows", 0) if cur else 0) + n_rows,
            "dirs": dirs,
            "max_epoch": epoch,
            "epoch_rows": epoch_rows,
        }
        self._commit(manifest, expected=cur)
        return manifest

    def compact(self, spark: SparkSession, key_col: str = "doc_id") -> dict:
        """Fold all referenced directories into one fresh snapshot
        version (bounded by corpus size, run on a schedule like the view
        stores' tombstone compaction). The result is a plain snapshot
        manifest — append can continue from it.

        The manifest the data was READ from is passed as the commit's
        ``expected``: an epoch appended while the compaction job ran
        makes the pointer swing fail (conditional-put backend) instead
        of committing a snapshot that silently lacks that epoch's rows
        while the carried-forward replay guard marks it done. Retry the
        compaction on conflict. (The POSIX-rename backend cannot enforce
        ``expected`` — schedule compaction from the single publisher
        there, as with the view stores.)"""
        cur = self.current()
        df = self.read(spark)
        if df is None:
            raise ValueError("nothing to compact")
        return self.write(df.drop("shard"), key_col=key_col, expected=cur)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """The committed corpus (or an explicit older snapshot
        ``version``); None before the first publish. Never reads an
        uncommitted directory. Appended corpora resolve through the
        manifest's directory list (``basePath`` keeps the shard
        partition column)."""
        cur = self.current()
        if cur is None:
            return None
        if version is not None and version != cur["version"]:
            return spark.read.parquet(
                os.path.join(self.root, self._snapshot_dir(cur, version))
            )
        if "dirs" in cur:
            # snapshot (v=) and epoch (epochs/e=) directories discover
            # different partition columns — read each group with the
            # root basePath, drop its version/epoch column, then union
            groups = {
                "v": [d for d in cur["dirs"] if d.startswith("v=")],
                "e": [d for d in cur["dirs"] if not d.startswith("v=")],
            }
            parts = []
            for col, dirs in groups.items():
                if dirs:
                    parts.append(
                        spark.read.option("basePath", self.root)
                        .parquet(*[os.path.join(self.root, d) for d in dirs])
                        .drop(col)
                    )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        return spark.read.parquet(
            os.path.join(self.root, self._snapshot_dir(cur))
        )

    def read_shard(self, spark: SparkSession, shard: int) -> DataFrame | None:
        """One shard of the committed version — the loader-worker read
        path (partition-pruned: only that shard directory is listed)."""
        df = self.read(spark)
        return None if df is None else df.filter(F.col("shard") == shard)

    def vacuum(
        self, grace_seconds: int = 7 * 24 * 3600, now: float | None = None
    ) -> dict:
        """Delete data directories no committed manifest references.

        The commit protocol's safety comes FROM leaving garbage: crashed,
        zombie, and CAS-losing publishers abandon attempt-unique orphan
        dirs rather than ever touching committed files. Vacuum is the
        scheduled janitor that reclaims them, with two protections:

        - everything the committed manifest can resolve is kept — the
          current snapshot/epoch ``dirs``, and ``prev_dir`` (one-step
          time travel);
        - anything younger than ``grace_seconds`` is kept, because an
          IN-FLIGHT publish writes its data before its pointer commit —
          the grace period must exceed the longest plausible publish
          (the Delta VACUUM retention rule; default 7 days).

        ``now`` is injectable for tests. Returns
        ``{"removed": [...], "kept": [...]}`` (root-relative dirs).
        On an object store, run this from one place — it deletes;
        everything else in this class only ever adds.
        """
        import shutil

        now = time.time() if now is None else now
        cur = self.current()
        protected: set[str] = set()
        if cur is not None:
            if "dirs" in cur:
                protected.update(cur["dirs"])
            else:
                protected.add(self._snapshot_dir(cur))
            if "prev_dir" in cur:
                protected.add(cur["prev_dir"])
            elif cur.get("prev_version") is not None:
                protected.add(f"v={cur['prev_version']}")
        candidates: list[str] = []
        for name in sorted(os.listdir(self.root)):
            full = os.path.join(self.root, name)
            if name.startswith("v=") and os.path.isdir(full):
                candidates.append(name)
        epochs_root = os.path.join(self.root, "epochs")
        if os.path.isdir(epochs_root):
            candidates.extend(
                os.path.join("epochs", n)
                for n in sorted(os.listdir(epochs_root))
                if n.startswith("e=")
                and os.path.isdir(os.path.join(epochs_root, n))
            )
        removed, kept = [], []
        for rel in candidates:
            full = os.path.join(self.root, rel)
            if rel in protected:
                kept.append(rel)
                continue
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                kept.append(rel)  # vanished mid-scan or unreadable: skip
                continue
            if age < grace_seconds:
                kept.append(rel)
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(rel)
        return {"removed": removed, "kept": kept}
