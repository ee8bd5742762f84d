"""Manifest-based snapshot store: atomic multi-file commits, optimistic
concurrency, snapshot isolation, and time travel over the same partitioned
parquet layout as :class:`timedb_spark.store.Store`.

The directory store publishes file-at-a-time (atomic per file, not per
batch) and readers list the directory — so a reader can observe half of an
in-flight batch, and compaction/delete briefly swap directories under
readers. This module adds the minimal table-format commit protocol that
fixes all of it (the locally-buildable core of what Delta/Iceberg provide).
Every partition-level decision (write layout, compaction, erasure, TTL,
footer stats) is :class:`~timedb_spark.store.Store`'s; this class supplies
only the storage hooks that engine calls:

- ``_live_files`` — the latest manifest's files by partition, pinned to its
  version;
- ``_publish_append`` — one append commit (idempotent under ``txn``);
- ``_publish_rewrite`` — one remove/add commit pinned with
  ``base_version``; a :class:`CommitConflict` makes the engine redo the op.

- ``_manifests/v{N}.json`` — each version lists the COMPLETE set of data
  files in the table plus commit metadata. Readers resolve a manifest, then
  read exactly those files: a batch becomes visible all-at-once when its
  manifest lands, never file-by-file.
- **Commit = atomic manifest create** (``open(path, "x")``, O_EXCL). Two
  concurrent writers racing for version N+1: one wins, the loser reloads
  the new latest and retries on top — optimistic concurrency with no lock
  server. Appends always merge cleanly (file sets are disjoint); rewrite
  ops (compact/delete/TTL) recompute against the winner's file list before
  retrying.
- **Snapshot isolation + time travel** — old manifests keep referencing the
  old files, which rewrite ops never delete; ``read_values(version=K)`` is
  a consistent as-of-commit-K read even while compaction/deletes land.
  (The bitemporal model time-travels *data* via knowledge_time; this
  time-travels *storage* — both axes compose.)
- **Vacuum** — physically deletes files referenced only by expired
  versions, after truncating history. The only destructive step, and the
  only one that needs a retention window at 100 TB.

Scale posture: a manifest holds one line per data file — at 100 TB with
~1 GB files that's ~10^5 entries, a few MB of JSON read once per query
plan, same order as Delta's checkpoint files. O_EXCL-create is atomic on
POSIX/HDFS; on S3 swap in a conditional PUT (If-None-Match) — the protocol
is unchanged. Ref parity: the reference's sessionless parallel inserts
(timedb/tests/test_write_concurrency.py) get strictly stronger semantics
here (whole-batch atomicity instead of per-INSERT).
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from timedb_spark.store import _READ_SCHEMA, Store


class CommitConflict(Exception):
    """A rewrite op lost the OCC race: the file-list snapshot its rewrite
    was computed against is no longer the latest version. The op must redo
    its scan/rewrite against the new latest manifest — blindly merging
    add/remove on top of the winner would let a concurrently-appended file
    (which may contain rows the rewrite was supposed to erase or compact)
    survive untouched."""


class SnapshotStore(Store):
    """:class:`Store` with manifest-committed ``series_values``.

    ``run_series`` (a tiny dedup-on-read mapping) stays directory-based —
    its rows are idempotent upserts where partial visibility is harmless;
    the manifest protocol guards the big fact table.
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        self.manifest_dir = self.root / "_manifests"

    # -- manifest protocol -------------------------------------------------

    def _manifest_path(self, version: int) -> Path:
        return self.manifest_dir / f"v{version:012d}.json"

    def _versions(self) -> list[int]:
        if not self.manifest_dir.exists():
            return []
        return sorted(int(p.stem[1:]) for p in self.manifest_dir.glob("v*.json"))

    def _read_manifest(self, version: int) -> dict | None:
        """Read one manifest, tolerating a concurrent vacuum unlinking it
        between the caller's directory glob and this read (history
        truncation must be safe under live readers) — None means 'gone'."""
        try:
            return json.loads(self._manifest_path(version).read_text())
        except FileNotFoundError:
            return None

    def versions(self) -> list[dict]:
        """Commit history (oldest first): version, op, file/row counts."""
        out = []
        for v in self._versions():
            m = self._read_manifest(v)
            if m is None:
                continue  # vacuumed between glob and read
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "n_files": len(m["files"]),
                    "committed_at": m["committed_at"],
                }
            )
        return out

    def _load(self, version: int | None = None) -> tuple[int, list[str]]:
        while True:
            vs = self._versions()
            if not vs:
                return 0, []
            v = max(vs) if version is None else version
            if v not in vs:
                raise ValueError(f"version {v} not found (have {vs[0]}..{vs[-1]}; older may be vacuumed)")
            m = self._read_manifest(v)
            if m is not None:
                return v, m["files"]
            if version is not None:
                # the pinned version was vacuumed out from under the reader
                raise ValueError(f"version {version} not found (vacuumed)")
            # latest vanished ⇒ a concurrent vacuum kept a newer one: re-glob

    def _txn_committed(self, txn: tuple[str, int]) -> bool:
        """Has (app_id, txn_version) already landed in any live manifest?"""
        app, ver = txn
        for v in self._versions():
            m = self._read_manifest(v)
            if m is None:
                continue  # vacuumed between glob and read
            t = m.get("txn")
            if t and t[0] == app and int(t[1]) == int(ver):
                return True
        return False

    def _commit(
        self,
        *,
        add: list[str],
        remove: set[str],
        op: str,
        txn: tuple[str, int] | None = None,
        base_version: int | None = None,
    ) -> int:
        """Publish a new version via atomic manifest create; on a lost race,
        appends merge onto the winner's file list and retry (file sets are
        disjoint, so the merge is always correct), while rewrite ops pass
        ``base_version`` and get :class:`CommitConflict` instead — their
        add/remove was computed against that exact file list, and the
        winner's files may contain rows the rewrite should have covered.
        The caller redoes the scan/rewrite against the new latest.

        ``txn=(app_id, txn_version)`` makes the commit IDEMPOTENT: if any
        live manifest already carries the same pair, the commit is a no-op
        (returns the current version) — the Delta-style transactional-writer
        dedup that gives a replayed streaming micro-batch exactly-once
        semantics. The re-check runs inside the retry loop, so a writer that
        loses the race to its own earlier attempt cannot double-commit."""
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        while True:
            if txn is not None and self._txn_committed(txn):
                return self._load()[0]
            cur_v, cur_files = self._load()
            if base_version is not None and cur_v != base_version:
                raise CommitConflict(
                    f"{op}: base version {base_version} is stale (latest is {cur_v})"
                )
            files = [f for f in cur_files if f not in remove] + add
            m = {
                "version": cur_v + 1,
                "parent": cur_v,
                "op": op,
                "files": files,
                "committed_at": datetime.now(timezone.utc).isoformat(),
            }
            if txn is not None:
                m["txn"] = [txn[0], int(txn[1])]
            # Write the FULL content to a hidden temp file first, then claim
            # the version with an atomic hard link (fails if the destination
            # exists — same OCC arbitration as O_EXCL create). A direct
            # open(path, "x") + dump makes the manifest VISIBLE to readers'
            # globs before its bytes land: under load a concurrent reader
            # sees truncated JSON (observed as JSONDecodeError in the
            # parallel-writers test). link-from-complete-file closes that
            # window — readers only ever see whole manifests. The temp name
            # starts with '.' so _versions()' v*.json glob never matches it.
            # On an object store, swap the link for a conditional PUT.
            tmp = self.manifest_dir / f".tmp-{uuid.uuid4().hex}.json"
            tmp.write_text(json.dumps(m))
            try:
                os.link(tmp, self._manifest_path(cur_v + 1))
                return cur_v + 1
            except FileExistsError:
                continue  # another writer won this version — retry on top
            finally:
                tmp.unlink(missing_ok=True)

    # -- storage protocol: the hooks the shared Store engine calls ----------

    def _live_files(self) -> tuple[int, dict[str, list[Path]]]:
        """The latest manifest's files by partition; its version is the base
        every rewrite commit is pinned to."""
        v, files = self._load()
        parts: dict[str, list[Path]] = {}
        for rel in sorted(files):
            parts.setdefault(os.path.dirname(rel), []).append(self.values_path / rel)
        return v, parts

    def _adopt(self, stage: Path, target: Path) -> list[str]:
        """Rename staged files into the dataset; returns their manifest
        paths. Files are invisible to readers until a manifest lists them."""
        return [str(p.relative_to(self.values_path)) for p in self._publish(stage, target)]

    def _publish_append(self, stage: Path, txn: tuple[str, int] | None = None) -> None:
        """ONE manifest commit for the whole batch, so a batch spanning many
        partitions/files appears atomically (the directory store's per-file
        renames can expose partial batches). A replay of an already
        committed ``txn`` commits nothing (its orphans are invisible and
        vacuum reclaims them)."""
        added = self._adopt(stage, self.values_path)
        if added:
            self._commit(add=added, remove=set(), op="append", txn=txn)

    def _publish_rewrite(self, base: int, op: str, replace: dict[str, tuple[list[Path], Path | None]]) -> bool:
        """A rewrite as a manifest swap: ONE commit removes the replaced
        partitions' files and adds the staged ones. Old files stay on disk
        for readers pinned at older versions until :meth:`vacuum`.

        The commit is pinned to the version the rewrite read
        (``base_version``): an op that serializes AFTER a concurrent append
        must redo its scan — the winner's files may hold rows it should have
        compacted, erased or expired — so a lost race discards the staged
        files and returns False, never a blind add/remove merge."""
        add: list[str] = []
        remove: set[str] = set()
        for part, (old, stage) in replace.items():
            remove.update(str(f.relative_to(self.values_path)) for f in old)
            if stage is not None:
                add += self._adopt(stage, self.values_path / part)
        try:
            self._commit(add=add, remove=remove, op=op, base_version=base)
            return True
        except CommitConflict:
            for rel in add:  # no manifest references them: safe to unlink
                (self.values_path / rel).unlink(missing_ok=True)
            return False

    # -- writes and reads ----------------------------------------------------

    def create(self) -> None:
        super().create()
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        if not self._versions():
            self._commit(add=[], remove=set(), op="create")

    def append_values(self, df: DataFrame, *, txn: tuple[str, int] | None = None) -> None:
        """With ``txn``, a replayed (already committed) batch is skipped
        before any staging work."""
        if txn is not None and self._txn_committed(txn):
            return
        self._write_values(df, txn=txn)

    def read_values(self, version: int | None = None) -> DataFrame:
        """Consistent snapshot read: exactly the files of one manifest.

        ``basePath`` keeps hive partition-column derivation (retention,
        vt_month) over the explicit file list, so pruning behaves exactly
        as in the directory store."""
        _, files = self._load(version)
        if not files:
            return self.spark.createDataFrame([], _READ_SCHEMA)
        paths = [str(self.values_path / f) for f in files]
        return (
            self.spark.read.schema(_READ_SCHEMA)
            .option("basePath", str(self.values_path))
            .parquet(*paths)
        )

    # -- vacuum: the only destructive step ----------------------------------

    def vacuum(self, *, keep_last: int = 1, min_age_s: float = 3600.0) -> dict:
        """Truncate history to the last ``keep_last`` versions and delete
        data files no kept version references. Returns counts. After vacuum,
        time travel reaches only the kept versions (older reads raise), and
        txn idempotence markers in truncated manifests are forgotten — keep
        ``keep_last`` above any streaming checkpoint's replay horizon.

        ``min_age_s`` is the concurrent-writer guard (Delta's ``VACUUM
        RETAIN``): a writer renames its staged files into the dataset
        BEFORE its manifest commit, so an unreferenced-but-young file may
        belong to an in-flight commit — only files older than the grace
        window are deleted. Set 0 only when no writer can be active."""
        import time as _t

        vs = self._versions()
        keep = set(vs[-keep_last:]) if vs else set()
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._load(v)[1])
        cutoff = _t.time() - min_age_s
        removed_files = 0
        if self.values_path.exists():
            for p in self.values_path.rglob("*.parquet"):
                if str(p.relative_to(self.values_path)) not in referenced and p.stat().st_mtime <= cutoff:
                    p.unlink()
                    removed_files += 1
            for d in sorted(self.values_path.rglob("*"), reverse=True):
                if d.is_dir() and not any(d.iterdir()):
                    d.rmdir()
        removed_manifests = 0
        for v in vs:
            if v not in keep:
                try:
                    self._manifest_path(v).unlink()
                    removed_manifests += 1
                except FileNotFoundError:
                    pass  # a concurrent vacuum got there first
        return {"removed_files": removed_files, "removed_manifests": removed_manifests}
