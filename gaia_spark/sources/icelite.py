"""icelite — iceberg-shaped table layout on plain Parquet, no runtime jar.

No Iceberg jar ships in this environment (SURVEY.md §0), so the engine
emulates the parts the north rule needs (``BASELINE.json:14``): snapshot
manifests, atomic commits, append/overwrite semantics, and time-travel-ish
snapshot reads — enough for resumable batch jobs with per-partition lineage.

Layout:
    table_dir/
      data/<commit_uuid>/part-*.parquet     (immutable once committed)
      _manifests/snap-00000001.json          (file list, added files, meta,
                                              schema, timestamp_ms)
      _manifests/CURRENT                     (atomic pointer, rename-committed)
      _manifests/.commit-lock                (flock'd while a commit runs)

Commit protocol: data is written to a fresh uuid dir (never overwritten),
the manifest is written to a temp name and os.rename'd into place, then
CURRENT is swapped by rename — readers always see a complete snapshot.
Writers serialize the manifest step on an exclusive ``flock`` of
``.commit-lock`` and re-read CURRENT under it: a commit whose parent moved
since it started (another process or thread committed meanwhile) re-bases
onto the new CURRENT — an append keeps the other commit's files and adds
its own — so two writers never take the same snapshot id and neither
commit's files drop out (Iceberg's optimistic retry, with the retry under
the lock). The kernel releases the lock when its holder dies, so a killed
writer never blocks the next one; a bare exclusive create of
``snap-N.json`` could not tell a live writer's claim from a killed one's.
A commit is the CURRENT swap: a ``snap-N.json`` with N above CURRENT's id
(a kill between the two renames) is not committed, is never read, and is
overwritten by the next commit. A manifest's ``meta`` (caller tags plus
``added_rows``) and ``timestamp_ms`` are its commit record, as Iceberg keeps
commit metadata in the snapshot summary — :meth:`IceTable.committed_meta`
is how resumable jobs and streaming sinks find what they already wrote.
On a real deployment this maps 1:1 onto Iceberg append/overwrite commits.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class IceTable:
    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------
    def _load(self, name: str) -> dict:
        with open(os.path.join(self.manifest_dir, name)) as f:
            return json.load(f)

    def _current_snapshot(self) -> dict | None:
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return self._load(f.read().strip())

    def snapshots(self) -> list[str]:
        return sorted(n for n in os.listdir(self.manifest_dir) if n.startswith("snap-"))

    def _commit(
        self,
        files: list[str],
        schema: str,
        operation: str,
        parent: dict | None,
        added: list[str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Commit ``files`` (the full file list of the new snapshot, built
        on ``parent``) under the commit lock, re-based onto CURRENT if
        another writer committed after ``parent`` was read."""
        added = added if added is not None else files
        with self._commit_lock():
            head = self._current_snapshot()
            if head is not None and (parent is None or head["snapshot_id"] != parent["snapshot_id"]):
                if operation == "append":
                    files = head["files"] + added
                parent = head
            snap_id = (parent["snapshot_id"] + 1) if parent else 1
            manifest = {
                "snapshot_id": snap_id,
                "parent": parent["snapshot_id"] if parent else None,
                "operation": operation,
                "files": files,
                "added": added,
                "meta": meta or {},
                "schema": schema,
                "timestamp_ms": int(time.time() * 1000),
            }
            name = f"snap-{snap_id:08d}.json"
            tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            # under the lock a snap-N.json above CURRENT is a killed
            # writer's orphan, never a live commit: replacing it is safe
            os.rename(tmp, os.path.join(self.manifest_dir, name))
            cur_tmp = os.path.join(self.manifest_dir, f".cur-{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(name)
            os.rename(cur_tmp, os.path.join(self.manifest_dir, "CURRENT"))
        return manifest

    @contextmanager
    def _commit_lock(self):
        """Exclusive ``flock`` on the table's lock file for one commit;
        closing the descriptor (or the holder dying) releases it."""
        fd = os.open(os.path.join(self.manifest_dir, ".commit-lock"), os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)

    # -- write ------------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[str]:
        commit_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        df.write.parquet(commit_dir)
        return sorted(
            os.path.join(commit_dir, f)
            for f in os.listdir(commit_dir)
            if f.endswith(".parquet")
        )

    @staticmethod
    def _file_rows(files: list[str]) -> int:
        """Row count from parquet footers — metadata only, no plan
        re-execution (the Iceberg-manifest row-count role)."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def append(self, df: DataFrame, meta: dict | None = None) -> dict:
        parent = self._current_snapshot()
        files = self._write_files(df)
        meta = dict(meta or {})
        meta["added_rows"] = self._file_rows(files)
        prior = parent["files"] if parent else []
        return self._commit(prior + files, df.schema.json(), "append", parent, files, meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> dict:
        parent = self._current_snapshot()
        files = self._write_files(df)
        meta = dict(meta or {})
        meta["added_rows"] = self._file_rows(files)
        return self._commit(files, df.schema.json(), "overwrite", parent, files, meta)

    def committed_meta(self) -> list[dict]:
        """The commit record of every committed snapshot whose added files
        the current snapshot still lists: its ``meta`` plus ``snapshot_id``
        and ``timestamp_ms``, oldest first. Manifest reads only — no Spark
        job. This is the done-set lookup for resumable jobs (one record per
        unit) and for streaming sinks (skip replayed batch ids).

        Only ids up to CURRENT's are read, so an orphan ``snap-N.json`` left
        by a kill between the manifest rename and the CURRENT swap never
        counts. A commit whose files a later snapshot dropped (an overwrite,
        or the ``rollback`` snapshots older tables carry) no longer counts
        either: its rows are not in the table, so its work is not done."""
        cur = self._current_snapshot()
        if cur is None:
            return []
        live = set(cur["files"])
        out = []
        for sid in range(1, cur["snapshot_id"] + 1):
            m = self._load(f"snap-{sid:08d}.json")
            if live.issuperset(m["added"]):
                out.append(
                    {**m["meta"], "snapshot_id": sid, "timestamp_ms": m.get("timestamp_ms")}
                )
        return out

    # -- read -------------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self._current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"empty icelite table at {self.path}")
        if snapshot_id is not None:
            if snapshot_id > snap["snapshot_id"]:
                # a snap-N.json above CURRENT is a torn commit, not history
                raise ValueError(
                    f"snapshot {snapshot_id} of {self.path} is not committed "
                    f"(current snapshot is {snap['snapshot_id']})"
                )
            snap = self._load(f"snap-{snapshot_id:08d}.json")
        # the manifest records the table schema, so the read infers none
        schema = StructType.fromJson(json.loads(snap["schema"]))
        return spark.read.schema(schema).parquet(*snap["files"])
