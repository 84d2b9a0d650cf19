"""icelite — iceberg-shaped table layout on plain Parquet, no runtime jar.

No Iceberg jar ships in this environment (SURVEY.md §0), so the engine
emulates the parts the north rule needs (``BASELINE.json:14``): snapshot
manifests, atomic commits, append/overwrite semantics, and time-travel-ish
snapshot reads — enough for resumable batch jobs with per-partition lineage.

Layout:
    table_dir/
      data/<commit_uuid>/part-*.parquet     (immutable once committed)
      _manifests/snap-00000001.json          (file list + row counts + schema)
      _manifests/CURRENT                     (atomic pointer, rename-committed)

Commit protocol: data is written to a fresh uuid dir (never overwritten),
the manifest is written to a temp name and os.rename'd into place, then
CURRENT is swapped by rename — readers always see a complete snapshot.
On a real deployment this maps 1:1 onto Iceberg append/overwrite commits.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class IceTable:
    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------
    def _current_snapshot(self) -> dict | None:
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            name = f.read().strip()
        with open(os.path.join(self.manifest_dir, name)) as f:
            return json.load(f)

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
        snap_id = (parent["snapshot_id"] + 1) if parent else 1
        manifest = {
            "snapshot_id": snap_id,
            "parent": parent["snapshot_id"] if parent else None,
            "operation": operation,
            "files": files,
            "added": added if added is not None else files,
            "meta": meta or {},
            "schema": schema,
        }
        name = f"snap-{snap_id:08d}.json"
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(self.manifest_dir, name))
        cur_tmp = os.path.join(self.manifest_dir, f".cur-{uuid.uuid4().hex}")
        with open(cur_tmp, "w") as f:
            f.write(name)
        os.rename(cur_tmp, os.path.join(self.manifest_dir, "CURRENT"))
        return manifest

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

    def committed_meta_values(self, key: str) -> set:
        """All values of ``meta[key]`` across committed snapshots — the
        idempotency lookup for streaming sinks (skip replayed batch ids).

        A snapshot counts as committed only once CURRENT has reached it: a
        kill between the manifest rename and the CURRENT swap leaves a
        ``snap-N.json`` with N above the current id, which the next commit
        overwrites — its meta must not mark that batch as done."""
        cur = self._current_snapshot()
        if cur is None:
            return set()
        out = set()
        for name in self.snapshots():
            with open(os.path.join(self.manifest_dir, name)) as f:
                m = json.load(f)
            if m["snapshot_id"] > cur["snapshot_id"]:
                continue
            v = (m.get("meta") or {}).get(key)
            if v is not None:
                out.add(v)
        return out

    def rollback_uncommitted_units(self, job_id: str, done_units: set[str]) -> int:
        """Exactly-once repair: drop files added by append commits tagged with
        (job_id, unit) whose unit never reached 'done' lineage — the window
        where a crash fell between data-append and lineage-append. Returns
        the number of orphaned commits pruned (0 = nothing to repair)."""
        cur = self._current_snapshot()
        if cur is None:
            return 0
        orphan_files: set[str] = set()
        n = 0
        for name in self.snapshots():
            with open(os.path.join(self.manifest_dir, name)) as f:
                m = json.load(f)
            meta = m.get("meta") or {}
            if (
                m.get("operation") == "append"
                and meta.get("job_id") == job_id
                and meta.get("unit") is not None
                and meta["unit"] not in done_units
            ):
                orphan_files.update(m.get("added", []))
                n += 1
        if not orphan_files:
            return 0
        kept = [f for f in cur["files"] if f not in orphan_files]
        self._commit(kept, cur["schema"], "rollback", cur, added=[], meta={"job_id": job_id})
        return n

    # -- read -------------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is None:
            snap = self._current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"empty icelite table at {self.path}")
        else:
            with open(os.path.join(self.manifest_dir, f"snap-{snapshot_id:08d}.json")) as f:
                snap = json.load(f)
        if not snap["files"]:
            # stored schema is df.schema.json() — reconstruct the StructType
            # (createDataFrame does not accept schema-JSON strings)
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(snap["schema"]))
            )
        return spark.read.parquet(*snap["files"])
