"""Resumable batch execution with per-partition lineage + metrics.

North-rule requirement (``BASELINE.json:14``): "resumable from checkpoint
with per-partition lineage + metrics". A job is split into named UNITS
(e.g. warc_ts days or url-hash buckets); each unit's output is ONE atomic
icelite append, and that append's manifest is the unit's lineage record:
    meta = (job_id, unit, started_unix, added_rows)
    + the manifest's snapshot_id and timestamp_ms (the finish time)
On restart, units with a committed record are skipped and only the
remainder recomputes — unit processing must be deterministic (everything in
this engine is), so reruns are idempotent. A kill before the CURRENT swap
leaves no committed record, so that unit simply runs again.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gaia_spark.sources.icelite import IceTable


class ResumableJob:
    def __init__(
        self, spark: SparkSession, job_id: str, output: IceTable, _legacy_lineage=None
    ):
        # the fourth argument was a separate lineage table; older callers
        # still pass it positionally, and it is never read or written
        self.spark = spark
        self.job_id = job_id
        self.output = output

    def units(self) -> dict[str, dict]:
        """Lineage of this job's committed units: ``{unit: record}`` with
        the record as :meth:`IceTable.committed_meta` returns it. Reads
        manifests only — no Spark job."""
        return {
            m["unit"]: m
            for m in self.output.committed_meta()
            if m.get("job_id") == self.job_id and "unit" in m
        }

    def done_units(self) -> set[str]:
        return set(self.units())

    def run(
        self,
        units: list[str],
        process: Callable[[SparkSession, str], DataFrame],
        fail_after: int | None = None,
    ) -> dict:
        """Process every not-yet-done unit; each unit = one atomic append
        whose manifest records it. ``fail_after`` aborts after N units —
        the crash-injection hook for resumability tests."""
        done = self.done_units()
        pending = [u for u in units if u not in done]
        processed = 0
        for unit in pending:
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} units")
            meta = {"job_id": self.job_id, "unit": unit, "started_unix": time.time()}
            # ONE execution per unit: append() writes the data and records the
            # row count from the parquet footers in the commit manifest — a
            # separate count() action would re-run the whole unit plan.
            self.output.append(process(self.spark, unit), meta=meta)
            processed += 1
        return {"processed": processed, "skipped": len(units) - len(pending)}
