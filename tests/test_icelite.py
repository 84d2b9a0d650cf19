"""icelite snapshots + resumable-job exactly-once semantics (SURVEY.md §7 M5)."""

import pytest

from gaia_spark.sources.icelite import IceTable
from gaia_spark.sources.lineage import ResumableJob


def make_tables(tmp_path):
    return IceTable(str(tmp_path / "out")), IceTable(str(tmp_path / "lineage"))


def process(spark, unit):
    # deterministic per-unit output: 10 rows keyed by the unit
    return spark.range(10).selectExpr(f"'{unit}' AS unit", "id AS v")


UNITS = [f"day-{i}" for i in range(6)]


def test_snapshot_append_and_time_travel(spark, tmp_path):
    t = IceTable(str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id AS v"))
    t.append(spark.range(3).selectExpr("id + 100 AS v"))
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=1).count() == 5  # time travel
    t.overwrite(spark.range(2).selectExpr("id AS v"))
    assert t.read(spark).count() == 2
    assert len(t.snapshots()) == 3


def test_resume_skips_done_units(spark, tmp_path):
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "job1", out, lin)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(UNITS, process, fail_after=3)
    assert out.read(spark).count() == 30
    assert job.done_units() == set(UNITS[:3])

    stats = job.run(UNITS, process)  # resume
    assert stats == {"processed": 3, "skipped": 3}
    final = out.read(spark)
    assert final.count() == 60
    assert {r.unit for r in final.select("unit").distinct().collect()} == set(UNITS)
    # rerun is a no-op
    assert job.run(UNITS, process) == {"processed": 0, "skipped": 6}
    assert out.read(spark).count() == 60


def test_crash_between_data_and_lineage_is_rolled_back(spark, tmp_path):
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "job2", out, lin)
    # simulate torn commit: data appended with unit meta, lineage missing
    out.append(process(spark, "day-0"), meta={"job_id": "job2", "unit": "day-0"})
    assert out.read(spark).count() == 10
    stats = job.run(UNITS, process)
    assert stats["processed"] == 6  # day-0 recomputed, orphan pruned
    assert out.read(spark).count() == 60  # NOT 70 — exactly-once held


def test_resume_output_equals_oneshot(spark, tmp_path):
    out1, lin1 = make_tables(tmp_path / "a")
    ResumableJob(spark, "j", out1, lin1).run(UNITS, process)
    out2, lin2 = make_tables(tmp_path / "b")
    job2 = ResumableJob(spark, "j", out2, lin2)
    with pytest.raises(RuntimeError):
        job2.run(UNITS, process, fail_after=2)
    job2.run(UNITS, process)
    a = {tuple(r) for r in out1.read(spark).collect()}
    b = {tuple(r) for r in out2.read(spark).collect()}
    assert a == b


def test_unit_plan_executes_exactly_once(spark, tmp_path):
    """run() must not re-execute a unit's plan to count rows (the old
    count()-then-append pattern doubled every unit's work)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    bump_udf = F.udf(bump, LongType())

    def counted_process(spark_, unit):
        return spark_.range(10).select(F.lit(unit).alias("unit"), bump_udf("id").alias("v"))

    out, lin = make_tables(tmp_path)
    ResumableJob(spark, "job_once", out, lin).run(["u0", "u1"], counted_process)
    assert acc.value == 20  # 2 units x 10 rows, each row evaluated ONCE
    lrows = {r.unit: r.output_rows for r in lin.read(spark).collect()}
    assert lrows == {"u0": 10, "u1": 10}  # manifest-sourced counts are right


def test_empty_snapshot_read_preserves_schema(spark, tmp_path):
    """A rollback that prunes every file must still read back as an empty
    DataFrame with the ORIGINAL schema (StructType reconstructed from the
    manifest's schema json)."""
    t = IceTable(str(tmp_path / "t_empty"))
    t.append(
        spark.range(3).selectExpr("id AS v", "'x' AS s"),
        meta={"job_id": "j", "unit": "day-9"},
    )
    assert t.rollback_uncommitted_units("j", done_units=set()) == 1
    df = t.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema] == ["v", "s"]


def test_stream_batch_replay_is_skipped(spark, tmp_path):
    """Checkpoint replay after a crash re-delivers the in-flight batch id to
    a FRESH process; the durable manifest record must dedupe it."""
    from gaia_spark.streaming.ingest import write_stream_batch

    path = str(tmp_path / "stream_t")
    t1 = IceTable(path)
    batch = spark.range(7).selectExpr("id AS v")
    assert write_stream_batch(t1, batch, 0) is True
    # new table handle = simulated process restart (no in-memory state)
    t2 = IceTable(path)
    assert write_stream_batch(t2, batch, 0) is False  # replayed id skipped
    assert write_stream_batch(t2, batch, 1) is True
    assert t2.read(spark).count() == 14


def test_stream_batch_orphan_manifest_is_replayed(spark, tmp_path):
    """A kill between the manifest rename and the CURRENT swap leaves a
    snap-N.json that CURRENT never pointed to. Its batch id is NOT
    committed: the replay must append, and its rows must be readable."""
    import json
    import os

    from gaia_spark.streaming.ingest import write_stream_batch

    path = str(tmp_path / "stream_orphan")
    t = IceTable(path)
    assert write_stream_batch(t, spark.range(7).selectExpr("id AS v"), 0) is True
    orphan = {
        "snapshot_id": 2, "parent": 1, "operation": "append", "files": [],
        "added": [], "meta": {"stream_batch": 1}, "schema": "",
    }
    with open(os.path.join(t.manifest_dir, "snap-00000002.json"), "w") as f:
        json.dump(orphan, f)

    t2 = IceTable(path)  # restarted process replays batch 1
    assert write_stream_batch(t2, spark.range(5).selectExpr("id + 100 AS v"), 1) is True
    got = sorted(r.v for r in t2.read(spark).collect())
    assert got == list(range(7)) + list(range(100, 105))
