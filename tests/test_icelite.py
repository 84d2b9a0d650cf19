"""icelite snapshots + resumable-job exactly-once semantics (SURVEY.md §7 M5)."""

import json
import os

import pytest

from gaia_spark.sources.icelite import IceTable
from gaia_spark.sources.lineage import ResumableJob


def process(spark, unit):
    # deterministic per-unit output: 10 rows keyed by the unit
    return spark.range(10).selectExpr(f"'{unit}' AS unit", "id AS v")


UNITS = [f"day-{i}" for i in range(6)]


def rows(spark, table):
    return sorted(tuple(r) for r in table.read(spark).collect())


def oneshot_rows(spark, tmp_path):
    out = IceTable(str(tmp_path / "oneshot"))
    ResumableJob(spark, "oneshot", out).run(UNITS, process)
    return rows(spark, out)


def append_killed_before_current_swap(monkeypatch, table, df, meta=None):
    """Run a real append that dies between the manifest rename and the
    CURRENT swap: the data files and ``snap-N.json`` land, CURRENT does not
    move. Returns the files the torn append wrote."""
    rename = os.rename

    def killed_rename(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise RuntimeError("killed before the CURRENT swap")
        rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", killed_rename)
        with pytest.raises(RuntimeError, match="killed before the CURRENT swap"):
            table.append(df, meta=meta)
    with open(os.path.join(table.manifest_dir, table.snapshots()[-1])) as f:
        return json.load(f)["added"]


def test_snapshot_append_and_time_travel(spark, tmp_path):
    t = IceTable(str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id AS v"))
    t.append(spark.range(3).selectExpr("id + 100 AS v"))
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=1).count() == 5  # time travel
    t.overwrite(spark.range(2).selectExpr("id AS v"))
    assert t.read(spark).count() == 2
    assert len(t.snapshots()) == 3


def test_time_travel_refuses_uncommitted_snapshot(spark, tmp_path, monkeypatch):
    """A kill between the manifest rename and the CURRENT swap leaves a
    snap-N.json above CURRENT. Reading it by id would return rows that were
    never committed; the read must fail instead."""
    t = IceTable(str(tmp_path / "t_orphan"))
    t.append(spark.range(5).selectExpr("id AS v"))
    append_killed_before_current_swap(monkeypatch, t, spark.range(3).selectExpr("id + 100 AS v"))
    assert t.snapshots()[-1] == "snap-00000002.json"
    with pytest.raises(ValueError, match="not committed"):
        t.read(spark, snapshot_id=2)
    assert t.read(spark, snapshot_id=1).count() == 5
    assert t.read(spark).count() == 5


def test_resume_skips_done_units(spark, tmp_path):
    out = IceTable(str(tmp_path / "out"))
    job = ResumableJob(spark, "job1", out)
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


def test_kill_after_data_write_before_manifest(spark, tmp_path, monkeypatch):
    """Kill point (a): a unit's data directory is written but its manifest
    never is. The files are unreferenced, so the unit reruns and the table
    equals the one-shot run (60 rows, not 70)."""
    out = IceTable(str(tmp_path / "out"))
    commit = IceTable._commit

    def killed_commit(self, files, schema, operation, parent, added=None, meta=None):
        if meta["unit"] == "day-2":
            raise RuntimeError("killed before the manifest")
        return commit(self, files, schema, operation, parent, added, meta)

    with monkeypatch.context() as m:
        m.setattr(IceTable, "_commit", killed_commit)
        with pytest.raises(RuntimeError, match="killed before the manifest"):
            ResumableJob(spark, "job2", out).run(UNITS, process)
    assert len(os.listdir(os.path.join(out.path, "data"))) == 3  # day-2's dir is there
    assert len(out.snapshots()) == 2

    job = ResumableJob(spark, "job2", IceTable(out.path))  # restarted process
    assert job.done_units() == {"day-0", "day-1"}
    assert job.run(UNITS, process) == {"processed": 4, "skipped": 2}
    assert rows(spark, out) == oneshot_rows(spark, tmp_path)  # 60 rows, not 70


def test_kill_after_manifest_before_current_swap(spark, tmp_path, monkeypatch):
    """Kill point (b): a snap-N.json above CURRENT, carrying the unit's meta
    and real data files, was never committed. The unit reruns, the next
    commit takes its snapshot id, and the table equals the one-shot run."""
    out = IceTable(str(tmp_path / "out"))
    ResumableJob(spark, "job3", out).run(["day-1"], process)
    files = append_killed_before_current_swap(
        monkeypatch, out, process(spark, "day-0"), meta={"job_id": "job3", "unit": "day-0"}
    )
    assert out._load("snap-00000002.json")["meta"]["unit"] == "day-0"

    job = ResumableJob(spark, "job3", IceTable(out.path))  # restarted process
    assert job.done_units() == {"day-1"}
    assert job.run(UNITS, process) == {"processed": 5, "skipped": 1}
    assert rows(spark, out) == oneshot_rows(spark, tmp_path)  # 60 rows, not 70
    assert out._load("snap-00000002.json")["added"] != files


def test_legacy_rollback_snapshot_makes_unit_pending(spark, tmp_path):
    """Tables written with a separate lineage table could carry a
    ``rollback`` snapshot that pruned a unit's files. That unit's append
    record is still in the history, but its rows are gone: it is pending."""
    out = IceTable(str(tmp_path / "out"))
    job = ResumableJob(spark, "job4", out)
    job.run(UNITS, process)
    cur = out._current_snapshot()
    day3 = job.units()["day-3"]["snapshot_id"]
    pruned = set(out._load(f"snap-{day3:08d}.json")["added"])
    out._commit(
        [f for f in cur["files"] if f not in pruned], cur["schema"], "rollback", cur,
        added=[], meta={"job_id": "job4"},
    )
    assert out.read(spark).count() == 50
    assert job.done_units() == set(UNITS) - {"day-3"}
    assert job.run(UNITS, process) == {"processed": 1, "skipped": 5}
    assert rows(spark, out) == oneshot_rows(spark, tmp_path)


def test_done_units_starts_no_spark_job(spark, tmp_path):
    out = IceTable(str(tmp_path / "out"))
    job = ResumableJob(spark, "job5", out)
    job.run(UNITS[:3], process)
    sc = spark.sparkContext
    group = "done-units-probe"
    sc.setJobGroup(group, "done_units must read manifests only")
    try:
        assert job.done_units() == set(UNITS[:3])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_resume_output_equals_oneshot(spark, tmp_path):
    out1 = IceTable(str(tmp_path / "a"))
    ResumableJob(spark, "j", out1).run(UNITS, process)
    out2 = IceTable(str(tmp_path / "b"))
    job2 = ResumableJob(spark, "j", out2)
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

    job = ResumableJob(spark, "job_once", IceTable(str(tmp_path / "out")))
    job.run(["u0", "u1"], counted_process)
    assert acc.value == 20  # 2 units x 10 rows, each row evaluated ONCE
    lrows = {u: m["added_rows"] for u, m in job.units().items()}
    assert lrows == {"u0": 10, "u1": 10}  # manifest-sourced counts are right


def test_empty_snapshot_read_preserves_schema(spark, tmp_path):
    """A committed zero-row append (an empty unit) must read back as an
    empty DataFrame with the ORIGINAL schema."""
    t = IceTable(str(tmp_path / "t_empty"))
    t.append(
        spark.range(3).selectExpr("id AS v", "'x' AS s").where("v < 0"),
        meta={"job_id": "j", "unit": "day-9"},
    )
    assert t._current_snapshot()["meta"]["added_rows"] == 0
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


_WRITER_SCRIPT = """
import os, sys, time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StringType, StructField, StructType

from gaia_spark.sources.icelite import IceTable

path, writer, n, go = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
SCHEMA = StructType([StructField("tag", StringType())])


class Frame:
    # what IceTable.append uses of a DataFrame: write.parquet and schema
    schema = SCHEMA

    def __init__(self, tag):
        self.tag, self.write = tag, self

    def parquet(self, commit_dir):
        os.makedirs(commit_dir)
        time.sleep(0.005)  # the data write: the window a commit races in
        pq.write_table(pa.table({"tag": [self.tag]}), os.path.join(commit_dir, "part-0.parquet"))


table = IceTable(path)
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(n):
    table.append(Frame(f"{writer}-{i}"), meta={"writer": writer, "i": i})
print("OK")
"""


def test_concurrent_appends_lose_no_commit(spark, tmp_path):
    """Five processes (more than a 4-core box has cores) append to one
    table at once. Every append commits: the current snapshot lists all
    their files, each snapshot id is taken once and every commit record is
    there. The writers are fresh interpreters without a Spark session (a
    stand-in frame writes one-row Parquet files), so the commits race at
    the protocol's own speed."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path, go, n = str(tmp_path / "t"), str(tmp_path / "go"), 12
    writers = ("a", "b", "c", "d", "e")
    IceTable(path)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _WRITER_SCRIPT, path, w, str(n), go],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in writers
    ]
    try:
        with open(go, "w"):
            pass
        outs = [p.communicate(timeout=120) for p in procs]
    finally:
        for p in procs:
            p.kill()
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0 and out.strip() == "OK", err[-2000:]

    t = IceTable(path)
    cur = t._current_snapshot()
    total = len(writers) * n
    assert cur["snapshot_id"] == total
    assert len(t.snapshots()) == total
    assert len(cur["files"]) == len(set(cur["files"])) == total
    assert sorted((m["writer"], m["i"]) for m in t.committed_meta()) == sorted(
        (w, i) for w in writers for i in range(n)
    )
    want = sorted(f"{w}-{i}" for w in writers for i in range(n))
    assert sorted(r.tag for r in t.read(spark).collect()) == want
