"""Plan building stays on the driver: building a registry query's plan
starts no Spark job, ``read_parquet`` gives the schema Spark's own
inference would, and PySpark's call-site capture is off."""

import datetime
import decimal
import os
import subprocess
import sys

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from gaia_spark.queries import REGISTRY
from gaia_spark.session import read_parquet
from gaia_spark.sources.icelite import IceTable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(ROOT, "perfbench", "sf0.001")

# the twelve registry queries of perfbench's interactive_ops workload
INTERACTIVE = [
    "q_within_join", "q_zonal_stats", "q_knn3", "q_near_500km", "q_tile_pyramid",
    "q_geoparse", "q_poly_intersects_join", "q_kde_grid", "q_disjoint_count",
    "q_touches", "q_cell_multires", "q_feature_knn3",
]


def test_plan_building_starts_no_job(spark):
    """Each query's plan is built under its own job group, and no job of
    that group starts before an action: no schema inference, no probe."""
    sc = spark.sparkContext
    started = {}
    for q in INTERACTIVE:
        group = f"plan-{q}"
        sc.setJobGroup(group, f"plan build of {q}")
        try:
            REGISTRY[q].spark(spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        started[q] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert started == dict.fromkeys(INTERACTIVE, 0)


def test_read_parquet_schema_matches_inference_on_tables(spark):
    """pandas/DuckDB-written tables: the Arrow mapping with
    ``prefer_timestamp_ntz`` gives Spark's inferred schema."""
    names = sorted(n for n in os.listdir(SF_DIR) if n.endswith(".parquet"))
    assert len(names) == 10
    for n in names:
        p = os.path.join(SF_DIR, n)
        assert read_parquet(spark, p).schema == spark.read.parquet(p).schema, n


_TYPED = StructType([
    StructField("ts", TimestampType()),
    StructField("ts_ntz", TimestampNTZType()),
    StructField("price", DecimalType(15, 2)),
    StructField("day", DateType()),
    StructField("ring", ArrayType(StructType([
        StructField("lat", DoubleType()), StructField("lon", DoubleType()),
    ]))),
    StructField("tags", MapType(StringType(), LongType())),
    StructField("blob", BinaryType(), nullable=False),
])


def _typed_df(spark, k: int):
    return spark.createDataFrame(
        [
            (
                datetime.datetime(2020, 1, 2, 3, 4, 5 + i),
                datetime.datetime(2021, 6, 7, 8, 9, i),
                decimal.Decimal(f"{k}{i}.25"),
                datetime.date(2020, 1, 1 + i),
                [(1.5 * i, -2.0), (3.0, 4.5)],
                {"a": i, "b": k},
                bytearray(b"xy" * i),
            )
            for i in range(3)
        ],
        _TYPED,
    )


def test_read_parquet_schema_matches_inference_on_spark_written(spark, tmp_path):
    """A Spark-written table (INT96 timestamp, timestamp_ntz, decimal,
    date, array of structs, map, binary): the footer's Spark schema gives
    the inferred schema and the same rows."""
    path = str(tmp_path / "typed")
    _typed_df(spark, 1).write.parquet(path)
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_read_parquet_leaves_unsettled_footers_to_spark(spark, tmp_path):
    """A non-Spark INT96 timestamp (Spark: timestamp, Arrow: no zone) and
    an unsigned integer (no Arrow mapping) get Spark's inferred schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "legacy.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([1_600_000_000_000_000, 0], pa.timestamp("us")),
            "n": pa.array([1, 2], pa.uint32()),
        }),
        path,
        use_deprecated_int96_timestamps=True,
    )
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_icetable_read_uses_manifest_schema(spark, tmp_path):
    """IceTable.read takes its schema from the manifest: same schema and
    rows as inferring it from the snapshot's files, now and at time
    travel."""
    t = IceTable(str(tmp_path / "t"))
    t.append(_typed_df(spark, 1))
    t.append(_typed_df(spark, 2))
    for sid in (None, 1):
        snap = t._load(f"snap-{sid or 2:08d}.json")
        got, want = t.read(spark, sid), spark.read.parquet(*snap["files"])
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    assert t.read(spark).count() == 6


_CALL_SITE_SCRIPT = """
from pyspark.errors.utils import is_debugging_enabled
from gaia_spark.session import get_session

spark = get_session("local[1]")
spark.range(3).selectExpr("id + 1 AS x").collect()
assert is_debugging_enabled() is False
print("OK")
"""


def test_call_site_capture_off_in_fresh_interpreter():
    """PySpark caches is_debugging_enabled() for the whole process the
    first time a DataFrame call asks it with an active session, so check it
    in a fresh interpreter whose session get_session() built."""
    proc = subprocess.run(
        [sys.executable, "-c", _CALL_SITE_SCRIPT],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().endswith("OK")
