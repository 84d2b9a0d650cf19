"""Plan building stays on the driver: building a registry query's plan
starts no Spark job, ``read_parquet`` gives the schema Spark's own
inference would, PySpark's call-site capture is off, and every
driver-built table is an Arrow ``LocalRelation`` (``local_df``), never an
RDD of pickled rows."""

import ast
import datetime
import decimal
import math
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pytest

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

from gaia_spark.operators.spatial_join import ZoneIndex
from gaia_spark.queries import REGISTRY
from gaia_spark.session import local_df, read_parquet
from gaia_spark.sources.icelite import IceTable
from gaia_spark.synth import synth_zones_pdf

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


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_built_tables_are_local_relations(spark):
    """The zone cover and zone table, and every interactive query's plan,
    read driver-built tables as a LocalRelation: no LogicalRDD of pickled
    rows that each execution unpickles again."""
    index = ZoneIndex.build(synth_zones_pdf())
    for df in (index.cover_df(spark), index.zone_df(spark)):
        assert _optimized_plan(df).startswith("LocalRelation")
    with_rdd = [q for q in INTERACTIVE if "LogicalRDD" in _optimized_plan(REGISTRY[q].spark(spark, SF_DIR))]
    assert with_rdd == []


def _bits(x):
    return None if x is None else float(x).hex()


def test_local_df_round_trip(spark):
    """The crawl zone cover round-trips bit-exact: every edge double, the
    null edges of rect cover rows. NaN stays NaN and None stays null, and
    empty input keeps its schema."""
    index = ZoneIndex.build(synth_zones_pdf())
    got = sorted(index.cover_df(spark).collect(), key=lambda r: (r.zone_id, r.cell))
    want = index.cover_pdf.sort_values(["zone_id", "cell"])
    assert len(got) == len(want) and set(want["kind"]) == {"rect", "poly"}
    for r, w in zip(got, want.itertuples(index=False)):
        assert (r.zone_id, r.cell, r.full, r.kind) == (w.zone_id, w.cell, w.full, w.kind)
        assert [_bits(getattr(r, c)) for c in ("min_lat", "min_lon", "max_lat", "max_lon")] == [
            _bits(getattr(w, c)) for c in ("min_lat", "min_lon", "max_lat", "max_lon")
        ]
        if w.kind == "rect":
            assert r.edges is None
        else:
            assert [tuple(map(_bits, e)) for e in r.edges] == [
                tuple(_bits(e[k]) for k in ("y1", "x1", "y2", "x2")) for e in w.edges
            ]

    rows = local_df(spark, [(1, float("nan"), "a"), (2, None, None)], "k long, v double, s string")
    got = sorted(rows.collect())
    assert math.isnan(got[0].v) and got[1].v is None and got[1].s is None
    pdf = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, float("nan")], "extra": ["x", "y"]})
    got = sorted(local_df(spark, pdf, "v double, k long").collect(), key=lambda r: r.k)
    assert [r.k for r in got] == [1, 2] and got[0].v == 0.1 + 0.2 and math.isnan(got[1].v)

    schema = "zone_id long, edges array<struct<y1:double,x1:double,y2:double,x2:double>>"
    for empty in ([], pd.DataFrame({"zone_id": [], "edges": []})):
        df = local_df(spark, empty, schema)
        assert df.collect() == []
        assert df.schema == spark.createDataFrame([], schema).schema


def test_local_df_refuses_unconvertible_values(spark):
    """A value its column cannot hold raises; there is no fallback to
    pickled rows (Spark's Arrow fallback conf is at its default, on)."""
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.fallback.enabled") == "true"
    with pytest.raises(pa.ArrowInvalid):
        local_df(spark, [(1, "not a number")], "k long, v double")
    with pytest.raises(pa.ArrowInvalid):
        local_df(spark, pd.DataFrame({"k": [1], "v": ["x"]}), "k long, v double")
    with pytest.raises(pa.ArrowInvalid):
        local_df(spark, [(2**40,)], "zoom int")
    with pytest.raises(ValueError):
        local_df(spark, [(1, 2.0), (3,)], "k long, v double")


def _calls(tree: ast.AST, attr: str):
    """(enclosing function name, line) of every ``.attr(...)`` call."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute) and child.func.attr == attr:
                out.append((name, child.lineno))
            walk(child, name)

    walk(tree, None)
    return out


def test_only_local_df_calls_create_dataframe():
    """Every driver-built table goes through session.local_df: no other
    function under gaia_spark/ calls createDataFrame."""
    pkg = os.path.join(ROOT, "gaia_spark")
    found = []
    for dirpath, _, names in os.walk(pkg):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                rel = os.path.relpath(path, ROOT)
                found += [(rel, fn, line) for fn, line in _calls(tree, "createDataFrame")]
    assert {(rel, fn) for rel, fn, _ in found} == {("gaia_spark/session.py", "local_df")}, found
