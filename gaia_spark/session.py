"""SparkSession builder with the engine's standard configuration.

The confs encode the scale posture from SURVEY.md §4.2: AQE on (runtime
re-planning + skew-join splitting), Arrow on (vectorized pandas UDF
boundary), bounded Arrow batches (UDF memory stays flat regardless of
partition size), and an explicit shuffle-partition default sized for the
local harness (overridable for cluster runs via ``confs``).

Building a query plan is interactive work, so two defaults keep it off the
py4j boundary and off the cluster:

- PySpark's DataFrame call-site capture is off
  (``spark.python.sql.dataFrameDebugging.enabled``). With it on, every
  DataFrame and Column call makes extra py4j round trips to record the
  Python call site (``q_within_join``: 768 round trips to build its plan
  against 241 without). The cost: an ``AnalysisException``'s DataFrame
  query context no longer names the Python file and line; its error class
  and message are unchanged.
- :func:`read_parquet` takes a table's schema from its Parquet footer, so
  opening a table starts no schema-inference Spark job.

Every table the driver builds itself (zone covers, site lists, rule
tables) goes through :func:`local_df`: an Arrow ``LocalRelation``, never an
RDD of pickled rows that each execution unpickles again.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    # Broadcast anything under 64 MB: zone covers / site lists are small
    # dimensions next to a pages fact table (SURVEY.md §2.C).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # long multi-query sessions accumulate localCheckpoint/broadcast blocks;
    # the ContextCleaner only reaps them after a JVM GC notices the refs are
    # dead — hourly-scale default is far too lazy for a 150-query session
    "spark.cleaner.periodicGC.interval": "1min",
    # no Python call-site capture per DataFrame/Column call (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_session(
    master: str | None = None,
    app_name: str = "gaia_spark",
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    merged = dict(DEFAULT_CONFS)
    if confs:
        merged.update(confs)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, data, schema: StructType | str) -> DataFrame:
    """A driver-built table as a Spark ``LocalRelation``, built through Arrow.

    ``data`` is a pandas frame (columns taken by the schema's field names,
    extra columns ignored) or a list of row tuples (fields by position).
    ``schema`` is a ``StructType`` or a DDL string.

    ``spark.createDataFrame(rows, schema)`` makes a ``LogicalRDD`` of pickled
    Python rows, and the JVM unpickles them again on every execution (on a
    4-core local session, warm: the registry's 894-row zone cover collects
    in about 490 ms that way, 20-50 ms as a ``LocalRelation``). Here each
    column converts to the Arrow type of its Spark field and the Arrow
    table is handed to Spark, which keeps it as a ``LocalRelation`` up to
    ``spark.sql.execution.arrow.localRelationThreshold``.

    Conversion is strict and has no fallback: a value the field's type
    cannot hold (a string in a double column, an int out of range) raises
    ``pyarrow.ArrowInvalid``. NaN stays NaN and None is null, as in the
    pickled rows. (``createDataFrame(pandas_df)`` would turn NaN into null
    and, with ``spark.sql.execution.arrow.pyspark.fallback.enabled``, fall
    back to pickled rows when Arrow conversion fails.)
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    if len(data) == 0:
        table = arrow.empty_table()
    else:
        if isinstance(data, pd.DataFrame):
            columns = [data[name] for name in struct.names]
        else:
            rows = [tuple(r) for r in data]
            if any(len(r) != len(arrow) for r in rows):
                raise ValueError(f"every row needs {len(arrow)} fields for {struct.simpleString()}")
            columns = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(col, type=field.type, from_pandas=False) for col, field in zip(columns, arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(table, struct)


def iter_checkpoint(df, release=None):
    """Lineage cut for iterative operators (ring expansion, min-label
    propagation). The session's checkpoint directory picks the kind:

    - a directory is set (``SparkContext.setCheckpointDir`` or the
      ``spark.checkpoint.dir`` conf): a reliable ``checkpoint``, written
      under it, which survives executor loss on a cluster. A released
      round's files are deleted by :func:`release_checkpoint`; Spark
      deletes the others only when
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on;
    - no directory: ``localCheckpoint`` — cheapest, but its blocks live on
      executors and are lost with them, which fails the job mid-iteration.

    ``release``: the PREVIOUS round's checkpointed DataFrame, unpersisted
    once the new checkpoint has materialized (eager=True guarantees the
    new blocks no longer reference the old ones). Round-loop operators
    pass their superseded state here so a k-round iteration holds one
    round of blocks, not k — without it a long multi-query session slowly
    fills executor storage with dead checkpoint blocks.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    if release is not None:
        release_checkpoint(release)
    return out


def release_checkpoint(df) -> None:
    """Free a SUPERSEDED checkpoint's storage blocks. DataFrame.unpersist()
    does NOT reach localCheckpoint blocks (they are cached on the internal
    RDD, not via the catalog cache manager) — free the LogicalRDD's RDD
    directly. Verified: storage block count drops to 0 and later use of the
    released frame fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), which
    is the correct contract for a dead round. A reliable checkpoint's files
    under the checkpoint directory are deleted too, so a k-round iteration
    keeps one round of them on disk, not k. Best-effort: a frame that was
    never checkpointed is a silent no-op."""
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.unpersist(False)
        ckpt = rdd.getCheckpointFile()
        if ckpt.isDefined():
            sc = df.sparkSession.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    except Py4JError:
        pass


def sever_lineage(df, path: str):
    """Parquet write/read roundtrip — the only lineage cut that also drops
    the RETAINED JVM object graph. Measured in round 5: an iterative loop
    whose per-round plan references its predecessor >= 2-3 times grows
    per-job overhead ~3x per round even through localCheckpoint/checkpoint
    (a 4-row join hit 142 s by round 13); a parquet roundtrip every few
    rounds keeps rounds flat (62-round contraction: 243 s total). Use for
    any doubling/propagation loop beyond ~8 rounds; ``path`` must be
    shared storage on a real cluster. Callers delete the path once the
    downstream result has materialized."""
    df.write.mode("overwrite").parquet(path)
    return read_parquet(df.sparkSession, path)


# the key under which Spark writes its own schema into a Parquet footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark infers a Parquet schema with a one-task job on every read; this
    reads the footer of the first data file on the driver instead and
    hands Spark the schema (on a 4-core local session: about 100 ms per
    read with inference, 15 ms with the footer schema).
    The schema comes from one of two sources, and each is needed to match
    what Spark itself would infer:

    - Spark-written files carry Spark's own schema in the footer
      (``org.apache.spark.sql.parquet.row.metadata``); Spark's inference
      uses it too. The Arrow mapping alone would turn Spark's INT96
      ``timestamp`` into ``timestamp_ntz``.
    - other files (pandas, DuckDB) get the Arrow mapping of the Parquet
      schema with ``prefer_timestamp_ntz``: a timestamp without a time
      zone is ``timestamp_ntz`` to Spark, and plain ``timestamp`` without
      that flag.

    The footer is read on every call, so a rewritten table is never read
    with a stale schema. Spark's own inference still serves what the
    footer cannot settle: a path on another file system, a directory with
    nested (partitioned) data or with no data file, a non-Spark INT96
    column (Spark reads it as ``timestamp``, Arrow as one without a zone)
    and types the Arrow mapping does not convert (unsigned integers).
    """
    first = _first_data_file(path)
    schema = _footer_schema(first) if first is not None else None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(file: str) -> StructType | None:
    """Spark's schema for a Parquet file from its footer alone, or None
    when only Spark's inference can settle it (see :func:`read_parquet`)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.read_metadata(file)
    spark_json = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    if any(footer.schema.column(i).physical_type == "INT96" for i in range(len(footer.schema))):
        return None
    try:
        return from_arrow_schema(footer.schema.to_arrow_schema(), prefer_timestamp_ntz=True)
    except TypeError:
        return None


def _first_data_file(path: str) -> str | None:
    """The local Parquet file whose footer Spark's inference would read:
    ``path`` itself, or the first data file by name directly inside the
    directory ``path`` (``_`` and ``.`` files are not data). None when the
    path is not local, holds sub-directories or holds no data file."""
    if "://" in path:
        return None
    if os.path.isfile(path):
        return path
    try:
        entries = sorted(os.scandir(path), key=lambda e: e.name)
    except OSError:
        return None
    if any(e.is_dir() for e in entries):
        return None
    return next((e.path for e in entries if not e.name.startswith(("_", "."))), None)
