"""SparkSession builder with the engine's standard configuration.

The confs encode the scale posture from SURVEY.md §4.2: AQE on (runtime
re-planning + skew-join splitting), Arrow on (vectorized pandas UDF
boundary), bounded Arrow batches (UDF memory stays flat regardless of
partition size), and an explicit shuffle-partition default sized for the
local harness (overridable for cluster runs via ``confs``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

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


def iter_checkpoint(df, release=None):
    """Lineage cut for iterative operators (ring expansion, min-label
    propagation). The session's checkpoint directory picks the kind:

    - a directory is set (``SparkContext.setCheckpointDir`` or the
      ``spark.checkpoint.dir`` conf): a reliable ``checkpoint``, written
      under it, which survives executor loss on a cluster. Spark deletes
      those files only when
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
    is the correct contract for a dead round. Best-effort: a frame that was
    never checkpointed is a silent no-op."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
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
    return df.sparkSession.read.parquet(path)
