"""Structured Streaming ingest for the pages table (SURVEY.md §2.K).

The reference is batch-only; streaming is this engine's extension for
incremental crawling. Patterns covered: file-source ingest with the pages
schema, watermarked windowed aggregation per cell, stateful URL dedup within
the watermark, and exactly-once icelite sinks via foreachBatch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.functions import portable
from gaia_spark.synth import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """Incremental pages ingest: new parquet files under ``path`` become
    micro-batches (the S3-drop / crawler-output pattern)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(path)


def stream_cell_counts(
    pages: DataFrame,
    res: int = 6,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-cell page rate over tumbling event-time windows; late pages beyond
    the watermark are dropped from the aggregation (still appendable to the
    base table by the ingest sink)."""
    from gaia_spark.functions.geoparse import geoparse

    pts = geoparse(pages).where(F.col("lat").isNotNull())
    pts = pts.withColumn("cell", F.expr(portable.cell_id_sql("lat", "lon", res)))
    return (
        pts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("cell"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("win_start"), "cell", "n_pages")
    )


def stream_session_windows(
    pages: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-host session windows over the page stream: consecutive pages from
    the same host within ``gap`` merge into one session (SURVEY.md §2.K
    session windows). State is bounded by the watermark."""
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    return (
        pages.select(host, "warc_ts")
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("w"), F.col("host"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "host",
            "n_pages",
        )
    )


def stream_dedup_urls(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup: first sighting of each url wins within the watermark
    horizon (bounded state — the crawl-frontier dedup pattern)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(["url"])


def write_stream_batch(table, batch_df: DataFrame, batch_id: int) -> bool:
    """Idempotent micro-batch append: skip when this batch id already has a
    committed manifest (checkpoint replay after a crash). Returns True when
    the batch was appended, False when skipped as a duplicate."""
    if any(m.get("stream_batch") == batch_id for m in table.committed_meta()):
        return False
    table.append(batch_df, meta={"stream_batch": batch_id})
    return True


def stream_to_icelite(df: DataFrame, table_path: str, checkpoint: str, trigger_once: bool = True):
    """Exactly-once sink: each micro-batch is one atomic icelite append.

    Idempotency is DURABLE, not in-process: the batch id is recorded in the
    commit manifest and consulted from the manifests on every call, so a
    crash/restart that replays the in-flight batch from the checkpoint skips
    the already-committed append instead of duplicating rows."""
    from gaia_spark.sources.icelite import IceTable

    table = IceTable(table_path)

    def write_batch(batch_df: DataFrame, batch_id: int):
        write_stream_batch(table, batch_df, batch_id)

    writer = df.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_spatial_join(
    pages: DataFrame,
    index,
    predicate: str = "within",
) -> DataFrame:
    """Stream-static spatial join: geoparse each micro-batch of pages and
    assign zones from the broadcast zone index — the streaming flagship
    (incremental crawl → live zone enrichment).

    Stateless by construction: geoparse is a JVM ``regexp_extract`` over
    each row's text and the batch
    :func:`~gaia_spark.operators.spatial_join.spatial_join` inner
    path is candidate-join + filter (no aggregation, no dedup), so the
    same operator runs unchanged on a streaming DataFrame with the zone
    cover as the static broadcast side. No watermark needed — output rows
    depend only on their own micro-batch. Micro-batch results are
    byte-identical to running the batch join on the same input
    (pytest-asserted parity).

    Only ``how='inner'`` semantics: semi/anti need cross-row state
    (dropDuplicates) that a stream would have to watermark — use
    the batch operator for those.
    """
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import spatial_join

    pts = geoparse(pages).where(F.col("lat").isNotNull())
    return spatial_join(pts, index, predicate, how="inner")


def stream_stream_join(
    pages: DataFrame,
    events: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join: each page row matched with event rows for
    the same url whose event time falls within ``[page_ts, page_ts +
    within]`` (the crawl→click attribution shape). Both sides carry
    watermarks and the join condition bounds event_ts relative to
    page_ts on both ends, so Spark can expire buffered state — an
    unbounded stream-stream join would grow state forever.

    ``events`` schema: (url string, event_ts timestamp, kind string).
    """
    p = pages.select("url", "warc_ts").withWatermark("warc_ts", watermark)
    e = (
        events.select(F.col("url").alias("e_url"), "event_ts", "kind")
        .withWatermark("event_ts", watermark)
    )
    return p.join(
        e,
        F.expr(
            f"url = e_url AND event_ts >= warc_ts "
            f"AND event_ts <= warc_ts + interval {within}"
        ),
        "inner",
    ).select("url", "warc_ts", "event_ts", "kind")


def stream_kde_grid(
    pages: DataFrame,
    res: int,
    bandwidth_m: float,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    cutoff: float = 3.0,
) -> DataFrame:
    """Live density heatmap: geoparse each micro-batch, scatter points onto
    reachable grid cells (the SAME in-plan explode as the batch
    interpolate.scatter_to_grid — stateless, join-free), then a watermarked
    event-time-windowed aggregate sums the Gaussian kernel per (window,
    cell). State is bounded by watermark × raster width; late pages beyond
    the watermark are dropped, within it they update their window's cells.
    Batch parity: summing a window's density over micro-batches equals the
    batch kde_grid over the same rows (pytest-asserted)."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.interpolate import kde_weight_sql, scatter_to_grid

    pts = geoparse(pages).where(F.col("lat").isNotNull())
    sc = scatter_to_grid(pts, res, float(bandwidth_m) * cutoff)
    return (
        sc.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "cell")
        .agg(
            F.count("*").alias("n_src"),
            F.sum(F.expr(kde_weight_sql("dist_m", bandwidth_m))).alias("density"),
        )
    )
