"""Fluent engine facade — the programmatic entry point (SURVEY.md §3.2 E2').

Mirrors the reference's programmatic API (``VectorFileIO(...) →
WithinProcess(inputs=[a,b]).compute()``, ``[R] gaia/geo/processes_base.py ::
GaiaProcess``) as a lazy DataFrame-chaining wrapper: every method appends to
the same Catalyst plan; nothing runs until an action.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.functions.geoparse import geoparse
from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join, with_cell
from gaia_spark.operators.knn import knn_join_broadcast, near_join
from gaia_spark.operators.raster import point_tile_pyramid, with_tile
from gaia_spark.operators.zonal import zonal_stats
from gaia_spark.session import read_parquet


class GaiaFrame:
    """A lazily-planned feature set (DataFrame + fluent spatial verbs)."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- geometry derivation ------------------------------------------------
    def geoparse(self) -> "GaiaFrame":
        return GaiaFrame(geoparse(self.df))

    def encode(self, resolutions: tuple[int, ...] = (6, 8, 10)) -> "GaiaFrame":
        out = self.df
        for r in resolutions:
            out = with_cell(out, r)
        return GaiaFrame(out)

    def tile(self, zoom: int) -> "GaiaFrame":
        return GaiaFrame(with_tile(self.df, zoom))

    # -- spatial relations ---------------------------------------------------
    def join_zones(self, index: ZoneIndex, predicate: str = "within", how: str = "inner", **kw) -> "GaiaFrame":
        return GaiaFrame(spatial_join(self.df, index, predicate, how, **kw))

    def join_zones_features(
        self, index: ZoneIndex, predicate: str = "intersects", how: str = "inner", **kw
    ) -> "GaiaFrame":
        """Spatial join for NON-POINT feature layers (polygon/line left
        sides, ``vertices`` ring-array column)."""
        from gaia_spark.operators.feature_join import feature_spatial_join

        return GaiaFrame(feature_spatial_join(self.df, index, predicate, how, **kw))

    def buffer(self, radius_m: float, out: str = "buffer") -> "GaiaFrame":
        from gaia_spark.operators.scalar_geo import add_buffer

        return GaiaFrame(add_buffer(self.df, radius_m, out))

    def knn(self, sites_pdf: pd.DataFrame, k: int = 1, **kw) -> "GaiaFrame":
        return GaiaFrame(knn_join_broadcast(self.df, sites_pdf, k, **kw))

    def near(self, sites_pdf: pd.DataFrame, radius_m: float, **kw) -> "GaiaFrame":
        return GaiaFrame(near_join(self.df, sites_pdf, radius_m, **kw))

    # -- aggregation ----------------------------------------------------------
    def zonal_stats(self, value_col: str, zone_col: str = "zone_id", **kw) -> "GaiaFrame":
        return GaiaFrame(zonal_stats(self.df, value_col, zone_col, **kw))

    def tile_pyramid(self, max_zoom: int, min_zoom: int = 0) -> "GaiaFrame":
        return GaiaFrame(point_tile_pyramid(self.df, max_zoom, min_zoom))

    # -- training-data pipeline verbs -----------------------------------------
    def dedup_exact(self, text_col: str = "text", id_col: str = "doc_id") -> "GaiaFrame":
        from gaia_spark.operators.dedup import exact_dedup

        return GaiaFrame(exact_dedup(self.df, text_col, id_col))

    def near_dup_pairs(self, id_col: str = "doc_id", text_col: str = "text", **kw) -> "GaiaFrame":
        from gaia_spark.operators.dedup import minhash_lsh_pairs

        return GaiaFrame(minhash_lsh_pairs(self.df, id_col, text_col, **kw))

    def cosine_topk(self, queries, k: int = 5, **kw) -> "GaiaFrame":
        from gaia_spark.operators.simsearch import cosine_topk

        return GaiaFrame(cosine_topk(self.df, queries, k, **kw))

    def cluster(self, res: int, min_pts: int, **kw) -> "GaiaFrame":
        from gaia_spark.operators.stats import grid_dbscan

        return GaiaFrame(grid_dbscan(self.df, res, min_pts, **kw))

    def to_geojson(self, props: list[str]) -> "GaiaFrame":
        from gaia_spark.sources.geojson import points_to_geojson

        return GaiaFrame(points_to_geojson(self.df, props))


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def pages(self, path: str) -> GaiaFrame:
        return GaiaFrame(read_parquet(self.spark, path))

    def frame(self, df: DataFrame) -> GaiaFrame:
        return GaiaFrame(df)

    def zone_index(self, zones_pdf: pd.DataFrame, res: int | None = None) -> ZoneIndex:
        return ZoneIndex.build(zones_pdf, res)
