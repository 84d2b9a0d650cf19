"""Declarative JSON pipeline spec → lazy DataFrame chain (SURVEY.md §3.2 E1').

Mirrors the reference's CLI entry point (``gaia <pipeline.json>`` →
``[R] gaia/parser.py :: custom_json_deserialize`` instantiating
``{"_type": "...Process", "inputs": [...]}`` object graphs), but the
"object graph" here is Spark's unresolved logical plan: each step looks up
a builder in the registry and appends to the chain; nothing executes until
an action.

Spec shape:
    {"source": {"kind": "parquet" | "pages_synth" | "icelite", ...},
     "steps": [{"op": "geoparse"}, {"op": "cell", "res": 8},
               {"op": "within", "zones": "synth16"},
               {"op": "zonal_stats", "value": "..."}, ...]}
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.session import read_parquet

OPS: dict[str, Callable] = {}


def op(name: str):
    def deco(fn):
        OPS[name] = fn
        return fn
    return deco


def _zones(spec_val):
    import pandas as pd

    from gaia_spark.queries import oracle_zones_pdf
    from gaia_spark.synth import synth_zones_pdf

    if spec_val == "synth16":
        return synth_zones_pdf(16)
    if spec_val == "oracle14":
        return oracle_zones_pdf()
    return pd.DataFrame(spec_val)  # inline zone rows


@op("geoparse")
def _geoparse(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.functions.geoparse import geoparse

    return geoparse(df)


@op("cell")
def _cell(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.spatial_join import with_cell

    return with_cell(df, int(step.get("res", 8)))


@op("tile")
def _tile(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.raster import with_tile

    return with_tile(df, int(step.get("zoom", 6)))


@op("filter")
def _filter(df: DataFrame, step: dict) -> DataFrame:
    # reference filter lists [[attr, op, value], ...] — [R] gaia/filters.py
    out = df
    for attr, o, val in step["filters"]:
        c = F.col(attr)
        cond = {
            "=": c == val, "!=": c != val, ">": c > val, "<": c < val,
            ">=": c >= val, "<=": c <= val,
            "in": c.isin(val), "contains": c.contains(val),
        }[o]
        out = out.where(cond)
    return out


@op("select")
def _select(df: DataFrame, step: dict) -> DataFrame:
    return df.select(*step["columns"])


def _spatial(predicate):
    def fn(df: DataFrame, step: dict) -> DataFrame:
        from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join

        idx = ZoneIndex.build(_zones(step.get("zones", "synth16")), step.get("res"))
        return spatial_join(
            df, idx, predicate, step.get("how", "inner"), step.get("point_key", "url")
        )
    return fn


for _pred in ("within", "intersects", "touches", "disjoint"):
    OPS[_pred] = _spatial(_pred)


def _feature(predicate):
    def fn(df: DataFrame, step: dict) -> DataFrame:
        from gaia_spark.operators.feature_join import feature_spatial_join
        from gaia_spark.operators.spatial_join import ZoneIndex

        idx = ZoneIndex.build(_zones(step.get("zones", "synth16")), step.get("res"))
        return feature_spatial_join(
            df, idx, predicate,
            how=step.get("how", "inner"),
            feature_key=step.get("feature_key", "feature_id"),
            vertices_col=step.get("vertices_col", "vertices"),
            kind=step.get("kind", "poly"),
            rings_col=step.get("rings_col"),
        )
    return fn


for _pred in ("within", "intersects", "touches", "touches_rook", "disjoint", "crosses"):
    OPS[f"feature_{_pred}"] = _feature(_pred)


@op("feature_distance")
def _feature_distance(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.feature_distance import feature_distance_nearest
    from gaia_spark.operators.spatial_join import ZoneIndex

    idx = ZoneIndex.build(_zones(step.get("zones", "synth16")), step.get("res"))
    return feature_distance_nearest(
        df, idx,
        feature_key=step.get("feature_key", "feature_id"),
        vertices_col=step.get("vertices_col", "vertices"),
        kind=step.get("kind", "poly"),
    )


@op("feature_near")
def _feature_near(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.feature_distance import feature_near_join
    from gaia_spark.operators.spatial_join import ZoneIndex

    idx = ZoneIndex.build(_zones(step.get("zones", "synth16")), step.get("res"))
    return feature_near_join(
        df, idx, float(step["radius_m"]),
        feature_key=step.get("feature_key", "feature_id"),
        vertices_col=step.get("vertices_col", "vertices"),
        kind=step.get("kind", "poly"),
    )


@op("near")
def _near(df: DataFrame, step: dict) -> DataFrame:
    import pandas as pd

    from gaia_spark.operators.knn import near_join
    from gaia_spark.queries import site_points_pdf

    sites = site_points_pdf() if step.get("sites", "sites25") == "sites25" else pd.DataFrame(step["sites"])
    return near_join(df, sites, float(step["radius_m"]), point_key=step.get("point_key", "url"))


@op("buffer")
def _buffer(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.scalar_geo import add_buffer

    return add_buffer(df, float(step["radius_m"]), step.get("out", "buffer"))


@op("knn")
def _knn(df: DataFrame, step: dict) -> DataFrame:
    import pandas as pd

    from gaia_spark.operators.knn import knn_join_broadcast
    from gaia_spark.queries import site_points_pdf

    sites = site_points_pdf() if step.get("sites", "sites25") == "sites25" else pd.DataFrame(step["sites"])
    return knn_join_broadcast(df, sites, int(step.get("k", 1)), point_key=step.get("point_key", "url"))


@op("zonal_stats")
def _zonal(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.zonal import zonal_stats

    return zonal_stats(df, step["value"], step.get("zone_col", "zone_id"))


@op("tile_pyramid")
def _pyramid(df: DataFrame, step: dict) -> DataFrame:
    from gaia_spark.operators.raster import point_tile_pyramid

    return point_tile_pyramid(df, int(step.get("max_zoom", 8)), int(step.get("min_zoom", 4)))


@op("union")
def _union(df: DataFrame, step: dict) -> DataFrame:
    raise ValueError("union requires two sources; use build_pipeline twice + unionByName")


@op("agg_count")
def _agg_count(df: DataFrame, step: dict) -> DataFrame:
    return df.groupBy(*step["by"]).agg(F.count("*").alias(step.get("alias", "n")))


def _source(spark: SparkSession, src: dict) -> DataFrame:
    kind = src["kind"]
    if kind == "parquet":
        return read_parquet(spark, src["path"])
    if kind == "pages_synth":
        from gaia_spark.synth import synth_pages

        return synth_pages(spark, int(src.get("n", 10_000)), int(src.get("partitions", 8)))
    if kind == "icelite":
        from gaia_spark.sources.icelite import IceTable

        return IceTable(src["path"]).read(spark, src.get("snapshot_id"))
    if kind == "geojsonseq":
        from gaia_spark.sources.geojson import read_geojsonseq

        return read_geojsonseq(spark, src["path"])
    if kind == "raster_files":
        from gaia_spark.sources.raster_files import read_raster_files

        return read_raster_files(spark, src["path"], src.get("glob", "*.grd"))
    raise ValueError(f"unknown source kind {kind!r}")


def build_pipeline(spark: SparkSession, spec: dict) -> DataFrame:
    df = _source(spark, spec["source"])
    for step in spec.get("steps", []):
        name = step["op"]
        if name not in OPS:
            raise ValueError(f"unknown op {name!r}; available: {sorted(OPS)}")
        df = OPS[name](df, step)
    return df


def run_pipeline_spec(spark: SparkSession, spec: dict) -> DataFrame:
    df = build_pipeline(spark, spec)
    sink = spec.get("sink")
    if sink:
        if sink["kind"] == "parquet":
            df.write.mode(sink.get("mode", "overwrite")).parquet(sink["path"])
        elif sink["kind"] == "icelite":
            from gaia_spark.sources.icelite import IceTable

            IceTable(sink["path"]).append(df)
        else:
            raise ValueError(f"unknown sink kind {sink['kind']!r}")
    return df
