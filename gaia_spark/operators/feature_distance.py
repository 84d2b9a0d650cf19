"""DistanceProcess for NON-POINT features: nearest zone per polygon/line
feature + the distance in meters.

Reference semantics: ``[R] gaia/geo/processes_vector.py :: DistanceProcess``
accepts arbitrary geometry pairs (shapely ``a.distance(b)`` after metric
reprojection); round-2 of this engine supported point left-sides only
(:mod:`gaia_spark.operators.knn`). This closes that gap.

Distance definition (planar-parameterized geodesic):

- if the feature INTERSECTS the zone (same predicate algebra as
  :mod:`feature_join`), distance = 0;
- else min over all (vertex of A, edge of B) and (vertex of B, edge of A)
  pairs of point-to-segment distance, where the closest point on the
  segment is found by planar degree-space projection (clamped parameter)
  and the reported distance is the haversine between the vertex and that
  closest point. For non-intersecting planar segments the minimum distance
  is always attained at an endpoint of one of them, so the vertex↔edge
  sweep in both directions is exhaustive — exact for axis-aligned
  geometry, a documented small-edge approximation for long slanted edges
  (the parameterization is planar in degrees).

Physical plan (the 100-TB shape, mirroring knn_join_broadcast):
the zone layer rides along as ONE broadcast array column; per feature a
single JVM expression tree (transform / array_min over the zones array)
computes every zone distance and picks (min dist, min zone_id) — no
explode, no shuffle, no Python. Features stream through map-side only.
For zone sets too large to broadcast, :func:`feature_distance_nearest_cells`
runs the point kNN's cell-ring loop (``knn.ring_topk``) over the zones'
bbox-cell cover.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable

from gaia_spark.operators.feature_join import (
    _close_ring_sql,
    _covered_at,
    _proper_cross_sql,
)
from gaia_spark.operators.knn import ring_topk
from gaia_spark.operators.spatial_join import ZoneIndex, _boundary_sql, edges_sql


def _pt_seg_dist_m_sql(edges: str, lat: str, lon: str) -> str:
    """min over ``edges`` of haversine(point, closest point on segment);
    closest point via clamped planar degree-space projection. Lambda var
    ``se`` (distinct from feature_join's ``e``/``ea``/``eb`` so builders
    can nest)."""
    dx, dy = "(se.x2 - se.x1)", "(se.y2 - se.y1)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    dot = f"(({lon} - se.x1) * {dx} + ({lat} - se.y1) * {dy})"
    t = (
        f"(CASE WHEN {len2} = 0 THEN cast(0 as double) "
        f"ELSE least(cast(1 as double), greatest(cast(0 as double), {dot} / {len2})) END)"
    )
    clat, clon = f"(se.y1 + {t} * {dy})", f"(se.x1 + {t} * {dx})"
    d = portable.haversine_m_sql(lat, lon, clat, clon)
    return f"array_min(transform({edges}, se -> {d}))"


def _zone_dist_sql(kind: str, zedges: str = "z.edges") -> str:
    """Geometry-distance expression for one (feature, zone) pair: 0 when
    the feature intersects the zone, else the vertex↔edge candidate min.
    Requires ``vertices`` and ``_fedges`` columns in scope; ``zedges`` is
    the zone edge-array expression (a lambda var field in the broadcast
    zones-array plan, a plain column in the distributed cell-ring plan)."""
    any_fv_covered = f"exists(vertices, v -> {_covered_at(zedges, 'v.lat', 'v.lon')})"
    if kind == "line":
        zv_touch = _boundary_sql("zv.y1", "zv.x1", "_fedges")
    else:
        zv_touch = _covered_at("_fedges", "zv.y1", "zv.x1")
    any_zv_covered = f"exists({zedges}, zv -> {zv_touch})"
    cross = _proper_cross_sql("_fedges", zedges)
    intersects = f"(({any_fv_covered}) OR ({any_zv_covered}) OR ({cross}))"
    d_fv = f"array_min(transform(vertices, v -> {_pt_seg_dist_m_sql(zedges, 'v.lat', 'v.lon')}))"
    d_zv = f"array_min(transform({zedges}, zv -> {_pt_seg_dist_m_sql('_fedges', 'zv.y1', 'zv.x1')}))"
    return f"(CASE WHEN {intersects} THEN cast(0 as double) ELSE least({d_fv}, {d_zv}) END)"


def _with_zones_array(
    features: DataFrame, index: ZoneIndex, vertices_col: str, kind: str
) -> tuple[DataFrame, list[str]]:
    """The features (vertices column renamed to ``vertices``) with their
    edge array ``_fedges`` and the broadcast zones array ``_zs``, plus the
    feature column names a caller's output keeps."""
    if kind not in ("poly", "line"):
        raise ValueError(f"unknown kind {kind!r}")
    # reserved output columns (feature_spatial_join twin): raise loudly
    # instead of silently overwriting user feature columns via withColumn
    reserved = {"zone_id", "dist_m", "rank"} & set(features.columns)
    if reserved:
        raise ValueError(
            f"feature columns {sorted(reserved)} collide with reserved "
            "output columns (zone_id, dist_m, rank) — rename them first"
        )
    zones = index.zone_df(features.sparkSession).agg(
        F.collect_list(F.struct("zone_id", "edges")).alias("_zs")
    )
    feats = (
        features.withColumnRenamed(vertices_col, "vertices")
        if vertices_col != "vertices"
        else features
    )
    feats = feats.where(F.col("vertices").isNotNull() & (F.size("vertices") >= 2))
    fedges = edges_sql(_close_ring_sql("vertices")) if kind == "poly" else edges_sql("vertices")
    cols = ["vertices" if c == vertices_col else c for c in features.columns]
    return feats.withColumn("_fedges", F.expr(fedges)).join(F.broadcast(zones)), cols


def feature_distance_nearest(
    features: DataFrame,
    index: ZoneIndex,
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
) -> DataFrame:
    """Nearest zone per feature: returns feature columns + (zone_id, dist_m).

    Ties broken by (dist_m, zone_id) ascending — deterministic and
    oracle-mirrorable (``ORDER BY dist, zone_id``)."""
    feats, cols = _with_zones_array(features, index, vertices_col, kind)
    best = (
        f"array_min(transform(_zs, z -> struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid)))"
    )
    # one select: the one-element array lets inline name the output fields
    # while array_min runs once (a null best — no zones — is a null row)
    return feats.select(
        *cols, F.inline(F.expr(f"transform(array({best}), b -> struct(b.zid AS zone_id, b.d AS dist_m))"))
    )


def feature_near_join(
    features: DataFrame,
    index: ZoneIndex,
    radius_m: float,
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
) -> DataFrame:
    """NearProcess for NON-POINT features: all (feature, zone) pairs with
    geometry distance ≤ radius_m (0 = intersecting pairs included) — the
    buffer-as-predicate generalization of knn.near_join to polygon/line
    left sides. Same broadcast zones-array plan as
    :func:`feature_distance_nearest`: per feature ONE JVM expression scores
    every zone, then only the within-radius matches are exploded — no
    shuffle, no Python."""
    feats, cols = _with_zones_array(features, index, vertices_col, kind)
    scored = (
        f"filter(transform(_zs, z -> struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid)), "
        f"s -> s.d <= cast({float(radius_m)!r} as double))"
    )
    return feats.select(
        *cols, F.inline(F.expr(f"transform({scored}, m -> struct(m.zid AS zone_id, m.d AS dist_m))"))
    )


def feature_distance_nearest_cells(
    features: DataFrame,
    zones: DataFrame,
    res: int = 6,
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
    max_rounds: int = 8,
    max_fallback_rows: int = 10_000_000,
) -> DataFrame:
    """Distributed nearest-zone per feature for zone layers TOO LARGE TO
    BROADCAST: the :func:`gaia_spark.operators.knn.ring_topk` loop with
    k=1 and the geometry-to-geometry distance. Both sides stay DataFrames
    end to end.

    ``zones``: (zone_id long, edges array<struct<y1,x1,y2,x2>>).

    Each feature anchors at its bbox-center cell; each zone contributes one
    row per cell of its bbox. The slack is a strict over-estimate of the
    feature's reach from its anchor: a feature settles when its best
    distance beats ``ring_lower_bound(ρ+1) − slack``, because any unseen
    zone's nearest point lies in an unexplored cell, i.e. at least that far
    from the feature.

    Returns (feature_key, zone_id, dist_m); ties by (dist, zone_id) asc.
    """
    n = 1 << res
    # zone side: bbox from edges -> cell-range cover (distributed explode)
    ze = zones.select(
        F.col("zone_id").alias("_rk"),
        F.col("edges").alias("_zed"),
        F.expr("array_min(transform(edges, e -> least(e.y1, e.y2)))").alias("_zmin_lat"),
        F.expr("array_max(transform(edges, e -> greatest(e.y1, e.y2)))").alias("_zmax_lat"),
        F.expr("array_min(transform(edges, e -> least(e.x1, e.x2)))").alias("_zmin_lon"),
        F.expr("array_max(transform(edges, e -> greatest(e.x1, e.x2)))").alias("_zmax_lon"),
    )
    zx0, zx1 = portable.cell_x_sql("_zmin_lon", res), portable.cell_x_sql("_zmax_lon", res)
    zy0, zy1 = portable.cell_y_sql("_zmax_lat", res), portable.cell_y_sql("_zmin_lat", res)
    zcover = (
        ze.withColumn("_zx", F.explode(F.expr(f"sequence({zx0}, {zx1})")))
        .withColumn("_zy", F.explode(F.expr(f"sequence({zy0}, {zy1})")))
        .select("_rk", "_zed", (F.col("_zy") * n + F.col("_zx")).alias("_rcell"))
    )

    feats = (
        features.withColumnRenamed(vertices_col, "vertices")
        if vertices_col != "vertices"
        else features
    )
    feats = feats.where(F.col("vertices").isNotNull() & (F.size("vertices") >= 2))
    fedges = edges_sql(_close_ring_sql("vertices")) if kind == "poly" else edges_sql("vertices")
    fmin_lat = "array_min(transform(vertices, v -> v.lat))"
    fmax_lat = "array_max(transform(vertices, v -> v.lat))"
    fmin_lon = "array_min(transform(vertices, v -> v.lon))"
    fmax_lon = "array_max(transform(vertices, v -> v.lon))"
    # _hd must OVER-estimate the distance from the degree-space bbox center
    # (the ring anchor) to any feature point — half the corner-to-corner
    # haversine does NOT (at high latitude the equatorward half of the box
    # sees a larger cos(lat) lon scale than the diagonal's midpoint).
    # Strict bound instead: meridian leg + parallel leg of the worst path,
    #   d(anchor, p) ≤ 111,320·|Δlat| + 111,320·cos(φ*)·|Δlon|
    # with 111,320 m/deg a CEILING over the sphere's 111,195 and φ* the box
    # latitude with the largest cos (closest to the equator).
    dlat_half = f"(({fmax_lat}) - ({fmin_lat})) / 2"
    dlon_half = f"(({fmax_lon}) - ({fmin_lon})) / 2"
    cos_star = (
        f"(CASE WHEN ({fmin_lat}) <= 0 AND ({fmax_lat}) >= 0 THEN cast(1 as double) "
        f"ELSE cos(radians(least(abs({fmin_lat}), abs({fmax_lat})))) END)"
    )
    half_bound = (
        f"(111320.0 * ({dlat_half}) + 111320.0 * {cos_star} * ({dlon_half}))"
    )
    anchor_lat = f"(({fmin_lat}) + ({fmax_lat})) / 2"
    anchor_lon = f"(({fmin_lon}) + ({fmax_lon})) / 2"
    pend = feats.select(
        F.col(feature_key).alias("_lk"),
        "vertices",
        F.expr(fedges).alias("_fedges"),
        F.expr(half_bound).alias("_hd"),
        F.expr(f"({anchor_lat})").alias("_alat"),
        F.expr(portable.cell_id_sql(f"({anchor_lat})", f"({anchor_lon})", res)).alias("_acell"),
    )
    best = ring_topk(
        pend, zcover, F.expr(_zone_dist_sql(kind, zedges="_zed")), 1, res,
        slack="_hd",
        max_rounds=max_rounds,
        max_fallback_rows=max_fallback_rows,
    )
    return best.select(
        F.col("_lk").alias(feature_key),
        F.col("_rk").alias("zone_id"),
        F.col("_d").alias("dist_m"),
    )


def feature_knn_join(
    features: DataFrame,
    index: ZoneIndex,
    k: int = 3,
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
) -> DataFrame:
    """Top-k nearest zones per polygon/line feature (kNN generalization of
    :func:`feature_distance_nearest`): one JVM ``array_sort`` over the
    scored zones array, then a slice/posexplode — still no shuffle, no
    Python. Ties by (dist, zone_id) asc. Returns
    (feature cols, zone_id, dist_m, rank)."""
    feats, cols = _with_zones_array(features, index, vertices_col, kind)
    topk = (
        f"slice(array_sort(transform(_zs, z -> "
        f"struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid))), 1, {int(k)})"
    )
    ranked = f"transform({topk}, (m, i) -> struct(m.zid AS zone_id, m.d AS dist_m, cast(i + 1 as int) AS rank))"
    return feats.select(*cols, F.inline(F.expr(ranked)))


__all__ = [
    "feature_distance_nearest",
    "feature_distance_nearest_cells",
    "feature_knn_join",
    "feature_near_join",
]
