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

Physical plan (the 100-TB shape, mirroring knn_join_broadcast's sql impl):
the zone layer rides along as ONE broadcast array column; per feature a
single JVM expression tree (transform / array_min over the zones array)
computes every zone distance and picks (min dist, min zone_id) — no
explode, no shuffle, no Python. Features stream through map-side only.
For zone sets too large to broadcast, fall back to the cell-ring pattern
in knn.knn_join_cells (future work; the web-pipeline shape is small-m).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable

from gaia_spark.operators.feature_join import (
    _close_ring_sql,
    _covered_at,
    _proper_cross_sql,
)
from gaia_spark.operators.spatial_join import ZoneIndex, _boundary_sql, edges_sql
from gaia_spark.session import iter_checkpoint


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


def _with_zones_array(features: DataFrame, index: ZoneIndex, vertices_col: str, kind: str) -> DataFrame:
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
    return feats.withColumn("_fedges", F.expr(fedges)).join(F.broadcast(zones))


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
    feats = _with_zones_array(features, index, vertices_col, kind)
    best = (
        f"array_min(transform(_zs, z -> struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid)))"
    )
    return (
        feats.withColumn("_best", F.expr(best))
        .withColumn("zone_id", F.col("_best.zid"))
        .withColumn("dist_m", F.col("_best.d"))
        .drop("_fedges", "_zs", "_best")
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
    feats = _with_zones_array(features, index, vertices_col, kind)
    scored = (
        f"filter(transform(_zs, z -> struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid)), "
        f"s -> s.d <= cast({float(radius_m)!r} as double))"
    )
    return (
        feats.withColumn("_m", F.explode(F.expr(scored)))
        .withColumn("zone_id", F.col("_m.zid"))
        .withColumn("dist_m", F.col("_m.d"))
        .drop("_fedges", "_zs", "_m")
    )




def feature_distance_nearest_cells(
    features: DataFrame,
    zones: DataFrame,
    res: int = 6,
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
    max_rounds: int = 8,
    reliable_checkpoint: bool = False,
    max_fallback_rows: int = 10_000_000,
) -> DataFrame:
    """Distributed nearest-zone per feature for zone layers TOO LARGE TO
    BROADCAST: iterative cell-ring expansion (the knn.knn_join_cells
    pattern generalized to geometry-to-geometry distance). Both sides stay
    DataFrames end to end.

    ``zones``: (zone_id long, edges array<struct<y1,x1,y2,x2>>).

    Round ρ anchors each still-unsettled feature at its bbox-center cell,
    explodes the 8ρ hollow-ring offsets (tiny literal array — the only
    driver-built object), joins the zone bbox-cell cover on cell, and
    keeps a running best (dist, zone_id) per feature. A feature settles
    when its best distance beats the conservative bound
    ``ring_lower_bound(ρ+1) − feature_bbox_half_diagonal``: any unseen
    zone's nearest point lies in an unexplored cell, i.e. at least that
    far from the feature. The bounded final round compares the (small)
    unsettled remainder against every zone directly.

    Returns (feature_key, zone_id, dist_m); ties by (dist, zone_id) asc.
    """
    n = 1 << res
    spark = features.sparkSession

    # zone side: bbox from edges -> cell-range cover (distributed explode)
    ze = zones.select(
        F.col("zone_id").alias("_zid"),
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
        .select("_zid", "_zed", (F.col("_zy") * n + F.col("_zx")).alias("_zcell"))
        .persist()
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
        F.col(feature_key).alias("_fk"),
        "vertices",
        F.expr(fedges).alias("_fedges"),
        F.expr(half_bound).alias("_hd"),
        F.expr(f"({anchor_lat})").alias("_alat"),
        F.expr(portable.cell_id_sql(f"({anchor_lat})", f"({anchor_lon})", res)).alias("_acell"),
    )

    from gaia_spark.operators.knn import _ring_offsets

    dist = F.expr(_zone_dist_sql(kind, zedges="_zed"))
    best: DataFrame | None = None  # set on the first _merge (possibly empty frame)

    def _merge(acc: DataFrame | None, cand: DataFrame) -> DataFrame:
        merged = cand if acc is None else acc.unionByName(cand)
        merged = (
            merged.dropDuplicates(["_fk", "_zid"])
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_fk").orderBy(F.asc("_d"), F.asc("_zid"))
                ),
            )
            .where(F.col("_rn") <= 1)
            .drop("_rn")
        )
        # cut the accumulator's lineage each round (this line was previously
        # unreachable behind an early return — the per-round checkpoint was
        # silently skipped) and free the superseded accumulator's blocks
        return iter_checkpoint(merged, reliable_checkpoint, release=acc)

    for rho in range(max_rounds + 1):
        last = rho == max_rounds
        if last:
            # loud bounded fallback (VERDICT r4 #9): the unsettled remainder
            # is small by construction after ring expansion, but count it
            # and refuse an oversized crossJoin rather than assume
            n_pending = pend.count()
            if n_pending == 0:
                break
            zuniq = zcover.select("_zid", "_zed").dropDuplicates(["_zid"])
            n_zones = zuniq.count()
            print(
                f"feature_distance_nearest_cells: final fallback crossJoin "
                f"over {n_pending} unsettled features x {n_zones} zones"
            )
            if n_pending * n_zones > max_fallback_rows:
                raise RuntimeError(
                    f"feature_distance_nearest_cells: fallback crossJoin "
                    f"would produce {n_pending * n_zones} rows (> "
                    f"max_fallback_rows={max_fallback_rows}); raise "
                    f"max_rounds or the bound"
                )
            cand = pend.crossJoin(zuniq)
        else:
            offs = F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in _ring_offsets(rho)
                ]
            )
            cover = (
                pend.withColumn("_o", F.explode(offs))
                .select(
                    "_fk", "vertices", "_fedges", "_hd", "_alat",
                    (F.expr(portable.idiv_sql("_acell", n)) + F.col("_o.dy")).alias("_y"),
                    F.pmod(F.col("_acell") % n + F.col("_o.dx"), F.lit(n)).alias("_x"),
                )
                .where((F.col("_y") >= 0) & (F.col("_y") < n))
                .select("_fk", "vertices", "_fedges", "_hd", "_alat",
                        (F.col("_y") * n + F.col("_x")).alias("_cell"))
            )
            cand = cover.join(zcover, cover["_cell"] == zcover["_zcell"], "inner")
        cand = cand.withColumn("_d", dist).select("_fk", "_zid", "_d")
        best = _merge(best, cand)
        if last:
            break
        # settle: best dist beats the conservative next-ring lower bound
        cell_h_deg = 180.0 / n
        vert = F.lit(rho * cell_h_deg * 110_000.0)
        max_abs_lat = F.least(F.lit(90.0), F.abs(F.col("_alat")) + F.lit((rho + 2) * cell_h_deg))
        # 110,000 m/deg floor — must UNDER-estimate haversine (111,195
        # m/deg) or a feature can settle on a non-nearest zone
        horiz = (
            F.lit(rho * (360.0 / n) * 110_000.0)
            * F.greatest(F.lit(0.0), F.cos(F.radians(max_abs_lat)))
        )
        settled = (
            pend.select("_fk", "_alat", "_hd")
            .join(best.select(F.col("_fk").alias("_bfk"), "_d"),
                  F.col("_fk") == F.col("_bfk"), "inner")
            .where(F.col("_d") < F.least(vert, horiz) - F.col("_hd"))
            .select("_fk")
        )
        pend = iter_checkpoint(
            pend.join(settled, "_fk", "left_anti"),
            reliable_checkpoint,
            release=pend,
        )
        if pend.isEmpty():
            break

    zcover.unpersist()
    return best.select(
        F.col("_fk").alias(feature_key),
        F.col("_zid").alias("zone_id"),
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
    feats = _with_zones_array(features, index, vertices_col, kind)
    topk = (
        f"slice(array_sort(transform(_zs, z -> "
        f"struct({_zone_dist_sql(kind)} AS d, z.zone_id AS zid))), 1, {int(k)})"
    )
    return (
        feats.select(
            "*", F.posexplode(F.expr(topk)).alias("_pos", "_m")
        )
        .withColumn("zone_id", F.col("_m.zid"))
        .withColumn("dist_m", F.col("_m.d"))
        .withColumn("rank", (F.col("_pos") + 1).cast("int"))
        .drop("_fedges", "_zs", "_m", "_pos")
    )


__all__ = [
    "feature_distance_nearest",
    "feature_distance_nearest_cells",
    "feature_knn_join",
    "feature_near_join",
]
