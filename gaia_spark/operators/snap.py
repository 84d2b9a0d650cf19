"""Snap-to-line (map-matching primitive): each point gets the closest
location ON a polyline layer — segment id, clamped parameter t, the
projected point, and the great-circle distance to it.

Role: the reference's road/route matching entry point (`[R] SURVEY.md
§2.C DistanceProcess` extended to ON-geometry results): geocoding cleanup,
GPS-trace alignment, address interpolation all need the projected point,
not just the distance. The closest point is found by clamped planar
degree-space projection (the same semantics as
``feature_distance._pt_seg_dist_m_sql``) with haversine to the projected
point — exact for axis-aligned segments, documented approximation for
oblique ones (consistent with the engine's degree-space vertex ops).

Scale shape (100 TB): segments explode from chains IN-PLAN, each segment's
max_dist-expanded bbox scatters onto grid cells with ``sequence``/
``explode`` (longitude ring pmod-wrapped at the antimeridian, latitude
conservatively padded at 110 km/deg); points join on their HOME cell — the
only shuffles are that cell equi-join and the per-point argmin window. No
Python, no cross join, no driver loop. Cell count per segment is bounded
by (len/cell + 2·ring)², so pick ``res`` so cells are comparable to
segment length."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable as P
from gaia_spark.operators.spatial_join import edges_sql

# --- shared snap formulas (evaluated verbatim by the DuckDB oracle) ----------


def snap_t_sql(py: str, px: str, y1: str, x1: str, y2: str, x2: str) -> str:
    """Clamped projection parameter t in [0, 1] (degree space)."""
    dx, dy = f"({x2} - {x1})", f"({y2} - {y1})"
    dot = f"(({px} - {x1}) * {dx} + ({py} - {y1}) * {dy})"
    den = f"({dx} * {dx} + {dy} * {dy})"
    # den = 0 (zero-length segment): snap to its point (t = 0) instead of a
    # NULL t silently dropping the candidate (or erroring under ANSI mode) —
    # the guard contour_segments applies to its analogous division
    return (
        f"(CASE WHEN {den} = 0 THEN cast(0 as double) "
        f"ELSE least(cast(1 as double), greatest(cast(0 as double), {dot} / {den})) END)"
    )


def snap_point_sql(
    t: str, y1: str, x1: str, y2: str, x2: str
) -> tuple[str, str]:
    """(lat, lon) of the projected point at parameter ``t``."""
    return (f"({y1} + {t} * ({y2} - {y1}))", f"({x1} + {t} * ({x2} - {x1}))")


def snap_to_lines(
    points: DataFrame,
    lines: DataFrame,
    max_dist_m: float,
    res: int = 5,
    point_key: str = "pid",
    line_key: str = "line_id",
    vertices_col: str = "vertices",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Nearest on-line location within ``max_dist_m`` for every point.
    Returns (point_key, line_key, seg_idx, t_e6, snap_lat_e6, snap_lon_e6,
    dist_m_e3); points with no line within range are absent. Argmin order
    is (quantized dist, line, segment) so ties resolve identically in any
    engine/partitioning."""
    n = 1 << res
    cell_h, cell_w = 180.0 / n, 360.0 / n
    eps = max_dist_m / 110_000.0  # conservative: 1 deg lat >= 110 km

    segs = lines.select(
        F.col(line_key),
        F.posexplode(F.expr(edges_sql(vertices_col))).alias("seg_idx", "s"),
    )
    # expanded bbox in cell coordinates; lon ring sized at the worst
    # latitude the disc can reach, x pmod-wrapped across the antimeridian
    b = segs.select(
        line_key,
        "seg_idx",
        "s",
        F.least(F.expr("s.y1"), F.expr("s.y2")).alias("_la0"),
        F.greatest(F.expr("s.y1"), F.expr("s.y2")).alias("_la1"),
        F.least(F.expr("s.x1"), F.expr("s.x2")).alias("_lo0"),
        F.greatest(F.expr("s.x1"), F.expr("s.x2")).alias("_lo1"),
    )
    max_abs = F.least(F.lit(89.9), F.greatest(F.abs("_la0"), F.abs("_la1")) + F.lit(eps))
    lon_eps = F.lit(eps) / F.greatest(F.cos(F.radians(max_abs)), F.lit(1e-3))
    b = (
        b.withColumn("_y0", F.greatest(F.floor((F.lit(90.0) - (F.col("_la1") + F.lit(eps))) / F.lit(cell_h)), F.lit(0)).cast("long"))
        .withColumn("_y1", F.least(F.floor((F.lit(90.0) - (F.col("_la0") - F.lit(eps))) / F.lit(cell_h)), F.lit(n - 1)).cast("long"))
        .withColumn("_x0", F.floor((F.col("_lo0") - lon_eps + F.lit(180.0)) / F.lit(cell_w)).cast("long"))
        .withColumn("_x1", F.floor((F.col("_lo1") + lon_eps + F.lit(180.0)) / F.lit(cell_w)).cast("long"))
    )
    # cap the wrap: a ring spanning >= n columns covers each exactly once
    b = b.withColumn(
        "_x1", F.when(F.col("_x1") - F.col("_x0") >= n, F.col("_x0") + n - 1).otherwise(F.col("_x1"))
    )
    cover = (
        b.withColumn("_yy", F.explode(F.expr("sequence(_y0, _y1)")))
        .withColumn("_xr", F.explode(F.expr("sequence(_x0, _x1)")))
        .withColumn("_xx", F.pmod(F.col("_xr"), F.lit(n)))
        .select(line_key, "seg_idx", "s", (F.col("_yy") * n + F.col("_xx")).alias("cell"))
    )

    pts = points.select(
        point_key, lat, lon, F.expr(P.cell_id_sql(lat, lon, res)).alias("cell")
    )
    t = snap_t_sql(lat, lon, "s.y1", "s.x1", "s.y2", "s.x2")
    sy, sx = snap_point_sql("_t", "s.y1", "s.x1", "s.y2", "s.x2")
    cand = (
        pts.join(cover, "cell")
        .withColumn("_t", F.expr(t))
        .withColumn("_sy", F.expr(sy))
        .withColumn("_sx", F.expr(sx))
        .withColumn(
            "dist_m_e3",
            F.expr(P.floor_scaled_sql(P.haversine_m_sql(lat, lon, "_sy", "_sx"), 3)),
        )
        .where(F.col("dist_m_e3") <= F.lit(int(max_dist_m * 1000)))
    )
    w = Window.partitionBy(point_key).orderBy("dist_m_e3", line_key, "seg_idx")
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .where("_rk = 1")
        .select(
            point_key,
            line_key,
            "seg_idx",
            F.expr(P.floor_scaled_sql("_t", 6)).alias("t_e6"),
            F.expr(P.floor_scaled_sql("_sy", 6)).alias("snap_lat_e6"),
            F.expr(P.floor_scaled_sql("_sx", 6)).alias("snap_lon_e6"),
            "dist_m_e3",
        )
    )
