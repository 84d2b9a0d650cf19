"""Registry tranche 5: non-point feature layers — polygon-vs-polygon
within/intersects and line-vs-polygon crosses through the generic
feature_spatial_join, each hash-checked against a closed-form DuckDB oracle
(rect parcels / axis-aligned lines vs rect zones are pure bbox algebra; the
ENGINE side still runs the fully general vertex/edge machinery).

Parcel/line coordinates carry +0.0003 / +0.0007 offsets so no feature edge
can ever coincide exactly with an integer zone bound — exact-touch would sit
inside the kernel's 1e-9 boundary epsilon where closed-form SQL and
epsilon-based geometry could legitimately disagree.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.queries import ZONES_CTE, _zone_index, load, register
from gaia_spark.session import local_df

# key-derived rect parcels over the part table (FIXTURES.md §6 style)
_LAT_C = "((p_partkey * 7919 % 15000) / cast(100 as double) - 75.0 + 0.0003)"
_LON_C = "((p_partkey * 104729 % 34000) / cast(100 as double) - 170.0 + 0.0007)"
_HL = "((50 + (p_partkey * 13) % 40) / cast(10 as double))"   # 5.0 .. 8.9 deg
_HW = "((50 + (p_partkey * 29) % 60) / cast(10 as double))"   # 5.0 .. 10.9 deg

PARCELS_CTE = (
    "parcels AS (SELECT p_partkey, "
    f"({_LAT_C} - {_HL}) AS pmin_lat, ({_LAT_C} + {_HL}) AS pmax_lat, "
    f"({_LON_C} - {_HW}) AS pmin_lon, ({_LON_C} + {_HW}) AS pmax_lon "
    "FROM part)"
)


def parcel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rect parcels as a GENERIC ring-array feature layer (the engine sees
    only vertices — the rect shape is knowledge private to the oracle)."""
    a, c = f"({_LAT_C} - {_HL})", f"({_LAT_C} + {_HL})"
    b, d = f"({_LON_C} - {_HW})", f"({_LON_C} + {_HW})"
    ring = (
        f"array(struct({a} AS lat, {b} AS lon), struct({a} AS lat, {d} AS lon), "
        f"struct({c} AS lat, {d} AS lon), struct({c} AS lat, {b} AS lon), "
        f"struct({a} AS lat, {b} AS lon))"
    )
    return load(spark, sf_dir, "part").select("p_partkey", F.expr(ring).alias("vertices"))


@register(
    "q_poly_intersects_join",
    f"""
    WITH {PARCELS_CTE}, {ZONES_CTE}
    SELECT p_partkey, zone_id
    FROM parcels JOIN zones
      ON pmin_lat <= max_lat AND pmax_lat >= min_lat
     AND pmin_lon <= max_lon AND pmax_lon >= min_lon
    """,
)
def q_poly_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntersectsProcess with a POLYGON left side: generic cell-cover +
    vertex/edge refinement; oracle = closed bbox overlap (exact for rects)."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = parcel_features(spark, sf_dir)
    out = feature_spatial_join(
        feats, _zone_index(), predicate="intersects", feature_key="p_partkey"
    )
    return out.select("p_partkey", "zone_id")


@register(
    "q_ngon_intersects_arrow",
    f"""
    WITH {PARCELS_CTE}, {ZONES_CTE}
    SELECT p_partkey, zone_id
    FROM parcels JOIN zones
      ON pmin_lat <= max_lat AND pmax_lat >= min_lat
     AND pmin_lon <= max_lon AND pmax_lon >= min_lon
    """,
)
def q_ngon_intersects_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME intersects join refined by the ARROW backend (numpy
    per-pair evaluation of the predicate algebra, feature_refine.py) —
    same oracle as q_poly_intersects_join: two refine backends, one
    answer, driver-hash-checked. The large-vertex fast path the
    ngon512_intersects_arrow bench entry measures."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = parcel_features(spark, sf_dir)
    out = feature_spatial_join(
        feats, _zone_index(), predicate="intersects", feature_key="p_partkey",
        refine="arrow",
    )
    return out.select("p_partkey", "zone_id")


@register(
    "q_poly_within_join",
    f"""
    WITH {PARCELS_CTE}, {ZONES_CTE}
    SELECT p_partkey, zone_id
    FROM parcels JOIN zones
      ON pmin_lat >= min_lat AND pmax_lat <= max_lat
     AND pmin_lon >= min_lon AND pmax_lon <= max_lon
    """,
)
def q_poly_within_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WithinProcess with a POLYGON left side (A strictly inside or touching
    B from inside); oracle = closed bbox containment."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = parcel_features(spark, sf_dir)
    out = feature_spatial_join(
        feats, _zone_index(), predicate="within", feature_key="p_partkey"
    )
    return out.select("p_partkey", "zone_id")


# key-derived axis-aligned line segments over the supplier table: even keys
# horizontal, odd keys vertical
_SLAT = "((s_suppkey * 7919 % 15000) / cast(100 as double) - 75.0 + 0.0003)"
_SLON = "((s_suppkey * 104729 % 34000) / cast(100 as double) - 170.0 + 0.0007)"
_SLEN = "((50 + (s_suppkey * 17) % 49) / cast(10 as double))"  # 5.0 .. 9.8 deg

LINES_CTE = (
    "lines AS (SELECT s_suppkey, s_suppkey % 2 = 0 AS horiz, "
    f"{_SLAT} AS la, {_SLON} AS lo, {_SLEN} AS len FROM supplier)"
)


def line_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_SLAT).alias("_la"),
        F.expr(_SLON).alias("_lo"),
        F.expr(_SLEN).alias("_len"),
    )
    chain = (
        "CASE WHEN s_suppkey % 2 = 0 "
        "THEN array(struct(_la AS lat, _lo AS lon), struct(_la AS lat, _lo + _len AS lon)) "
        "ELSE array(struct(_la AS lat, _lo AS lon), struct(_la + _len AS lat, _lo AS lon)) END"
    )
    return s.select("s_suppkey", F.expr(chain).alias("vertices"))


@register(
    "q_parcel_centroids",
    f"""
    WITH {PARCELS_CTE}
    SELECT p_partkey,
           cast(floor(((pmin_lat + pmax_lat) / 2) * 1000000 + 0.5) as bigint) AS c_lat_e6,
           cast(floor(((pmin_lon + pmax_lon) / 2) * 1000000 + 0.5) as bigint) AS c_lon_e6
    FROM parcels
    """,
)
def q_parcel_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CentroidProcess per-feature with shapely's AREA-WEIGHTED semantics
    (planar shoelace centroid, one JVM expression); for rect parcels the
    oracle's closed form is the bbox center."""
    import pyspark.sql.functions as F2

    from gaia_spark.operators.scalar_geo import ring_centroid_area_sql

    feats = parcel_features(spark, sf_dir)
    c = feats.withColumn("_c", F2.expr(ring_centroid_area_sql("vertices")))
    return c.select(
        "p_partkey",
        F2.expr("cast(floor(_c.lat * 1000000 + 0.5) as bigint)").alias("c_lat_e6"),
        F2.expr("cast(floor(_c.lon * 1000000 + 0.5) as bigint)").alias("c_lon_e6"),
    )


def _line_len_oracle() -> str:
    from gaia_spark.functions import portable as P

    horiz = P.haversine_m_sql("la", "lo", "la", "(lo + len)")
    vert = P.haversine_m_sql("la", "lo", "(la + len)", "lo")
    return f"""
    WITH {LINES_CTE}
    SELECT s_suppkey,
           {P.floor_scaled_sql(f'CASE WHEN horiz THEN {horiz} ELSE {vert} END', 0)} AS length_m_e0
    FROM lines
    """


def _line_len_ellipsoid_oracle() -> str:
    from gaia_spark.functions import portable as P

    inner = (
        f"WITH {LINES_CTE} SELECT s_suppkey, la AS lat1, lo AS lon1, "
        "CASE WHEN horiz THEN la ELSE la + len END AS lat2, "
        "CASE WHEN horiz THEN lo + len ELSE lo END AS lon2 FROM lines"
    )
    nested = P.vincenty_inverse_subquery_sql(inner, "lat1", "lon1", "lat2", "lon2")
    return f"""
    SELECT s_suppkey,
           cast(sum({P.floor_scaled_sql('_vi_dist_m', 3)}) as bigint) AS length_mm
    FROM {nested} t
    GROUP BY s_suppkey
    """


@register("q_line_length_ellipsoid", _line_len_ellipsoid_oracle())
def q_line_length_ellipsoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LengthProcess on the WGS84 ELLIPSOID: polyline chains exploded to
    edges, each edge measured by the Vincenty inverse (runtime-fold named
    steps), quantized to integer millimeters PER EDGE and summed as exact
    bigints — floats never cross the aggregation, so the per-line total is
    hash-stable under any partitioning or shuffle order. The generic
    multi-vertex sibling of q_line_length's spherical haversine; the
    oracle replays edges + fold through the shared nested-subquery SQL."""
    from gaia_spark.functions import portable as P

    feats = line_features(spark, sf_dir)
    pairs = (
        "zip_with(slice(vertices, 1, size(vertices) - 1), "
        "slice(vertices, 2, size(vertices) - 1), "
        "(a, b) -> struct(a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2))"
    )
    edges = feats.select(
        "s_suppkey", F.posexplode(F.expr(pairs)).alias("_i", "e")
    ).select("s_suppkey", "e.lat1", "e.lon1", "e.lat2", "e.lon2")
    for name, expr in P.vincenty_inverse_steps("lat1", "lon1", "lat2", "lon2"):
        edges = edges.selectExpr("*", f"{expr} AS {name}")
    per_edge = edges.select(
        "s_suppkey", F.expr(P.floor_scaled_sql("_vi_dist_m", 3)).alias("_mm")
    )
    return per_edge.groupBy("s_suppkey").agg(
        F.sum("_mm").cast("long").alias("length_mm")
    )


@register("q_line_length", _line_len_oracle())
def q_line_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LengthProcess over a polyline feature layer — summed haversine as one
    JVM aggregate expression (chain_length_m_sql); the oracle mirrors the
    2-vertex chains with direct haversine."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.scalar_geo import chain_length_m_sql

    feats = line_features(spark, sf_dir)
    return feats.select(
        "s_suppkey",
        F2.expr(P.floor_scaled_sql(chain_length_m_sql("vertices"), 0)).alias("length_m_e0"),
    )


def _box_dist_sql() -> str:
    from gaia_spark.functions import portable as P

    # Closed-form closest-pair of two axis-aligned boxes, mirroring the
    # engine's vertex↔edge candidate set EXACTLY: the engine's candidates
    # reduce to (a) perpendicular pairs at the overlap endpoints of the
    # overlapping dimension and (b) corner-corner pairs; every corner pair
    # the engine does not generate is dominated (≥ in |Δlat|, |Δlon| and
    # cos-product) by one it does, so least() over ALL 16 corner pairs +
    # the guarded perpendicular candidates equals the engine's min.
    # NB in haversine the minimizing candidate is not always the planar
    # "facing" pair — parallel distance shrinks with cos(lat), so a
    # higher-|lat| corner pair can beat the facing one.
    lat_ov = "(pmin_lat <= max_lat AND pmax_lat >= min_lat)"
    lon_ov = "(pmin_lon <= max_lon AND pmax_lon >= min_lon)"
    lat_lo, lat_hi = "greatest(pmin_lat, min_lat)", "least(pmax_lat, max_lat)"
    # facing lats in the lat-gap case (latitude does not wrap)
    flat_a = "(CASE WHEN pmax_lat < min_lat THEN pmax_lat ELSE pmin_lat END)"
    flat_b = "(CASE WHEN pmax_lat < min_lat THEN min_lat ELSE max_lat END)"
    cands = []
    # perpendicular (parallel) candidates at BOTH lat-overlap endpoints ×
    # BOTH facing-lon pairings: haversine wraps Δlon, so the short way may
    # cross the ANTIMERIDIAN — the through-zero "facing" pair alone misses
    # e.g. a 159°E parcel next to a 170°W zone (engine projects vertices
    # onto edges and finds the wrapped parallel; the oracle must too)
    for sl in (lat_lo, lat_hi):
        for la_, lb_ in (("pmin_lon", "max_lon"), ("pmax_lon", "min_lon")):
            h = P.haversine_m_sql(f"({sl})", la_, f"({sl})", lb_)
            cands.append(f"CASE WHEN {lat_ov} THEN {h} ELSE cast(1e18 as double) END")
    mer = P.haversine_m_sql(flat_a, "(pmin_lon)", flat_b, "(pmin_lon)")
    cands.append(f"CASE WHEN {lon_ov} THEN {mer} ELSE cast(1e18 as double) END")
    # all 16 corner-corner pairs
    for pla in ("pmin_lat", "pmax_lat"):
        for plo in ("pmin_lon", "pmax_lon"):
            for zla in ("min_lat", "max_lat"):
                for zlo in ("min_lon", "max_lon"):
                    cands.append(P.haversine_m_sql(pla, plo, zla, zlo))
    least = "least(" + ", ".join(cands) + ")"
    return (
        f"CASE WHEN {lat_ov} AND {lon_ov} THEN cast(0 as double) ELSE {least} END"
    )


def _feature_dist_oracle() -> str:
    from gaia_spark.functions import portable as P

    return f"""
    WITH {PARCELS_CTE}, {ZONES_CTE},
    d AS (SELECT p_partkey, zone_id, {_box_dist_sql()} AS dist
          FROM parcels CROSS JOIN zones),
    r AS (SELECT p_partkey, zone_id, dist,
          row_number() OVER (PARTITION BY p_partkey ORDER BY dist, zone_id) AS rn
          FROM d)
    SELECT p_partkey, zone_id, {P.floor_scaled_sql('dist', 0)} AS dist_m_e0
    FROM r WHERE rn = 1
    """


@register("q_feature_distance", _feature_dist_oracle())
def q_feature_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistanceProcess for NON-POINT features: nearest zone per polygon
    parcel + haversine distance (0 when intersecting). Engine = generic
    vertex↔edge sweep over broadcast zone edge arrays (one JVM expression,
    no shuffle); oracle = closed-form box-gap algebra exact for rects."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.feature_distance import feature_distance_nearest

    feats = parcel_features(spark, sf_dir)
    out = feature_distance_nearest(feats, _zone_index(), feature_key="p_partkey")
    return out.select(
        "p_partkey",
        "zone_id",
        F2.expr(P.floor_scaled_sql("dist_m", 0)).alias("dist_m_e0"),
    )


# touches fixture: parcels DERIVED FROM zone bounds so exact edge/corner
# contact actually occurs (the generic parcel stream's +0.0003 offsets never
# touch). mode = p_partkey % 5 against base zone j = p_partkey % 14:
#   0 → coincident with zone j   (degenerate: intersects, NOT touches)
#   1 → shares j's right edge    (touches)
#   2 → sits on j's top edge     (touches)
#   3 → j shifted by (+3, +7)    (interior overlap, NOT touches)
#   4 → corner contact at j's NE corner (touches)
_TOUCH_BOUNDS = """
  CASE m WHEN 0 THEN zb.min_lat WHEN 1 THEN zb.min_lat + 2 WHEN 2 THEN zb.max_lat
         WHEN 3 THEN zb.min_lat + 3 ELSE zb.max_lat END AS pmin_lat,
  CASE m WHEN 0 THEN zb.max_lat WHEN 1 THEN zb.max_lat - 2 WHEN 2 THEN zb.max_lat + 4
         WHEN 3 THEN zb.max_lat + 3 ELSE zb.max_lat + 3 END AS pmax_lat,
  CASE m WHEN 0 THEN zb.min_lon WHEN 1 THEN zb.max_lon WHEN 2 THEN zb.min_lon + 1
         WHEN 3 THEN zb.min_lon + 7 ELSE zb.max_lon END AS pmin_lon,
  CASE m WHEN 0 THEN zb.max_lon WHEN 1 THEN zb.max_lon + 5 WHEN 2 THEN zb.min_lon + 20
         WHEN 3 THEN zb.max_lon + 7 ELSE zb.max_lon + 3 END AS pmax_lon
"""


def touch_parcel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.queries import oracle_zone_rows

    z = local_df(
        spark,
        [(j, a, b, c, d) for j, a, b, c, d, _ in oracle_zone_rows()],
        "zid long, min_lat double, min_lon double, max_lat double, max_lon double",
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") % 14).alias("zid"),
        (F.col("p_partkey") % 5).alias("m"),
    )
    bounds = _TOUCH_BOUNDS.replace("zb.", "")
    f = p.join(F.broadcast(z), "zid").selectExpr("p_partkey", "m", *[
        e.strip() for e in bounds.split(",\n")
    ])
    ring = (
        "array(struct(pmin_lat AS lat, pmin_lon AS lon), struct(pmin_lat AS lat, pmax_lon AS lon), "
        "struct(pmax_lat AS lat, pmax_lon AS lon), struct(pmax_lat AS lat, pmin_lon AS lon), "
        "struct(pmin_lat AS lat, pmin_lon AS lon))"
    )
    return f.select("p_partkey", F.expr(ring).alias("vertices"))


@register(
    "q_parcel_touches",
    f"""
    WITH {ZONES_CTE},
    zb AS (SELECT p_partkey, p_partkey % 5 AS m, zz.min_lat, zz.min_lon, zz.max_lat, zz.max_lon
           FROM part JOIN zones zz ON zz.zone_id = p_partkey % 14),
    parc AS (SELECT p_partkey, {_TOUCH_BOUNDS} FROM zb)
    SELECT p_partkey, z2.zone_id
    FROM parc JOIN zones z2
      ON pmin_lat <= z2.max_lat AND pmax_lat >= z2.min_lat
     AND pmin_lon <= z2.max_lon AND pmax_lon >= z2.min_lon
     AND NOT (pmin_lat < z2.max_lat AND pmax_lat > z2.min_lat
              AND pmin_lon < z2.max_lon AND pmax_lon > z2.min_lon)
    """,
)
def q_parcel_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TouchesProcess poly-poly, including the DEGENERATE cases (coincident
    and edge-overlapping rectangles must NOT be touches — the collinear-
    overlap interior witness rejects them). Oracle = rect algebra: closed
    bbox overlap minus open bbox overlap."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = touch_parcel_features(spark, sf_dir)
    out = feature_spatial_join(
        feats, _zone_index(), predicate="touches", feature_key="p_partkey"
    )
    return out.select("p_partkey", "zone_id")


@register(
    "q_crosses",
    f"""
    WITH {LINES_CTE}, {ZONES_CTE}
    SELECT s_suppkey, zone_id
    FROM lines JOIN zones ON
      (horiz AND min_lat < la AND la < max_lat
        AND greatest(lo, min_lon) < least(lo + len, max_lon)
        AND (lo < min_lon OR lo + len > max_lon))
      OR
      (NOT horiz AND min_lon < lo AND lo < max_lon
        AND greatest(la, min_lat) < least(la + len, max_lat)
        AND (la < min_lat OR la + len > max_lat))
    """,
)
def q_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrossesProcess (line vs polygon): the line's interior meets both the
    zone's interior and exterior. Engine = proper segment×segment crossing ∨
    (vertex strictly in ∧ vertex strictly out); oracle = closed-form interval
    algebra for axis-aligned segments vs rect zones."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = line_features(spark, sf_dir)
    out = feature_spatial_join(
        feats, _zone_index(), predicate="crosses", feature_key="s_suppkey", kind="line"
    )
    return out.select("s_suppkey", "zone_id")


def _feature_near_oracle() -> str:
    from gaia_spark.functions import portable as P

    return f"""
    WITH {PARCELS_CTE}, {ZONES_CTE},
    d AS (SELECT p_partkey, zone_id, {_box_dist_sql()} AS dist
          FROM parcels CROSS JOIN zones)
    SELECT p_partkey, zone_id, {P.floor_scaled_sql('dist', 0)} AS dist_m_e0
    FROM d WHERE dist <= 300000.0
    """


@register("q_feature_near", _feature_near_oracle())
def q_feature_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NearProcess for NON-POINT features (buffer-as-predicate): every
    (parcel, zone) pair within 300 km geometry distance, intersecting pairs
    at distance 0. Engine = broadcast zones-array scoring + filtered
    explode; oracle = the same closed-form box-gap algebra as
    q_feature_distance with a radius filter."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.feature_distance import feature_near_join

    feats = parcel_features(spark, sf_dir)
    out = feature_near_join(feats, _zone_index(), radius_m=300_000.0, feature_key="p_partkey")
    return out.select(
        "p_partkey",
        "zone_id",
        F2.expr(P.floor_scaled_sql("dist_m", 0)).alias("dist_m_e0"),
    )


@register(
    "q_parcel_equals",
    """
    SELECT p_partkey, p_partkey % 14 AS zone_id
    FROM part WHERE p_partkey % 5 = 0
    """,
)
def q_parcel_equals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EqualsProcess for POLYGON features: the touch fixture's mode-0
    parcels coincide exactly with their base zone; the engine finds them
    by canonical-ring equi-join (rotation/orientation/closure invariant,
    no pairwise geometry), the oracle by the fixture's closed form."""
    from gaia_spark.operators.feature_join import feature_equals_join
    from gaia_spark.queries import oracle_zones_pdf

    feats = touch_parcel_features(spark, sf_dir)
    zones = local_df(
        spark, oracle_zones_pdf(), "zone_id long, vertices array<struct<lat:double,lon:double>>"
    )
    return feature_equals_join(
        feats, zones, key_a="p_partkey", key_b="zone_id"
    )


@register("q_feature_distance_cells", _feature_dist_oracle())
def q_feature_distance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED nearest-zone path (iterative cell-ring expansion,
    zones never broadcast — the shape for zone layers too large for one
    executor) against the SAME closed-form oracle as q_feature_distance:
    both physical strategies must produce identical results."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.feature_distance import feature_distance_nearest_cells

    feats = parcel_features(spark, sf_dir)
    zones = _zone_index().zone_df(spark).select("zone_id", "edges")
    out = feature_distance_nearest_cells(feats, zones, res=5, feature_key="p_partkey")
    return out.select(
        "p_partkey",
        "zone_id",
        F2.expr(P.floor_scaled_sql("dist_m", 0)).alias("dist_m_e0"),
    )


def _feature_knn_oracle() -> str:
    from gaia_spark.functions import portable as P

    return f"""
    WITH {PARCELS_CTE}, {ZONES_CTE},
    d AS (SELECT p_partkey, zone_id, {_box_dist_sql()} AS dist
          FROM parcels CROSS JOIN zones),
    r AS (SELECT p_partkey, zone_id, dist,
          row_number() OVER (PARTITION BY p_partkey ORDER BY dist, zone_id) AS rank
          FROM d)
    SELECT p_partkey, zone_id, cast(rank as int) AS rank,
           {P.floor_scaled_sql('dist', 0)} AS dist_m_e0
    FROM r WHERE rank <= 3
    """


@register("q_feature_knn3", _feature_knn_oracle())
def q_feature_knn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN for NON-POINT features: 3 nearest zones per parcel via one JVM
    array_sort over the broadcast scored-zones array (no shuffle); oracle =
    box-gap algebra + rank window."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.feature_distance import feature_knn_join

    feats = parcel_features(spark, sf_dir)
    out = feature_knn_join(feats, _zone_index(), k=3, feature_key="p_partkey")
    return out.select(
        "p_partkey", "zone_id", "rank",
        F2.expr(P.floor_scaled_sql("dist_m", 0)).alias("dist_m_e0"),
    )


def _zone_parcel_stats_oracle() -> str:
    from gaia_spark.functions import portable as P

    # rect-ring perimeter = the 4 edge haversines of the closed ring —
    # bit-identical to chain_length_m_sql over the same 5-vertex ring
    perim = " + ".join([
        P.haversine_m_sql("pmin_lat", "pmin_lon", "pmin_lat", "pmax_lon"),
        P.haversine_m_sql("pmin_lat", "pmax_lon", "pmax_lat", "pmax_lon"),
        P.haversine_m_sql("pmax_lat", "pmax_lon", "pmax_lat", "pmin_lon"),
        P.haversine_m_sql("pmax_lat", "pmin_lon", "pmin_lat", "pmin_lon"),
    ])
    return f"""
    WITH {PARCELS_CTE}, {ZONES_CTE}
    SELECT zone_id, count(*) AS n_parcels,
           {P.floor_scaled_sql(f'sum({perim})', 0)} AS perim_sum_e0
    FROM parcels JOIN zones
      ON pmin_lat <= max_lat AND pmax_lat >= min_lat
     AND pmin_lon <= max_lon AND pmax_lon >= min_lon
    GROUP BY zone_id
    """


@register("q_zone_parcel_stats", _zone_parcel_stats_oracle())
def q_zone_parcel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-in-polygon zonal aggregation (the vector twin of
    ZonalStatsProcess): parcels joined to zones by the generic feature
    intersects, then per-zone count + summed ring perimeter (one JVM
    chain-length expression) — feature attributes aggregated by zone."""
    import pyspark.sql.functions as F2

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.feature_join import feature_spatial_join
    from gaia_spark.operators.scalar_geo import chain_length_m_sql

    feats = parcel_features(spark, sf_dir)
    joined = feature_spatial_join(
        feats, _zone_index(), predicate="intersects", feature_key="p_partkey"
    )
    return (
        joined.withColumn("_perim", F2.expr(chain_length_m_sql("vertices")))
        .groupBy("zone_id")
        .agg(
            F2.count("*").alias("n_parcels"),
            F2.expr(P.floor_scaled_sql("sum(_perim)", 0)).alias("perim_sum_e0"),
        )
    )


def _parcel_area_oracle() -> str:
    from gaia_spark.functions import portable as P

    return f"""
    WITH {PARCELS_CTE}
    SELECT p_partkey,
           {P.floor_scaled_sql(P.rect_area_m2_sql('pmin_lat', 'pmin_lon', 'pmax_lat', 'pmax_lon'), 0)} AS area_m2_e0
    FROM parcels
    """


@register("q_parcel_area_sphere", _parcel_area_oracle())
def q_parcel_area_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AreaProcess on the SPHERE: the generic Chamberlain-Duquette ring
    aggregate (one JVM expression over the vertex array) against the rect
    closed form - the engine sees only vertices; the rect identity is
    oracle-private knowledge."""
    from gaia_spark.operators.scalar_geo import ring_area_sphere_m2_sql
    from gaia_spark.functions import portable as P

    feats = parcel_features(spark, sf_dir)
    return feats.select(
        "p_partkey",
        F.expr(P.floor_scaled_sql(ring_area_sphere_m2_sql("vertices"), 0)).alias("area_m2_e0"),
    )


def _parcel_area_ellipsoid_oracle() -> str:
    from gaia_spark.functions import portable as P

    rect = P.rect_area_ellipsoid_m2_sql("pmin_lat", "pmin_lon", "pmax_lat", "pmax_lon")
    # km² quantization (k=-6): parcel areas run ~1e12 m², where the
    # engine-aggregate vs closed-form float paths differ by ~1 ULP ≈ 1 m²
    # — integer-m² flooring flipped 1 row in 2000 at sf0.01; km² puts the
    # boundary 10⁶ ULPs away
    return f"""
    WITH {PARCELS_CTE}
    SELECT p_partkey,
           {P.floor_scaled_sql(rect, -6)} AS area_km2_e0
    FROM parcels
    """


@register("q_parcel_area_ellipsoid", _parcel_area_ellipsoid_oracle())
def q_parcel_area_ellipsoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AreaProcess on the WGS84 ELLIPSOID: the Chamberlain-Duquette ring
    aggregate evaluated on the authalic sphere (exact q-ratio authalic
    latitudes) against the exact ellipsoidal rect closed form - like
    q_parcel_area_sphere the engine sees only vertices, and the authalic
    map makes the rect identity EXACT on the ellipsoid, closing the
    geodesy accuracy gap for areas like Vincenty does for distances."""
    from gaia_spark.operators.scalar_geo import ring_area_ellipsoid_m2_sql
    from gaia_spark.functions import portable as P

    feats = parcel_features(spark, sf_dir)
    return feats.select(
        "p_partkey",
        F.expr(P.floor_scaled_sql(ring_area_ellipsoid_m2_sql("vertices"), -6)).alias(
            "area_km2_e0"
        ),
    )


def _areal_interp_oracle() -> str:
    from gaia_spark.functions import portable as P2
    from gaia_spark.operators.zonal import overlap_weight_sql

    w = overlap_weight_sql(
        "pmin_lat", "pmin_lon", "pmax_lat", "pmax_lon",
        "min_lat", "min_lon", "max_lat", "max_lon",
    )
    return f"""
    WITH {PARCELS_CTE}, {ZONES_CTE},
    pv AS (SELECT parcels.*, p_retailprice FROM parcels JOIN part USING (p_partkey)),
    pr AS (SELECT zone_id, p_retailprice, {w} AS w
           FROM pv JOIN zones
             ON pmin_lat <= max_lat AND pmax_lat >= min_lat
            AND pmin_lon <= max_lon AND pmax_lon >= min_lon)
    SELECT zone_id, cast(count(*) as bigint) AS n_src,
           {P2.floor_scaled_sql('sum(p_retailprice * w)', 2)} AS alloc_e2
    FROM pr GROUP BY zone_id
    """


@register("q_areal_interp", _areal_interp_oracle())
def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (census reaggregation): parcel retail price
    redistributed onto the zone layer by spherical overlap-area fraction —
    cell-bucketed candidate join, broadcast zone extents, one closed-form
    JVM weight expression, one combinable groupBy(zone). The engine sees
    only the generic vertex rings; the rect closed form is oracle
    knowledge."""
    import pandas as pd2

    from gaia_spark.functions import portable as P2
    from gaia_spark.operators.zonal import areal_reaggregate
    from gaia_spark.queries import _zone_index, oracle_zones_pdf

    feats = parcel_features(spark, sf_dir).join(
        load(spark, sf_dir, "part").select("p_partkey", "p_retailprice"), "p_partkey"
    )
    zr = local_df(
        spark, oracle_zones_pdf(),
        "zone_id long, min_lat double, min_lon double, max_lat double, max_lon double",
    )
    out = areal_reaggregate(
        feats, _zone_index(), zr, "p_retailprice", feature_key="p_partkey"
    )
    return out.select(
        "zone_id",
        "n_src",
        F.expr(P2.floor_scaled_sql("alloc", 2)).alias("alloc_e2"),
    )


# --- dissolve (union-by-attribute via interior-edge cancellation) ------------
#
# Grid-mesh fixture: the 100 suppliers tile a 10x10 quadrat mesh (2.5 deg
# cells, vertex-exact shared edges by construction); group = s_suppkey % 7
# scatters each group into several disjoint parts. Shared strings keep the
# vertex doubles bit-identical across engines; the ENGINE sees only
# (grp, fid, vertices) — the grid structure is oracle-private knowledge.

_MESH_GX = "(s_suppkey % 10)"
_MESH_GY = "cast(floor(s_suppkey / cast(10 as double)) as bigint)"
_MESH_GRP = "(s_suppkey % 7)"
_MESH_LA0 = f"(cast(-30 as double) + {_MESH_GY} * (cast(25 as double) / 10))"
_MESH_LA1 = f"(cast(-30 as double) + ({_MESH_GY} + 1) * (cast(25 as double) / 10))"
_MESH_LO0 = f"(cast(-60 as double) + {_MESH_GX} * (cast(25 as double) / 10))"
_MESH_LO1 = f"(cast(-60 as double) + ({_MESH_GX} + 1) * (cast(25 as double) / 10))"


def mesh_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("fid"),
        F.expr(_MESH_GRP).alias("grp"),
        F.expr(_MESH_LA0).alias("_a"),
        F.expr(_MESH_LA1).alias("_c"),
        F.expr(_MESH_LO0).alias("_b"),
        F.expr(_MESH_LO1).alias("_d"),
    )
    ring = (
        "array(struct(_a AS lat, _b AS lon), struct(_a AS lat, _d AS lon), "
        "struct(_c AS lat, _d AS lon), struct(_c AS lat, _b AS lon), "
        "struct(_a AS lat, _b AS lon))"
    )
    return s.select("grp", "fid", F.expr(ring).alias("vertices"))


def _dissolve_oracle() -> str:
    from gaia_spark.functions import portable as P

    q = lambda x: P.floor_scaled_sql(x, 9)  # noqa: E731
    h = P.haversine_m_sql("la_a", "lo_a", "la_b", "lo_b")
    return f"""
    WITH RECURSIVE mesh AS (SELECT s_suppkey AS fid, {_MESH_GRP} AS grp,
                         {_MESH_GX} AS gx, {_MESH_GY} AS gy,
                         {_MESH_LA0} AS la0, {_MESH_LA1} AS la1,
                         {_MESH_LO0} AS lo0, {_MESH_LO1} AS lo1
                  FROM supplier),
    edges AS (
      SELECT grp, la0 AS la_a, lo0 AS lo_a, la0 AS la_b, lo1 AS lo_b FROM mesh
      UNION ALL
      SELECT grp, la1, lo0, la1, lo1 FROM mesh
      UNION ALL
      SELECT grp, la0, lo0, la1, lo0 FROM mesh
      UNION ALL
      SELECT grp, la0, lo1, la1, lo1 FROM mesh),
    canon AS (SELECT grp, {q('la_a')} AS ka, {q('lo_a')} AS ko,
                     {q('la_b')} AS kb, {q('lo_b')} AS kp,
                     {P.floor_scaled_sql(h, 3)} AS len_e3
              FROM edges),
    ek AS (SELECT grp, ka, ko, kb, kp, count(*) AS cnt, min(len_e3) AS len_e3
           FROM canon GROUP BY grp, ka, ko, kb, kp),
    outline AS (SELECT grp, cast(sum(len_e3) as bigint) AS boundary_m_e3
                FROM ek WHERE cnt = 1 GROUP BY grp),
    areas AS (SELECT grp, count(*) AS n_features,
                     cast(sum({P.floor_scaled_sql(P.rect_area_m2_sql('la0', 'lo0', 'la1', 'lo1'), 0)}) as bigint) AS area_m2_e0
              FROM mesh GROUP BY grp),
    -- disjoint parts from rook adjacency on the grid (oracle-private
    -- knowledge; the engine derives adjacency from vertex-exact edge keys)
    adj AS (SELECT a.fid AS a, b.fid AS b FROM mesh a JOIN mesh b
            ON a.grp = b.grp AND abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1),
    reach AS (SELECT fid AS a, fid AS b FROM mesh
              UNION
              SELECT r.a, j.b FROM reach r JOIN adj j ON r.b = j.a),
    lab AS (SELECT a AS fid, min(b) AS label FROM reach GROUP BY a),
    parts AS (SELECT m.grp, count(DISTINCT l.label) AS n_parts
              FROM mesh m JOIN lab l ON m.fid = l.fid GROUP BY m.grp)
    SELECT a.grp AS grp, a.n_features, a.area_m2_e0,
           coalesce(o.boundary_m_e3, 0) AS boundary_m_e3, p.n_parts
    FROM areas a LEFT JOIN outline o ON a.grp = o.grp
    JOIN parts p ON a.grp = p.grp
    """


@register("q_dissolve", _dissolve_oracle())
def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIS dissolve: quadrat-mesh features unioned by group — area (summed
    spherical shoelace, quantized per feature so group sums are integer-
    exact), outer boundary (interior shared edges cancel), and disjoint
    part count (pointer-doubling components over the shared-edge graph).
    The oracle knows the grid (rect areas, rook adjacency, recursive-CTE
    closure); the engine runs the fully generic vertex machinery — two
    derivations, one answer."""
    from gaia_spark.operators.dissolve import dissolve_parts, dissolve_rings

    feats = mesh_features(spark, sf_dir)
    # area_scale=0: the shoelace-vs-rect-closed-form cross-check needs the
    # coarser fixed point (both engines integerize identical doubles)
    d = dissolve_rings(feats, group_col="grp", id_col="fid", area_scale=0)
    parts = dissolve_parts(feats, group_col="grp", id_col="fid")
    return d.join(parts, "grp").select(
        "grp", "n_features", "area_m2_e0", "boundary_m_e3", "n_parts"
    )


# --- snap-to-line (map-matching primitive) -----------------------------------

def _snap_oracle() -> str:
    from gaia_spark.functions import portable as P
    from gaia_spark.operators.snap import snap_point_sql, snap_t_sql
    from gaia_spark.queries import PTS_CTE

    t = snap_t_sql("p.lat", "p.lon", "s.y1", "s.x1", "s.y2", "s.x2")
    # scored works on cand's bare projected columns, not the joined aliases
    sy, sx = snap_point_sql("t", "y1", "x1", "y2", "x2")
    return f"""
    WITH {PTS_CTE}, {LINES_CTE},
    seg AS (SELECT s_suppkey, 0 AS seg_idx, la AS y1, lo AS x1,
                   CASE WHEN horiz THEN la ELSE la + len END AS y2,
                   CASE WHEN horiz THEN lo + len ELSE lo END AS x2
            FROM lines),
    cand AS (SELECT p.c_custkey, s.s_suppkey, s.seg_idx, {t} AS t,
                    s.y1, s.x1, s.y2, s.x2, p.lat, p.lon
             FROM pts p CROSS JOIN seg s),
    scored AS (SELECT c_custkey, s_suppkey, seg_idx, t, {sy} AS sy, {sx} AS sx,
                      {P.floor_scaled_sql(P.haversine_m_sql('lat', 'lon', sy, sx), 3)} AS dist_m_e3
               FROM cand),
    hit AS (SELECT * FROM scored WHERE dist_m_e3 <= 500000000),
    r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                    ORDER BY dist_m_e3, s_suppkey, seg_idx) AS rk FROM hit)
    SELECT c_custkey, s_suppkey, seg_idx,
           {P.floor_scaled_sql('t', 6)} AS t_e6,
           {P.floor_scaled_sql('sy', 6)} AS snap_lat_e6,
           {P.floor_scaled_sql('sx', 6)} AS snap_lon_e6,
           dist_m_e3
    FROM r WHERE rk = 1
    """


@register("q_snap_lines", _snap_oracle())
def q_snap_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching snap: every customer point gets its closest ON-LINE
    location (segment, clamped t, projected point, distance) within
    500 km. Engine candidates come from the wrap-safe expanded-bbox cell
    scatter; the oracle runs the brute cross join over the same shared
    projection formulas — derivation disagreement on the candidate
    generator, bit-identical snap arithmetic."""
    from gaia_spark.operators.snap import snap_to_lines
    from gaia_spark.queries import customer_points

    pts = customer_points(spark, sf_dir).select(
        F.col("c_custkey"), "lat", "lon"
    )
    out = snap_to_lines(
        pts,
        line_features(spark, sf_dir),
        max_dist_m=500_000.0,
        res=5,
        point_key="c_custkey",
        line_key="s_suppkey",
    )
    return out


# --- line-line intersection overlay ------------------------------------------

# dense 20°×20° frontier so the layers actually cross (the shared LINES_CTE
# suppliers are scattered over ±75° and never meet at small SF)
_OLAT = "((s_suppkey * 7919 % 2000) / cast(100 as double) + 10.0003)"
_OLON = "((s_suppkey * 104729 % 2000) / cast(100 as double) + 20.0007)"
_OLINES_CTE = (
    "olines AS (SELECT s_suppkey, s_suppkey % 2 = 0 AS horiz, "
    f"{_OLAT} AS la, {_OLON} AS lo, {_SLEN} AS len FROM supplier)"
)


def _overlay_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_OLAT).alias("_la"),
        F.expr(_OLON).alias("_lo"),
        F.expr(_SLEN).alias("_len"),
    )
    chain = (
        "CASE WHEN s_suppkey % 2 = 0 "
        "THEN array(struct(_la AS lat, _lo AS lon), struct(_la AS lat, _lo + _len AS lon)) "
        "ELSE array(struct(_la AS lat, _lo AS lon), struct(_la + _len AS lat, _lo AS lon)) END"
    )
    return s.select("s_suppkey", F.expr(chain).alias("vertices"))


def _overlay_oracle() -> str:
    from gaia_spark.functions import portable as P
    from gaia_spark.operators.overlay import (
        seg_d_sql,
        seg_point_sql,
        seg_tn_sql,
        seg_un_sql,
    )

    a = ["a.y1", "a.x1", "a.y2", "a.x2"]
    b = ["b.y1", "b.x1", "b.y2", "b.x2"]
    d = seg_d_sql(*a, *b)
    tn = seg_tn_sql(a[0], a[1], b[1], b[0], b[2], b[3])
    un = seg_un_sql(a[0], a[1], a[2], a[3], b[0], b[1])
    iy, ix = seg_point_sql("t", "y1", "x1", "y2", "x2")
    return f"""
    WITH {_OLINES_CTE},
    seg AS (SELECT s_suppkey, horiz, 0 AS seg_idx, la AS y1, lo AS x1,
                   CASE WHEN horiz THEN la ELSE la + len END AS y2,
                   CASE WHEN horiz THEN lo + len ELSE lo END AS x2
            FROM olines),
    cand AS (SELECT a.s_suppkey AS line_a, a.seg_idx AS seg_a,
                    b.s_suppkey AS line_b, b.seg_idx AS seg_b,
                    a.y1, a.x1, a.y2, a.x2,
                    {d} AS d, {tn} AS tn, {un} AS un
             FROM seg a JOIN seg b ON a.horiz AND NOT b.horiz),
    hit AS (SELECT line_a, seg_a, line_b, seg_b, tn / d AS t, un / d AS u,
                   y1, x1, y2, x2
            FROM cand WHERE d != 0
              AND tn / d >= 0 AND tn / d <= 1 AND un / d >= 0 AND un / d <= 1)
    SELECT line_a, seg_a, line_b, seg_b,
           {P.floor_scaled_sql('t', 6)} AS t_e6,
           {P.floor_scaled_sql('u', 6)} AS u_e6,
           {P.floor_scaled_sql(iy, 6)} AS lat_e6,
           {P.floor_scaled_sql(ix, 6)} AS lon_e6
    FROM hit
    """


@register("q_line_intersections", _overlay_oracle())
def q_line_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector overlay: every crossing POINT between the horizontal and
    vertical supplier line layers — segment pair, parameters t/u, and the
    intersection coordinates. Engine candidates come from the exact-bbox
    cell covers with ownership dedup (only the cell containing the
    crossing reports the pair); the oracle runs the brute cross join over
    the same closed-form d/t/u arithmetic."""
    from gaia_spark.operators.overlay import line_intersections

    lines = _overlay_lines(spark, sf_dir)
    horiz = lines.where("s_suppkey % 2 = 0").withColumnRenamed("s_suppkey", "line_a")
    vert = lines.where("s_suppkey % 2 = 1").withColumnRenamed("s_suppkey", "line_b")
    return line_intersections(horiz, vert, res=5, key_a="line_a", key_b="line_b")


# --- WKT write -> parse round trip -------------------------------------------------


def _wkt_oracle() -> str:
    from gaia_spark.functions import portable as P
    from gaia_spark.functions import wkt as WK

    pairs = ", ".join(["%.6f %.6f"] * 5)
    args = (
        "pmin_lon, pmin_lat, pmax_lon, pmin_lat, pmax_lon, pmax_lat, "
        "pmin_lon, pmax_lat, pmin_lon, pmin_lat"
    )
    parse = WK.parse_wkt_vertices_sql("wkt", P.DUCK)
    return f"""
    WITH {PARCELS_CTE},
    w AS (SELECT p_partkey,
                 'POLYGON ((' || printf('{pairs}', {args}) || '))' AS wkt
          FROM parcels),
    pp AS (SELECT p_partkey, wkt, {WK.wkt_type_sql('wkt')} AS gtype,
                  {parse} AS pv FROM w)
    SELECT p_partkey, wkt, gtype, cast(len(pv) as bigint) AS n_vertices,
           {P.floor_scaled_sql("list_min(list_transform(pv, v -> v.lat))", 6)} AS min_lat_e6,
           {P.floor_scaled_sql("list_max(list_transform(pv, v -> v.lat))", 6)} AS max_lat_e6,
           {P.floor_scaled_sql("list_min(list_transform(pv, v -> v.lon))", 6)} AS min_lon_e6,
           {P.floor_scaled_sql("list_max(list_transform(pv, v -> v.lon))", 6)} AS max_lon_e6
    FROM pp
    """


@register("q_wkt_roundtrip", _wkt_oracle())
def q_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT geometry IO round trip over the generic parcel ring layer:
    write each feature as OGC 'POLYGON ((x y, ...))' text (%.6f, the
    geoparse formatting precedent), parse the text back through the
    regex coordinate reader, and hash-check the WKT string byte for byte
    plus the parsed ring's extent at e6. The oracle builds the expected
    text in closed printf form (rect corners are oracle-private) and
    re-parses it with the DuckDB-dialect reader."""
    from gaia_spark.functions import portable as P
    from gaia_spark.functions import wkt as WK

    feats = parcel_features(spark, sf_dir)
    w = feats.select(
        "p_partkey", F.expr(WK.wkt_polygon_sql("vertices", P.SPARK)).alias("wkt")
    )
    parsed = w.select(
        "p_partkey",
        "wkt",
        F.expr(WK.wkt_type_sql("wkt")).alias("gtype"),
        F.expr(WK.parse_wkt_vertices_sql("wkt", P.SPARK)).alias("_pv"),
    )
    return parsed.select(
        "p_partkey",
        "wkt",
        "gtype",
        F.size("_pv").cast("long").alias("n_vertices"),
        F.expr(P.floor_scaled_sql("array_min(transform(_pv, v -> v.lat))", 6)).alias("min_lat_e6"),
        F.expr(P.floor_scaled_sql("array_max(transform(_pv, v -> v.lat))", 6)).alias("max_lat_e6"),
        F.expr(P.floor_scaled_sql("array_min(transform(_pv, v -> v.lon))", 6)).alias("min_lon_e6"),
        F.expr(P.floor_scaled_sql("array_max(transform(_pv, v -> v.lon))", 6)).alias("max_lon_e6"),
    )


# --- feature-layer buffer (polygon offset rings) ------------------------------

def _feature_buffer_oracle() -> str:
    from gaia_spark.functions import portable as P

    r = "cast(2.0 as double)"
    # engine base normals at the four CCW rect corners are exact atan2
    # outcomes (-pi, -pi/2, -0.0, pi/2) and every sweep is exactly pi/2, so
    # the oracle replays vertex construction bit-for-bit: base + (pi/2)*k/4
    ang = "(base + (pi() / 2) * cast(k as double) / cast(4 as double))"
    area = (
        "(pmax_lat - pmin_lat) * (pmax_lon - pmin_lon) "
        f"+ (2 * (pmax_lat - pmin_lat) + 2 * (pmax_lon - pmin_lon)) * {r} "
        f"+ 8 * {r} * {r} * sin(pi() / 8)"
    )
    perim = (
        f"2 * (pmax_lat - pmin_lat) + 2 * (pmax_lon - pmin_lon) "
        f"+ 32 * {r} * sin(pi() / 16)"
    )
    return f"""
    WITH {PARCELS_CTE},
    cs AS (SELECT unnest(range(1, 5)) AS ci),
    ks AS (SELECT unnest(range(0, 5)) AS k),
    corners AS (SELECT p_partkey, ci,
      CASE WHEN ci IN (1, 2) THEN pmin_lat ELSE pmax_lat END AS cy,
      CASE WHEN ci IN (1, 4) THEN pmin_lon ELSE pmax_lon END AS cx,
      CASE ci WHEN 1 THEN -pi() WHEN 2 THEN -pi()/2 WHEN 3 THEN 0.0
              ELSE pi()/2 END AS base,
      pmin_lat, pmax_lat, pmin_lon, pmax_lon
      FROM parcels CROSS JOIN cs),
    verts AS (SELECT p_partkey,
      cy + {r} * sin({ang}) AS lat,
      cx + {r} * cos({ang}) AS lon,
      CASE WHEN ci = 1 AND k = 0 THEN 2 ELSE 1 END AS mult,
      pmin_lat, pmax_lat, pmin_lon, pmax_lon
      FROM corners CROSS JOIN ks)
    SELECT p_partkey,
      cast(sum(mult) as bigint) AS n_vertices,
      cast(sum(mult * {P.floor_scaled_sql('lat', 4)}) as bigint) AS lat_e4_sum,
      cast(sum(mult * {P.floor_scaled_sql('lon', 4)}) as bigint) AS lon_e4_sum,
      {P.floor_scaled_sql(f'min({area})', 3)} AS area_e3,
      {P.floor_scaled_sql(f'min({perim})', 3)} AS perim_e3
    FROM verts GROUP BY p_partkey
    """


@register("q_feature_buffer", _feature_buffer_oracle())
def q_feature_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-layer BufferProcess over the generic parcel ring layer
    (`[R] BufferProcess` on polygons — the engine's point case is
    q_buffer_rings): the offset ring with round joins materializes as one
    JVM HOF expression; audited per parcel by vertex count, exact
    per-vertex e4 lat/lon bigint checksums (the oracle replays the arc
    construction bit-for-bit — rect corner normals are exact atan2
    doubles), and shoelace area / perimeter vs the closed forms
    A + P·r + 8r²·sin(π/8) and P + 32r·sin(π/16)."""
    from gaia_spark.functions import portable as P
    from gaia_spark.operators.scalar_geo import buffer_features
    from gaia_spark.operators.spatial_join import edges_sql

    feats = parcel_features(spark, sf_dir)
    buf = buffer_features(feats, 2.0, quad_segs=4)
    pairs = edges_sql("buffered")
    area = (
        f"aggregate({pairs}, cast(0 as double), "
        "(acc, p) -> acc + (p.x1 * p.y2 - p.x2 * p.y1)) / 2.0"
    )
    perim = (
        f"aggregate({pairs}, cast(0 as double), (acc, p) -> "
        "acc + sqrt((p.x2 - p.x1) * (p.x2 - p.x1) + (p.y2 - p.y1) * (p.y2 - p.y1)))"
    )
    lat_sum = (
        "aggregate(buffered, cast(0 as bigint), "
        f"(acc, p) -> acc + {P.floor_scaled_sql('p.lat', 4)})"
    )
    lon_sum = (
        "aggregate(buffered, cast(0 as bigint), "
        f"(acc, p) -> acc + {P.floor_scaled_sql('p.lon', 4)})"
    )
    return buf.select(
        "p_partkey",
        F.size("buffered").cast("long").alias("n_vertices"),
        F.expr(lat_sum).alias("lat_e4_sum"),
        F.expr(lon_sum).alias("lon_e4_sum"),
        F.expr(P.floor_scaled_sql(area, 3)).alias("area_e3"),
        F.expr(P.floor_scaled_sql(perim, 3)).alias("perim_e3"),
    )
