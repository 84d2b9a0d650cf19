"""Per-feature scalar geometry: buffer / centroid / area / length.

Reference semantics: ``[R] gaia/geo/processes_vector.py ::
{Buffer,Centroid,Area,Length}Process`` — each adds a derived geometry or
measure column. Vectorized numpy in Arrow-batched pandas UDFs over the
``array<struct<lat,lon>>`` ring encoding; no shapely objects ever cross the
Arrow boundary (SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from gaia_spark.functions.kernel import polygon_area_m2, polyline_length_m
from gaia_spark.operators.spatial_join import edges_sql


@F.pandas_udf(DoubleType())
def ring_area_m2(vertices: pd.Series) -> pd.Series:
    """Spherical polygon area (m²) per ring — AreaProcess."""
    def one(v):
        if v is None or len(v) < 3:
            return 0.0
        return polygon_area_m2(
            np.array([p["lat"] for p in v]), np.array([p["lon"] for p in v])
        )
    return vertices.map(one)


@F.pandas_udf(DoubleType())
def ring_length_m(vertices: pd.Series) -> pd.Series:
    """Perimeter / polyline length (m) — LengthProcess."""
    def one(v):
        if v is None or len(v) < 2:
            return 0.0
        return polyline_length_m(
            np.array([p["lat"] for p in v]), np.array([p["lon"] for p in v])
        )
    return vertices.map(one)


centroid_schema = StructType(
    [StructField("lat", DoubleType()), StructField("lon", DoubleType())]
)


@F.pandas_udf(centroid_schema)
def ring_centroid(vertices: pd.Series) -> pd.DataFrame:
    """Vertex-mean centroid per feature (closing vertex dropped) —
    CentroidProcess per-feature variant."""
    lats, lons = [], []
    for v in vertices:
        if v is None or len(v) == 0:
            lats.append(None); lons.append(None); continue
        vl = [p["lat"] for p in v]
        vo = [p["lon"] for p in v]
        if len(vl) > 1 and vl[0] == vl[-1] and vo[0] == vo[-1]:
            vl, vo = vl[:-1], vo[:-1]
        lats.append(float(np.mean(vl)))
        lons.append(float(np.mean(vo)))
    return pd.DataFrame({"lat": lats, "lon": lons})


def combined_centroid(points: DataFrame) -> DataFrame:
    """CentroidProcess(combined=True): centroid of the whole point set —
    one tiny agg, aliased for oracle parity."""
    return points.where(F.col("lat").isNotNull()).agg(
        F.avg("lat").alias("centroid_lat"), F.avg("lon").alias("centroid_lon")
    )


def chain_length_m_sql(vertices: str = "vertices") -> str:
    """LengthProcess as ONE JVM expression: summed haversine over the vertex
    chain (zip_with pairs + aggregate). Same formula as kernel
    .polyline_length_m; no Python stage."""
    from gaia_spark.functions import portable as P

    pairs = (
        f"zip_with(slice({vertices}, 1, size({vertices}) - 1), "
        f"slice({vertices}, 2, size({vertices}) - 1), "
        "(a, b) -> struct(a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2))"
    )
    h = P.haversine_m_sql("p.lat1", "p.lon1", "p.lat2", "p.lon2")
    return f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + {h})"


def ring_area_sphere_m2_sql(vertices: str = "vertices") -> str:
    """SPHERICAL polygon area (m²) as ONE JVM aggregate — the
    Chamberlain–Duquette / spherical-shoelace form
    |R²/2 · Σ (λ₂−λ₁)(sin φ₁ + sin φ₂)| over the CLOSED ring. Upgrades
    AreaProcess from the planar/rect forms: exact on the sphere for
    rhumb-edged rings, and reduces algebraically to rect_area_m2_sql on
    lat/lon-aligned rectangles (the oracle cross-check in
    q_parcel_area_sphere). Not valid for rings crossing the antimeridian
    (same caveat as every degree-space vertex op here)."""
    from gaia_spark.functions import portable as P

    pairs = (
        f"zip_with(slice({vertices}, 1, size({vertices}) - 1), "
        f"slice({vertices}, 2, size({vertices}) - 1), "
        "(a, b) -> struct(a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2))"
    )
    term = (
        "(radians(p.lon2) - radians(p.lon1)) * "
        "(sin(radians(p.lat1)) + sin(radians(p.lat2)))"
    )
    acc = f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + {term})"
    return f"abs(({acc}) * {P.EARTH_RADIUS_M * P.EARTH_RADIUS_M / 2.0})"


def ring_area_ellipsoid_m2_sql(vertices: str = "vertices") -> str:
    """WGS84-ELLIPSOID polygon area (m²) as ONE JVM aggregate: the
    Chamberlain–Duquette shoelace evaluated on the AUTHALIC sphere —
    |R_A²/2 · Σ (λ₂−λ₁)(sin ξ₁ + sin ξ₂)| with ξ the authalic latitude
    (exact q-ratio, :func:`portable.sin_authalic_sql`) and R_A the
    authalic radius. The authalic map preserves areas exactly, so for
    lat/lon-edged rings (rects, the parcel fixtures) this IS the exact
    ellipsoidal area — the sub-percent accuracy win over
    :func:`ring_area_sphere_m2_sql` that gaia gets from GEOS/pyproj.
    Same antimeridian caveat as the spherical form."""
    from gaia_spark.functions import portable as P

    pairs = (
        f"zip_with(slice({vertices}, 1, size({vertices}) - 1), "
        f"slice({vertices}, 2, size({vertices}) - 1), "
        "(a, b) -> struct(a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2))"
    )
    term = (
        f"(radians(p.lon2) - radians(p.lon1)) * "
        f"({P.sin_authalic_sql('p.lat1')} + {P.sin_authalic_sql('p.lat2')})"
    )
    acc = f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + {term})"
    return f"abs(({acc}) * {P.authalic_radius_sq() / 2.0!r})"


def ring_centroid_area_sql(vertices: str = "vertices") -> str:
    """AREA-WEIGHTED polygon centroid (planar shoelace) as a JVM expression
    returning struct(lat, lon) — the semantics of shapely's ``centroid``
    that the reference's CentroidProcess exposes (``[R] gaia/geo/
    processes_vector.py :: CentroidProcess``), unlike the vertex-mean
    variant (kept as ``ring_centroid`` for point clouds)."""
    pairs = edges_sql(vertices)
    cross = "(p.x1 * p.y2 - p.x2 * p.y1)"
    a2 = f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + {cross})"
    cx = (
        f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + (p.x1 + p.x2) * {cross})"
    )
    cy = (
        f"aggregate({pairs}, cast(0 as double), (acc, p) -> acc + (p.y1 + p.y2) * {cross})"
    )
    return f"struct(({cy}) / (3 * ({a2})) AS lat, ({cx}) / (3 * ({a2})) AS lon)"


def buffer_ngon_sql(lat: str = "lat", lon: str = "lon", radius_m: float = 0.0, n: int = 32) -> str:
    """BufferProcess ring as ONE JVM expression: transform(sequence(0, n-1))
    of portable destination points, closing vertex appended. No Python stage
    — and the same portable formulas let the DuckDB oracle mirror any vertex
    in closed form."""
    from gaia_spark.functions import portable as P

    bearing = P.ngon_bearing_sql("i", n)
    lat2, lon2 = P.dest_point_sql(lat, lon, repr(float(radius_m)), bearing)
    ring = (
        f"transform(sequence(0, {n - 1}), i -> "
        f"struct({lat2} AS lat, {lon2} AS lon))"
    )
    return f"concat({ring}, slice({ring}, 1, 1))"


def add_buffer(points: DataFrame, radius_m: float, out: str = "buffer") -> DataFrame:
    """BufferProcess for points: a closed 32-gon spherical circle polygon
    per point, as one codegen-able JVM expression (NULL for a NULL lat).

    For *predicates* prefer the haversine form (operators.knn.near_join) —
    materialize polygons only for export/visualisation."""
    return points.withColumn(
        out,
        F.when(F.col("lat").isNotNull(), F.expr(buffer_ngon_sql("lat", "lon", radius_m))),
    )


# --- feature-layer buffer (polygon / line offset rings) ----------------------


def buffer_ring_sql(ring: str, radius_deg: float, quad_segs: int = 8) -> str:
    """Offset ring of a CONVEX ring column (open, CCW or CW — orientation is
    normalized in-plan) with round joins, as ONE JVM expression: per vertex,
    a ``quad_segs``-segment arc sweeps from the incoming edge's outward
    normal to the outgoing edge's — consecutive arcs' endpoints span the
    offset edges, so the result is the exact round-join offset polygon
    sampled at π/(2·quad_segs) per right angle. Planar (lon, lat) degree
    space like the engine's other vertex math; radius in degrees. Pure
    closed-form trig over the input doubles (atan2 normals, exact-double
    angle steps), so a dialect replay is hash-checkable per vertex.
    Returns a CLOSED ring (first point repeated)."""
    # cast: a bare float literal parses as DECIMAL in Spark SQL (portability
    # gotcha — see .claude/skills/verify) and must stay a double here
    r = f"cast({repr(float(radius_deg))} as double)"
    q = int(quad_segs)
    cur, prv, nxt = (
        f"element_at({ring}, i + 1)",
        f"element_at({ring}, ((i + size({ring}) - 1) % size({ring})) + 1)",
        f"element_at({ring}, ((i + 1) % size({ring})) + 1)",
    )
    phi_p = f"atan2(-({cur}.lon - {prv}.lon), {cur}.lat - {prv}.lat)"
    phi_n = f"atan2(-({nxt}.lon - {cur}.lon), {nxt}.lat - {cur}.lat)"
    e = f"(CASE WHEN ({phi_n}) - ({phi_p}) < 0 THEN ({phi_n}) - ({phi_p}) + 2 * pi() ELSE ({phi_n}) - ({phi_p}) END)"
    # quad_segs = segments per QUARTER circle: arcs get ceil(e / (π/2q))
    # segments, so caps (e=π) and right angles (e=π/2) are equally smooth.
    # Exact-double for the fixture angles: e.g. e=π/2 → (π/2)·(2q)/π = q
    # exactly (power-of-two scaling), so ceil never wobbles.
    nseg = f"greatest(1, cast(ceil(({e}) * {2 * q} / pi()) as int))"
    ang = f"(({phi_p}) + ({e}) * cast(k as double) / cast({nseg} as double))"
    arc = (
        f"transform(sequence(0, {nseg}), k -> struct("
        f"{cur}.lat + {r} * sin({ang}) AS lat, "
        f"{cur}.lon + {r} * cos({ang}) AS lon))"
    )
    open_ring = f"flatten(transform(sequence(0, size({ring}) - 1), i -> {arc}))"
    return f"concat({open_ring}, slice({open_ring}, 1, 1))"


def buffer_features(
    features: DataFrame,
    radius_deg: float,
    quad_segs: int = 8,
    kind: str = "poly",
    vertices_col: str = "vertices",
    out: str = "buffered",
) -> DataFrame:
    """Feature-layer BufferProcess (`[R] gaia/geo/processes_vector.py ::
    BufferProcess` buffers any geometry; the engine's point case is
    :func:`add_buffer`): materializes the offset ring of each polygon or
    polyline as a new vertex array — no Python stage, whole-plan codegen.

    ``kind='poly'``: ``vertices_col`` is a closed outer ring. CONVEX rings
    are exact (guarded in-plan: non-convex rows get NULL ``out`` rather
    than a silently self-intersecting ring — the general concave offset
    needs a polygon-clipping kernel, documented limitation). Orientation
    is normalized via the shoelace sign.

    ``kind='line'``: the open chain is doubled into the degenerate ring
    v₁..vₘ,vₘ₋₁..v₂, which makes the offset ring the round-capped capsule
    sweep; exact for straight or gently-bending chains with radius below
    the local feature size (concave-side self-intersection is the same
    documented limitation as every offset algorithm without clipping)."""
    tmp = "_buf_ring"
    if kind == "poly":
        ring0 = f"slice({vertices_col}, 1, size({vertices_col}) - 1)"
        pairs = (
            f"zip_with(slice({vertices_col}, 1, size({vertices_col}) - 1), "
            f"slice({vertices_col}, 2, size({vertices_col}) - 1), "
            "(a, b) -> a.lon * b.lat - b.lon * a.lat)"
        )
        shoe = f"aggregate({pairs}, cast(0 as double), (acc, x) -> acc + x)"
        ringed = features.withColumn(
            tmp, F.expr(f"CASE WHEN {shoe} >= 0 THEN {ring0} ELSE reverse({ring0}) END")
        )
        # convex guard: every consecutive edge pair turns left (cross >= 0)
        cr = (
            f"(element_at({tmp}, (i % size({tmp})) + 1).lon - element_at({tmp}, i).lon) * "
            f"(element_at({tmp}, ((i + 1) % size({tmp})) + 1).lat - element_at({tmp}, (i % size({tmp})) + 1).lat) - "
            f"(element_at({tmp}, (i % size({tmp})) + 1).lat - element_at({tmp}, i).lat) * "
            f"(element_at({tmp}, ((i + 1) % size({tmp})) + 1).lon - element_at({tmp}, (i % size({tmp})) + 1).lon)"
        )
        ok = f"forall(sequence(1, size({tmp})), i -> ({cr}) >= 0)"
    else:
        ringed = features.withColumn(
            tmp,
            F.expr(
                f"CASE WHEN size({vertices_col}) > 2 THEN concat({vertices_col}, "
                f"reverse(slice({vertices_col}, 2, size({vertices_col}) - 2))) "
                f"ELSE {vertices_col} END"
            ),
        )
        ok = "true"
    buf = buffer_ring_sql(tmp, radius_deg, quad_segs)
    return ringed.withColumn(
        out, F.expr(f"CASE WHEN {ok} THEN {buf} END")
    ).drop(tmp)


# --- great-circle densification (waypoint interpolation) ---------------------


def slerp_cols_sql(
    lat1: str, lon1: str, lat2: str, lon2: str, f: str
) -> dict[str, str]:
    """Spherical linear interpolation at fraction ``f`` along the great
    circle from point 1 to point 2 — the classic aviation-formulary slerp
    (weights sin((1-f)d)/sin d and sin(fd)/sin d on the unit-sphere
    vectors, recombined via atan2). One shared SQL string per output
    column, valid in Spark AND DuckDB, so densified waypoints are
    hash-checkable. Degenerate d = 0 (coincident endpoints) divides by
    zero — callers guarantee distinct endpoints."""
    p1, l1 = f"radians({lat1})", f"radians({lon1})"
    p2, l2 = f"radians({lat2})", f"radians({lon2})"
    hav = (
        f"sin(({p2} - {p1}) / 2) * sin(({p2} - {p1}) / 2) + "
        f"cos({p1}) * cos({p2}) * sin(({l2} - {l1}) / 2) * sin(({l2} - {l1}) / 2)"
    )
    d = f"(2 * asin(sqrt({hav})))"
    a = f"(sin((1.0 - ({f})) * {d}) / sin({d}))"
    b = f"(sin(({f}) * {d}) / sin({d}))"
    x = f"({a} * cos({p1}) * cos({l1}) + {b} * cos({p2}) * cos({l2}))"
    y = f"({a} * cos({p1}) * sin({l1}) + {b} * cos({p2}) * sin({l2}))"
    z = f"({a} * sin({p1}) + {b} * sin({p2}))"
    return {
        "lat": f"degrees(atan2({z}, sqrt({x} * {x} + {y} * {y})))",
        "lon": f"degrees(atan2({y}, {x}))",
    }


def densify_great_circle(
    segs: DataFrame,
    n_points: int,
    lat0: str = "lat0",
    lon0: str = "lon0",
    lat1: str = "lat1",
    lon1: str = "lon1",
) -> DataFrame:
    """One row per (input row, waypoint i in 0..n_points): the input
    segment resampled to n_points+1 points along the geodesic (endpoints
    included bit-exact via f=0 / f=1). In-plan explode + closed-form trig —
    a Generate + Project pipeline, no shuffle, no Python."""
    d = segs.withColumn("i", F.explode(F.expr(f"sequence(0, {int(n_points)})")))
    f = f"(cast(i as double) / {int(n_points)})"
    cols = slerp_cols_sql(lat0, lon0, lat1, lon1, f)
    return d.select(
        *segs.columns,
        F.col("i").cast("int").alias("i"),
        F.expr(cols["lat"]).alias("way_lat"),
        F.expr(cols["lon"]).alias("way_lon"),
    )
