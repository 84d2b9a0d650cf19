"""Per-feature scalar geometry: buffer / centroid / area / length (§2.E)."""

import numpy as np
import pyspark.sql.functions as F

from gaia_spark.functions.kernel import EARTH_RADIUS_M, haversine_m
from gaia_spark.operators.scalar_geo import (
    add_buffer,
    combined_centroid,
    ring_area_m2,
    ring_centroid,
    ring_length_m,
)
from gaia_spark.synth import synth_zones_pdf, zones_df


def test_area_and_length_columns(spark):
    z = zones_df(spark, synth_zones_pdf(16))
    out = z.select(
        "zone_id", "kind", "min_lat", "max_lat", "min_lon", "max_lon",
        ring_area_m2("vertices").alias("area"),
        ring_length_m("vertices").alias("length"),
    ).collect()
    assert len(out) == 16
    for r in out:
        assert r.area > 0 and r.length > 0
        if r.kind == "rect":
            exp = (
                EARTH_RADIUS_M ** 2
                * np.radians(r.max_lon - r.min_lon)
                * abs(np.sin(np.radians(r.max_lat)) - np.sin(np.radians(r.min_lat)))
            )
            np.testing.assert_allclose(r.area, exp, rtol=1e-9)


def test_centroid_of_rect_is_bbox_center(spark):
    z = zones_df(spark, synth_zones_pdf(16)).where("kind = 'rect'")
    out = z.select("min_lat", "max_lat", "min_lon", "max_lon", ring_centroid("vertices").alias("c")).collect()
    for r in out:
        np.testing.assert_allclose(r.c.lat, (r.min_lat + r.max_lat) / 2, atol=1e-9)
        np.testing.assert_allclose(r.c.lon, (r.min_lon + r.max_lon) / 2, atol=1e-9)


def test_combined_centroid(spark):
    pts = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 20.0, 40.0), (3, None, None)], "id long, lat double, lon double"
    )
    r = combined_centroid(pts).collect()[0]
    assert (r.centroid_lat, r.centroid_lon) == (15.0, 30.0)


def test_buffer_ngon_radius(spark):
    pts = spark.createDataFrame([(1, 45.0, 10.0)], "id long, lat double, lon double")
    ring = add_buffer(pts, 50_000.0).collect()[0].buffer
    assert len(ring) == 33  # 32-gon closed
    for v in ring[:-1]:
        d = float(haversine_m(45.0, 10.0, v.lat, v.lon))
        np.testing.assert_allclose(d, 50_000.0, rtol=1e-6)


def test_buffer_sql_matches_numpy_kernel(spark):
    """The JVM-expression buffer must agree vertex-for-vertex with the numpy
    kernel's destination point (same formula, two implementations)."""
    import numpy as np

    from gaia_spark.functions.kernel import destination_point
    from gaia_spark.operators.scalar_geo import add_buffer

    rows = [(i, float(i * 13 % 160 - 80), float(i * 37 % 350 - 175)) for i in range(1, 25)]
    pts = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {r.id: r.buffer for r in add_buffer(pts, 250_000.0).collect()}
    bearings = np.linspace(0.0, 2 * np.pi, 32, endpoint=False)
    assert set(got) == {i for i, _, _ in rows}
    for i, lat, lon in rows:
        ring = got[i]
        assert len(ring) == 33 and ring[0] == ring[-1]
        want_lat, want_lon = destination_point(lat, lon, bearings, 250_000.0)
        # JVM StrictMath vs numpy libm differ by a few ulps through the
        # asin/atan2 chain; 1e-7 deg ≈ 1 cm
        np.testing.assert_allclose(
            [[v.lat, v.lon] for v in ring[:32]],
            np.column_stack([want_lat, want_lon]),
            rtol=0,
            atol=1e-7,
        )


def test_ring_area_sphere_matches_rect_closed_form(spark):
    """CD spherical shoelace == rect closed form on lat/lon-aligned rects,
    and equals ~r²π·cos-corrected planar value for a small circle ring."""
    import pandas as pd
    import pyspark.sql.functions as F

    from gaia_spark.functions import portable as P
    from gaia_spark.operators.scalar_geo import ring_area_sphere_m2_sql

    rects = [(-10.0, 20.0, 5.0, 40.0), (50.0, -170.0, 60.0, -150.0), (-60.0, 0.0, -50.0, 1.0)]
    rows = []
    for a, b, c, d in rects:
        ring = [
            {"lat": a, "lon": b}, {"lat": a, "lon": d},
            {"lat": c, "lon": d}, {"lat": c, "lon": b}, {"lat": a, "lon": b},
        ]
        rows.append((a, b, c, d, ring))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["mla", "mlo", "xla", "xlo", "vertices"])
    )
    out = df.select(
        F.expr(ring_area_sphere_m2_sql("vertices")).alias("cd"),
        F.expr(P.rect_area_m2_sql("mla", "mlo", "xla", "xlo")).alias("rect"),
    ).toPandas()
    assert (abs(out.cd - out.rect) / out.rect < 1e-12).all()


def test_destination_closed_forms(spark):
    """Due-east on the equator moves exactly dist/R radians of longitude;
    due-north moves latitude; the antimeridian wraps."""
    import math

    import pyspark.sql.functions as F

    from gaia_spark.functions import portable as P

    R = P.EARTH_RADIUS_M
    one_deg = R * math.pi / 180.0
    df = spark.createDataFrame(
        [
            (1, 0.0, 0.0, 90.0, one_deg),
            (2, 0.0, 0.0, 0.0, one_deg),
            (3, 0.0, 179.5, 90.0, one_deg),
            (4, 45.0, 10.0, 180.0, one_deg),
        ],
        "k long, lat double, lon double, brg double, dist double",
    )
    lat2, lon2 = P.destination_sqls("lat", "lon", "brg", "dist")
    got = {
        r.k: (r.la, r.lo)
        for r in df.select("k", F.expr(lat2).alias("la"), F.expr(lon2).alias("lo")).collect()
    }
    assert abs(got[1][0]) < 1e-9 and abs(got[1][1] - 1.0) < 1e-9
    assert abs(got[2][0] - 1.0) < 1e-9 and abs(got[2][1]) < 1e-9
    assert abs(got[3][0]) < 1e-9 and abs(got[3][1] - (-179.5)) < 1e-9
    assert abs(got[4][0] - 44.0) < 1e-9 and abs(got[4][1] - 10.0) < 1e-9


def test_gc_waypoints_closed_forms(spark):
    """Equator path waypoints interpolate longitude linearly; the meridian
    midpoint halves latitude; f=1/2 of antipodal-adjacent pairs stays on
    the great circle (spot: (0,0)→(60,0) midpoint = (30,0))."""
    import pyspark.sql.functions as F

    from gaia_spark.functions import portable as P

    df = spark.createDataFrame(
        [
            (1, 0.0, 10.0, 0.0, 50.0),
            (2, 0.0, 0.0, 60.0, 0.0),
            (3, 10.0, 20.0, 10.0, 20.0),  # coincident: guard path
        ],
        "k long, lat double, lon double, dlat double, dlon double",
    )
    wla, wlo = P.gc_waypoint_sqls("lat", "lon", "dlat", "dlon", 1, 2)
    got = {
        r.k: (r.la, r.lo)
        for r in df.select("k", F.expr(wla).alias("la"), F.expr(wlo).alias("lo")).collect()
    }
    assert abs(got[1][0]) < 1e-9 and abs(got[1][1] - 30.0) < 1e-9
    assert abs(got[2][0] - 30.0) < 1e-9 and abs(got[2][1]) < 1e-9
    assert got[3] == (10.0, 20.0)
    # quarter point of the equator path
    wla4, wlo4 = P.gc_waypoint_sqls("lat", "lon", "dlat", "dlon", 1, 4)
    q = df.where("k = 1").select(F.expr(wlo4).alias("lo")).collect()[0].lo
    assert abs(q - 20.0) < 1e-9


def test_ring_area_ellipsoid_matches_quadrature(spark):
    """The authalic-latitude CD aggregate must reproduce the exact WGS84
    surface integral A = dlam * a^2(1-e^2) * INT cos(phi)/(1-e^2 sin^2 phi)^2
    on a geodetic rect (sub-m^2 on a ~2x2 deg parcel), and must beat the
    spherical form by the documented sub-percent margin."""
    import math

    from gaia_spark.functions.portable import WGS84_A, WGS84_F
    from gaia_spark.operators.scalar_geo import (
        ring_area_ellipsoid_m2_sql,
        ring_area_sphere_m2_sql,
    )

    lat1, lat2, lon1, lon2 = 42.0, 44.0, 5.0, 7.0
    ring = (
        f"array(struct(cast({lat1} as double) AS lat, cast({lon1} as double) AS lon), "
        f"struct(cast({lat1} as double) AS lat, cast({lon2} as double) AS lon), "
        f"struct(cast({lat2} as double) AS lat, cast({lon2} as double) AS lon), "
        f"struct(cast({lat2} as double) AS lat, cast({lon1} as double) AS lon), "
        f"struct(cast({lat1} as double) AS lat, cast({lon1} as double) AS lon))"
    )
    row = (
        spark.range(1)
        .select(
            F.expr(f"{ring_area_ellipsoid_m2_sql(ring)}").alias("ae"),
            F.expr(f"{ring_area_sphere_m2_sql(ring)}").alias("asp"),
        )
        .collect()[0]
    )
    e2 = WGS84_F * (2.0 - WGS84_F)
    phis = np.linspace(math.radians(lat1), math.radians(lat2), 400001)
    integ = np.cos(phis) / (1.0 - e2 * np.sin(phis) ** 2) ** 2
    exact = (
        math.radians(lon2 - lon1)
        * WGS84_A * WGS84_A * (1.0 - e2)
        * np.trapz(integ, phis)
    )
    assert abs(row["ae"] - exact) < 1.0                  # sub-m^2 on ~37,000 km^2
    rel_sphere = abs(row["asp"] - exact) / exact
    assert rel_sphere > 1e-4                             # sphere is measurably off
    assert abs(row["ae"] - exact) / exact < rel_sphere / 1e4
