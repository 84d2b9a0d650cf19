"""Property-based invariants (hypothesis) — SURVEY.md §5.2 item 3.

Pure-kernel properties run hypothesis directly; Spark-level invariants
(partitioning independence) use fixed seeds to keep runtime bounded.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gaia_spark.functions import kernel as K

lat_s = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
lon_s = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
res_s = st.integers(min_value=2, max_value=12)


@given(lat_s, lon_s, res_s)
@settings(max_examples=200, deadline=None)
def test_cell_contains_its_point(lat, lon, res):
    c = int(K.cell_encode(np.array([lat]), np.array([lon]), res)[0])
    lo_la, hi_la, lo_lo, hi_lo = K.cell_bounds(c, res)
    assert lo_la - 1e-9 <= lat <= hi_la + 1e-9
    assert lo_lo - 1e-9 <= lon <= hi_lo + 1e-9


@given(lat_s, lon_s, res_s)
@settings(max_examples=200, deadline=None)
def test_parent_is_direct_encode(lat, lon, res):
    child = K.cell_encode(np.array([lat]), np.array([lon]), res)
    for pr in range(2, res):
        assert K.cell_parent(child, res, pr)[0] == K.cell_encode(
            np.array([lat]), np.array([lon]), pr
        )[0]


@given(lat_s, lon_s, st.integers(min_value=0, max_value=18))
@settings(max_examples=200, deadline=None)
def test_tile_parent_containment(lat, lon, zoom):
    x, y = K.tile_xy(np.array([lat]), np.array([lon]), zoom)
    if zoom > 0:
        px, py = K.tile_xy(np.array([lat]), np.array([lon]), zoom - 1)
        assert int(px[0]) == int(x[0]) // 2 and int(py[0]) == int(y[0]) // 2


@given(lat_s, lon_s, lat_s, lon_s)
@settings(max_examples=200, deadline=None)
def test_haversine_metric_properties(lat1, lon1, lat2, lon2):
    d12 = float(K.haversine_m(lat1, lon1, lat2, lon2))
    d21 = float(K.haversine_m(lat2, lon2, lat1, lon1))
    assert abs(d12 - d21) < 1e-6          # symmetry
    assert d12 >= 0.0
    assert d12 <= np.pi * K.EARTH_RADIUS_M + 1.0  # ≤ half circumference


@given(st.integers(min_value=0, max_value=2**20 - 1), st.integers(min_value=1, max_value=3))
@settings(max_examples=100, deadline=None)
def test_kring_symmetry(cell, radius):
    res = 10
    ring = K.kring(cell % (1 << (2 * res)), res, radius)
    center = cell % (1 << (2 * res))
    for b in ring[:20]:
        assert center in set(K.kring(int(b), res, radius).tolist())


@given(
    st.lists(st.tuples(lat_s, lon_s), min_size=3, max_size=8),
    lat_s,
    lon_s,
)
@settings(max_examples=150, deadline=None)
def test_pip_implies_bbox(ring, plat, plon):
    lats = np.array([p[0] for p in ring])
    lons = np.array([p[1] for p in ring])
    prep = K.PreparedPolygon(lats, lons)
    inside = prep.contains(np.array([plat]), np.array([plon]))[0]
    if inside:
        assert prep.min_lat <= plat <= prep.max_lat
        assert prep.min_lon <= plon <= prep.max_lon


def test_join_invariant_under_partitioning(spark):
    """Spatial join output must not depend on partitioning."""
    import pyspark.sql.functions as F

    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join
    from gaia_spark.synth import synth_pages, synth_zones_pdf

    idx = ZoneIndex.build(synth_zones_pdf(16))
    results = []
    for parts in (1, 7, 4):
        pts = geoparse(synth_pages(spark, 300, partitions=parts))
        if parts == 4:
            pts = pts.repartition(16, F.col("url"))
        results.append(
            frozenset(
                (r.url, r.zone_id)
                for r in spatial_join(pts, idx, "within")
                .select("url", "zone_id").collect()
            )
        )
    assert results[0] == results[1] == results[2]


def test_union_additivity(spark):
    from gaia_spark.operators.setops import union_features
    from gaia_spark.synth import synth_zones_pdf, zones_df

    z = synth_zones_pdf(16)
    a = zones_df(spark, z[z.kind == "rect"])
    b = zones_df(spark, z[z.kind == "poly"])
    u = union_features(a, b)
    assert u.count() == a.count() + b.count()
    assert u.columns == a.columns


@given(
    st.floats(5.0, 45.0), st.floats(5.0, 45.0),   # hole size (lat/lon extent %)
    st.floats(0.01, 0.99), st.floats(0.01, 0.99),  # probe position inside hole
)
@settings(max_examples=150, deadline=None)
def test_point_in_hole_not_contained(hpct_lat, hpct_lon, u, v):
    """Multi-ring even-odd invariant: any point strictly inside the hole ring
    is NOT contained by the holed polygon (but IS contained by the outer ring
    alone)."""
    o = (np.array([0.0, 0.0, 40.0, 40.0, 0.0]), np.array([0.0, 40.0, 40.0, 0.0, 0.0]))
    h_la0, h_la1 = 20.0 - hpct_lat / 5, 20.0 + hpct_lat / 5
    h_lo0, h_lo1 = 20.0 - hpct_lon / 5, 20.0 + hpct_lon / 5
    hole = (
        np.array([h_la0, h_la0, h_la1, h_la1, h_la0]),
        np.array([h_lo0, h_lo1, h_lo1, h_lo0, h_lo0]),
    )
    plat = h_la0 + (h_la1 - h_la0) * u
    plon = h_lo0 + (h_lo1 - h_lo0) * v
    holed = K.PreparedPolygon.from_rings([o, hole])
    outer_only = K.PreparedPolygon(*o)
    la, lo = np.array([plat]), np.array([plon])
    assert outer_only.contains(la, lo)[0]
    assert not holed.contains(la, lo)[0]
