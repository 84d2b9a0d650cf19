"""feature_distance_nearest vs independent closed-form box algebra."""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F

from gaia_spark.functions.kernel import haversine_m
from gaia_spark.operators.feature_distance import feature_distance_nearest
from gaia_spark.operators.spatial_join import ZoneIndex
from tests.test_feature_join import parcels_df, parcels_pdf, rect_ring


@pytest.fixture(scope="module")
def zones_idx():
    rows = []
    for j in range(6):
        la0 = -50.0 + (j % 3) * 40.0
        lo0 = -120.0 + (j // 3) * 130.0
        la1, lo1 = la0 + 20.0, lo0 + 80.0
        rows.append(
            {
                "zone_id": j, "name": f"z{j}", "kind": "rect", "category": "c",
                "min_lat": la0, "min_lon": lo0, "max_lat": la1, "max_lon": lo1,
                "vertices": rect_ring(la0, lo0, la1, lo1),
            }
        )
    return ZoneIndex.build(pd.DataFrame(rows))


def _vertex_edge_min_m(va, vb):
    """Generic numpy twin of the engine's candidate-set semantics: min over
    (vertex of A, edge of B) and (vertex of B, edge of A) of
    haversine(vertex, planar-clamped closest point on edge). ``va``/``vb``:
    (n, 2) arrays of (lat, lon) closed rings."""
    def one_side(verts, ring):
        y1, x1 = ring[:-1, 0], ring[:-1, 1]
        y2, x2 = ring[1:, 0], ring[1:, 1]
        dy, dx = y2 - y1, x2 - x1
        len2 = dx * dx + dy * dy
        best = np.inf
        for la, lo in verts:
            dot = (lo - x1) * dx + (la - y1) * dy
            t = np.clip(np.divide(dot, len2, out=np.zeros_like(len2), where=len2 > 0), 0.0, 1.0)
            clat, clon = y1 + t * dy, x1 + t * dx
            best = min(best, float(np.min(haversine_m(la, lo, clat, clon))))
        return best

    return min(one_side(va[:-1], vb), one_side(vb[:-1], va))


def _ring_np(ring):
    return np.array([[v["lat"], v["lon"]] for v in ring])


def test_feature_distance_matches_numpy_twin(spark, zones_idx):
    pdf = parcels_pdf(80)
    feats = parcels_df(spark, pdf)
    zones = zones_idx.zones_pdf
    want = {}
    for p in pdf.itertuples(index=False):
        pa = _ring_np(rect_ring(p.min_lat, p.min_lon, p.max_lat, p.max_lon))
        best = None
        for z in zones.itertuples(index=False):
            ov = (
                p.min_lat <= z.max_lat and p.max_lat >= z.min_lat
                and p.min_lon <= z.max_lon and p.max_lon >= z.min_lon
            )
            d = 0.0 if ov else _vertex_edge_min_m(pa, _ring_np(z.vertices))
            key = (round(d, 3), int(z.zone_id))
            if best is None or key < best:
                best = key
        want[int(p.fid)] = best
    got = {
        int(r.fid): (round(r.dist_m, 3), r.zone_id)
        for r in feature_distance_nearest(feats, zones_idx, feature_key="fid").collect()
    }
    assert set(got) == set(want)
    for fid in want:
        assert got[fid][1] == want[fid][1], fid
        assert abs(got[fid][0] - want[fid][0]) <= 0.01, fid


def test_feature_distance_contained_is_zero(spark, zones_idx):
    """A parcel strictly INSIDE a zone must report distance 0 (intersects),
    not the gap to the zone boundary — the vertex<->edge min alone would be
    wrong here."""
    feats = spark.createDataFrame(
        [(1, rect_ring(-45.0, -110.0, -40.0, -100.0))],
        "fid long, vertices array<struct<lat:double,lon:double>>",
    )
    r = feature_distance_nearest(feats, zones_idx, feature_key="fid").collect()[0]
    assert r.zone_id == 0 and r.dist_m == 0.0


def test_feature_distance_line_kind(spark, zones_idx):
    """Open polyline left side: distance from a horizontal segment in the
    gap between zone rows."""
    # zones row at lat [-50,-30] and [-10,10]; line at lat -20 spans lon -100..-90
    feats = spark.createDataFrame(
        [(1, [{"lat": -20.0, "lon": -100.0}, {"lat": -20.0, "lon": -90.0}])],
        "fid long, vertices array<struct<lat:double,lon:double>>",
    )
    r = feature_distance_nearest(feats, zones_idx, feature_key="fid", kind="line").collect()[0]
    # nearest zone: vertical meridian gap of 10 deg to either row; tie ->
    # smaller zone_id; zone 0 top at -30 (10 deg below), zone 1 bottom at -10
    # (10 deg above) -> identical meridian distance, zone 0 wins
    assert r.zone_id == 0
    np.testing.assert_allclose(r.dist_m, float(haversine_m(-20.0, -100.0, -30.0, -100.0)), rtol=1e-9)


def test_feature_distance_plan_no_shuffle_no_python(spark, zones_idx):
    feats = parcels_df(spark, parcels_pdf(30))
    out = feature_distance_nearest(feats, zones_idx, feature_key="fid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "ArrowEval" not in plan and "BatchEval" not in plan


def test_polygon_contiguity_rook_vs_queen(spark):
    """WeightProcess over a tiling 4x4 zone grid: rook = 48 directed links
    (2*2*3*4), queen adds the 36 diagonal corner contacts (9 interior
    corners x 2 diagonals x 2 directions) = 84."""
    from gaia_spark.operators.stats import polygon_contiguity_weights
    from gaia_spark.queries_misc import _grid_zone_index

    idx = _grid_zone_index()
    rook = {(r.cell, r.neighbor) for r in polygon_contiguity_weights(spark, idx, "rook").collect()}
    queen = {(r.cell, r.neighbor) for r in polygon_contiguity_weights(spark, idx, "queen").collect()}
    assert len(rook) == 48 and len(queen) == 84
    assert rook < queen
    # symmetry + no self loops
    assert all((b, a) in rook for a, b in rook)
    assert all(a != b for a, b in queen)
    # rook neighbors are exactly the grid-manhattan-1 pairs
    want = set()
    for a in range(16):
        for b in range(16):
            ra, ca, rb, cb = a // 4, a % 4, b // 4, b % 4
            if abs(ra - rb) + abs(ca - cb) == 1:
                want.add((a, b))
    assert rook == want


def test_feature_near_join_matches_nearest_and_radius(spark, zones_idx):
    """near(r) must contain every nearest pair with dist <= r and only
    pairs within r; dist values must agree with the nearest op."""
    from gaia_spark.operators.feature_distance import feature_near_join

    feats = parcels_df(spark, parcels_pdf(60))
    r = 1_000_000.0
    near = {(x.fid, x.zone_id): x.dist_m for x in feature_near_join(
        feats, zones_idx, r, feature_key="fid").collect()}
    assert all(d <= r for d in near.values())
    for x in feature_distance_nearest(feats, zones_idx, feature_key="fid").collect():
        if x.dist_m <= r:
            assert near[(x.fid, x.zone_id)] == x.dist_m


def test_gal_weights_roundtrip(spark, tmp_path):
    """WeightFileIO parity: .gal write -> read roundtrips the adjacency and
    feeds morans_i identically to the in-memory weights."""
    from gaia_spark.operators.stats import polygon_contiguity_weights
    from gaia_spark.sources.weights import read_gal, write_gal
    from gaia_spark.queries_misc import _grid_zone_index

    idx = _grid_zone_index()
    w = polygon_contiguity_weights(spark, idx, "rook")
    path = str(tmp_path / "grid.gal")
    write_gal(w, path)
    w2 = read_gal(spark, path)
    a = {(r.cell, r.neighbor, r.w) for r in w.collect()}
    b = {(r.cell, r.neighbor, r.w) for r in w2.collect()}
    assert a == b
    # header sanity
    assert open(path).readline().strip() == "16"


def test_local_morans_sums_to_global(spark):
    """LISA identity: sum_i I_i = global Moran's I x total weight (binary
    unstandardized weights)."""
    import numpy as np
    import pyspark.sql.functions as F

    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import with_cell
    from gaia_spark.operators.stats import cell_rook_weights, local_morans_i, morans_i
    from gaia_spark.synth import synth_pages

    pts = with_cell(
        geoparse(synth_pages(spark, 500, partitions=2)).where(F.col("lat").isNotNull()),
        5, out="cell",
    )
    cells = pts.groupBy("cell").agg(F.count("*").cast("double").alias("v"))
    w = cell_rook_weights(cells, 5)
    gi = morans_i(cells, w).collect()[0].moran_i
    sw = w.count()
    li = local_morans_i(cells, w).agg(F.sum("local_i")).collect()[0][0]
    np.testing.assert_allclose(li, gi * sw, rtol=1e-9)


@pytest.mark.parametrize("max_rounds", [0, 6])
def test_feature_distance_cells_matches_broadcast(spark, zones_idx, max_rounds):
    """Distributed cell-ring nearest-zone == the broadcast zones-array
    result (both sides DataFrames; zones never broadcast). max_rounds=0
    sends every feature through the bounded crossJoin fallback."""
    from gaia_spark.operators.feature_distance import (
        feature_distance_nearest,
        feature_distance_nearest_cells,
    )

    feats = parcels_df(spark, parcels_pdf(70))
    zones = zones_idx.zone_df(spark).select("zone_id", "edges")
    want = {
        (r.fid, r.zone_id, round(r.dist_m, 6))
        for r in feature_distance_nearest(feats, zones_idx, feature_key="fid").collect()
    }
    got = {
        (r.fid, r.zone_id, round(r.dist_m, 6))
        for r in feature_distance_nearest_cells(
            feats, zones, res=5, feature_key="fid", max_rounds=max_rounds
        ).collect()
    }
    assert got == want and len(got) == 70


def test_feature_knn_ranks_consistent_with_nearest(spark, zones_idx):
    """feature_knn_join rank-1 == feature_distance_nearest; ranks strictly
    ordered by (dist, zone_id)."""
    from gaia_spark.operators.feature_distance import feature_knn_join

    feats = parcels_df(spark, parcels_pdf(50))
    out = feature_knn_join(feats, zones_idx, k=3, feature_key="fid").collect()
    nearest = {
        (r.fid, r.zone_id): r.dist_m
        for r in feature_distance_nearest(feats, zones_idx, feature_key="fid").collect()
    }
    by_f = {}
    for r in out:
        by_f.setdefault(r.fid, []).append((r.rank, r.dist_m, r.zone_id))
    for fid, rs in by_f.items():
        rs.sort()
        assert [r for r, _, _ in rs] == [1, 2, 3]
        assert (fid, rs[0][2]) in nearest and nearest[(fid, rs[0][2])] == rs[0][1]
        assert rs[0][1] <= rs[1][1] <= rs[2][1]


def test_on_edge_features_read_zero_distance(spark):
    """A line that starts exactly on a polygon zone's edge is at distance
    exactly 0 from that zone (the boundary test decides intersects)."""
    from gaia_spark.operators.feature_distance import feature_near_join
    from gaia_spark.synth import synth_zones_pdf
    from tests.test_feature_join import on_edge_features

    idx = ZoneIndex.build(synth_zones_pdf(16))
    feats, owner = on_edge_features(spark, "line")
    got = {
        (r.fid, r.zone_id): r.dist_m
        for r in feature_near_join(feats, idx, 0.0, feature_key="fid", kind="line").collect()
    }
    assert {k: got.get(k) for k in owner.items()} == {k: 0.0 for k in owner.items()}
