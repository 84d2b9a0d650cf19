"""Spatial-relation joins vs a brute-force numpy reference (golden matrix
row of FIXTURES.md §7: within/intersects/disjoint membership sets)."""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F

from gaia_spark.functions.geoparse import geoparse
from gaia_spark.functions.kernel import PreparedPolygon
from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join
from gaia_spark.synth import synth_pages, synth_zones_pdf

N_PAGES = 800


@pytest.fixture(scope="module")
def points(spark):
    df = geoparse(synth_pages(spark, N_PAGES, partitions=4)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def zones_pdf():
    return synth_zones_pdf(16)


@pytest.fixture(scope="module")
def index(zones_pdf):
    return ZoneIndex.build(zones_pdf)


def brute_force_pairs(points_pdf: pd.DataFrame, zones_pdf: pd.DataFrame, predicate: str):
    """O(n·m) reference — the same shape as the reference library's own
    pandas/shapely scan (``[R] gaia/geo/processes_vector.py``)."""
    out = set()
    pts = points_pdf.dropna(subset=["lat"])
    lats = pts["lat"].to_numpy()
    lons = pts["lon"].to_numpy()
    urls = pts["url"].to_numpy()
    for z in zones_pdf.itertuples(index=False):
        if z.kind == "rect":
            closed = (lats >= z.min_lat) & (lats <= z.max_lat) & (lons >= z.min_lon) & (lons <= z.max_lon)
            if predicate == "within":
                m = (lats > z.min_lat) & (lats < z.max_lat) & (lons > z.min_lon) & (lons < z.max_lon)
            elif predicate == "intersects":
                m = closed
            else:  # touches: on a closed bbox edge
                m = closed & (
                    (lats == z.min_lat) | (lats == z.max_lat) | (lons == z.min_lon) | (lons == z.max_lon)
                )
        else:
            prep = PreparedPolygon(
                np.array([v["lat"] for v in z.vertices]), np.array([v["lon"] for v in z.vertices])
            )
            if predicate == "within":
                m = prep.contains(lats, lons) & ~prep.on_boundary(lats, lons)
            elif predicate == "intersects":
                m = prep.covers(lats, lons)
            else:  # touches
                m = prep.on_boundary(lats, lons)
        for u in urls[m]:
            out.add((u, int(z.zone_id)))
    return out


@pytest.fixture(scope="module")
def points_pdf(points):
    return points.select("url", "lat", "lon").toPandas()


@pytest.fixture(scope="module")
def boundary_pdf(zones_pdf):
    """Points ON every zone boundary: each vertex and each edge midpoint."""
    rows = []
    for z in zones_pdf.itertuples(index=False):
        la = np.array([v["lat"] for v in z.vertices])
        lo = np.array([v["lon"] for v in z.vertices])
        lats = np.concatenate([la[:-1], (la[:-1] + la[1:]) / 2])
        lons = np.concatenate([lo[:-1], (lo[:-1] + lo[1:]) / 2])
        rows += [(f"b{z.zone_id}_{i}", float(a), float(o)) for i, (a, o) in enumerate(zip(lats, lons))]
    return pd.DataFrame(rows, columns=["url", "lat", "lon"])


@pytest.mark.parametrize("predicate", ["within", "intersects", "touches"])
def test_join_matches_brute_force(spark, points, points_pdf, boundary_pdf, zones_pdf, index, predicate):
    """Page points plus points placed on every zone boundary, so 'touches'
    has matches and 'within'/'intersects' see their open/closed edges."""
    pts = points.select("url", "lat", "lon").unionByName(
        spark.createDataFrame(boundary_pdf, "url string, lat double, lon double")
    )
    got = {
        (r.url, r.zone_id)
        for r in spatial_join(pts, index, predicate).select("url", "zone_id").collect()
    }
    want = brute_force_pairs(pd.concat([points_pdf, boundary_pdf]), zones_pdf, predicate)
    assert got == want
    assert len(want) > 0  # fixture sanity: clusters hit zones
    if predicate == "touches":
        assert {u for u, _ in want} >= set(boundary_pdf["url"])


def test_semi_and_anti(points, points_pdf, zones_pdf, index):
    want_pairs = brute_force_pairs(points_pdf, zones_pdf, "intersects")
    want_hit_urls = {u for u, _ in want_pairs}
    semi = {r.url for r in spatial_join(points, index, "intersects", how="semi").select("url").collect()}
    assert semi == want_hit_urls
    anti = {r.url for r in spatial_join(points, index, "disjoint").select("url").collect()}
    all_urls = set(points_pdf["url"])  # disjoint keeps NULL-geometry rows out? no: all points
    assert anti == all_urls - want_hit_urls
    assert semi | anti == all_urls and not (semi & anti)


def test_overlapping_zones_yield_multiple_rows(points, points_pdf, zones_pdf, index):
    per_url = (
        spatial_join(points, index, "intersects")
        .groupBy("url").count().where(F.col("count") > 1).count()
    )
    want = brute_force_pairs(points_pdf, zones_pdf, "intersects")
    cnt = pd.Series([u for u, _ in want]).value_counts()
    assert per_url == int((cnt > 1).sum())


def test_hot_cell_skew_salting_correct(spark, zones_pdf, index):
    """M4 skew case: 80% of points crammed into ONE cell — the broadcast
    cell join must still produce exactly the brute-force pairs (no lost or
    duplicated matches in the hot cell)."""
    hot_lat = float(zones_pdf.iloc[0]["min_lat"]) + 0.01
    hot_lon = float(zones_pdf.iloc[0]["min_lon"]) + 0.01
    rows = [(f"hot{i}", hot_lat, hot_lon) for i in range(800)]
    rows += [(f"cold{i}", float(-80 + i % 160), float(-170 + (i * 7) % 340)) for i in range(200)]
    pts = spark.createDataFrame(rows, "url string, lat double, lon double")
    got = spatial_join(pts, index, "intersects").select("url", "zone_id").collect()
    pairs = {(r.url, r.zone_id) for r in got}
    assert len(got) == len(pairs)
    assert pairs == brute_force_pairs(
        pd.DataFrame(rows, columns=["url", "lat", "lon"]), zones_pdf, "intersects"
    )
    assert sum(1 for u, _ in pairs if u.startswith("hot")) >= 800  # hot cell matched


def test_holed_zone_matches_numpy_kernel(spark, points):
    """Multi-ring (holed) zones through the full spatial_join API must match
    the numpy kernel's even-odd verdicts."""
    outer = [
        {"lat": -40.0, "lon": -60.0}, {"lat": -40.0, "lon": 60.0},
        {"lat": 40.0, "lon": 60.0}, {"lat": 40.0, "lon": -60.0},
        {"lat": -40.0, "lon": -60.0},
    ]
    hole = [
        {"lat": -15.0, "lon": -25.0}, {"lat": -15.0, "lon": 25.0},
        {"lat": 15.0, "lon": 25.0}, {"lat": 15.0, "lon": -25.0},
        {"lat": -15.0, "lon": -25.0},
    ]
    zpdf = pd.DataFrame([{
        "zone_id": 0, "name": "holed", "kind": "poly", "category": "c",
        "min_lat": -40.0, "min_lon": -60.0, "max_lat": 40.0, "max_lon": 60.0,
        "vertices": outer, "rings": [outer, hole],
    }])
    idx = ZoneIndex.build(zpdf)
    got = {
        (r.url, r.zone_id)
        for r in spatial_join(points, idx, "within").select("url", "zone_id").collect()
    }

    prep = PreparedPolygon.from_rings([
        (np.array([v["lat"] for v in outer]), np.array([v["lon"] for v in outer])),
        (np.array([v["lat"] for v in hole]), np.array([v["lon"] for v in hole])),
    ])
    pdf = points.select("url", "lat", "lon").toPandas().dropna(subset=["lat"])
    m = prep.contains(pdf["lat"].to_numpy(), pdf["lon"].to_numpy()) & ~prep.on_boundary(
        pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    )
    want = {(u, 0) for u in pdf["url"].to_numpy()[m]}
    assert got == want
    # the hole actually excludes points (fixture sanity)
    inner = (
        (pdf["lat"].to_numpy() > -15) & (pdf["lat"].to_numpy() < 15)
        & (pdf["lon"].to_numpy() > -25) & (pdf["lon"].to_numpy() < 25)
    )
    assert inner.any() and not ({(u, 0) for u in pdf["url"].to_numpy()[inner]} & want)
