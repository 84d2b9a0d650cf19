"""Convex hull and Douglas–Peucker: brute-force and property evidence (the
rows-only operators' correctness story)."""

import warnings

import numpy as np
import pandas as pd

from gaia_spark.operators.hull import (
    _dp_keep,
    _monotone_chain,
    convex_hull_per_group,
    simplify_lines,
)


def _brute_hull_vertices(lats, lons):
    """O(n^3) extreme-point characterization: p is a hull vertex iff some
    line through p has all other points strictly on one side (works for
    points in general position)."""
    pts = list(set(zip(lons.tolist(), lats.tolist())))
    out = set()
    n = len(pts)
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            ox, oy = pts[i]
            ax, ay = pts[j]
            side = [
                (ax - ox) * (py - oy) - (ay - oy) * (px - ox)
                for k, (px, py) in enumerate(pts)
                if k not in (i, j)
            ]
            if all(s > 1e-12 for s in side) or all(s < -1e-12 for s in side):
                out.add((oy, ox))
                out.add((ay, ax))
    return out


def test_monotone_chain_matches_brute_force():
    rng = np.random.default_rng(21)
    for _ in range(10):
        lats = rng.uniform(-10, 10, 25)
        lons = rng.uniform(-10, 10, 25)
        ring = _monotone_chain(lats, lons)
        assert set(ring) == _brute_hull_vertices(lats, lons)
        # CCW orientation: shoelace positive
        area2 = sum(
            ring[i][1] * ring[(i + 1) % len(ring)][0]
            - ring[(i + 1) % len(ring)][1] * ring[i][0]
            for i in range(len(ring))
        )
        assert area2 > 0


def test_monotone_chain_degenerate():
    assert _monotone_chain(np.array([1.0]), np.array([2.0])) == [(1.0, 2.0)]
    # collinear points: hull degenerates to the two extremes
    lats = np.array([0.0, 0.0, 0.0, 0.0])
    lons = np.array([0.0, 1.0, 2.0, 3.0])
    assert set(_monotone_chain(lats, lons)) == {(0.0, 0.0), (0.0, 3.0)}


def test_hull_operator_groups(spark):
    rng = np.random.default_rng(22)
    pdf = pd.DataFrame(
        {
            "g": np.repeat([0, 1], 40),
            "lat": rng.uniform(-5, 5, 80),
            "lon": rng.uniform(-5, 5, 80),
        }
    )
    out = convex_hull_per_group(spark.createDataFrame(pdf), "g").toPandas()
    assert sorted(out.g.tolist()) == [0, 1]
    for r in out.to_dict("records"):
        sub = pdf[pdf.g == r["g"]]
        expect = _brute_hull_vertices(sub.lat.to_numpy(), sub.lon.to_numpy())
        got = {(v["lat"], v["lon"]) for v in r["vertices"]}
        assert got == expect and r["n_hull"] == len(expect)


def test_hull_operator_plans_without_warning(spark):
    """The per-group UDF carries no type hints: applyInPandas warns
    (TYPE_HINT_SHOULD_BE_SPECIFIED) on a hinted function."""
    pdf = pd.DataFrame({"g": [0, 0, 0], "lat": [0.0, 1.0, 0.0], "lon": [0.0, 0.0, 1.0]})
    df = spark.createDataFrame(pdf)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        rows = convex_hull_per_group(df, "g").collect()
    assert [r.n_hull for r in rows] == [3]


def _zigzag(n=41, big=1.0, small=1e-4):
    lons = np.arange(n, dtype=np.float64)
    lats = np.where(np.arange(n) % 10 == 5, big, 0.0) + small * (np.arange(n) % 2)
    return lats, lons


def test_dp_properties():
    lats, lons = _zigzag()
    for tol in (1e-5, 1e-3, 0.5, 2.0):
        m = _dp_keep(lats, lons, tol)
        assert m[0] and m[-1]  # endpoints always kept
        kl, kn = lats[m], lons[m]
        # deviation bound: every dropped point within tol of the kept chain
        for i in range(len(lats)):
            if m[i]:
                continue
            j = np.searchsorted(kn, lons[i])
            x0, y0, x1, y1 = kn[j - 1], kl[j - 1], kn[j], kl[j]
            d = abs(
                (y1 - y0) * lons[i] - (x1 - x0) * lats[i] + x1 * y0 - y1 * x0
            ) / np.hypot(x1 - x0, y1 - y0)
            assert d <= tol + 1e-12
        # idempotence: simplifying the survivors changes nothing
        m2 = _dp_keep(kl, kn, tol)
        assert m2.all()
    # monotone: tighter tolerance keeps a superset
    loose = set(np.flatnonzero(_dp_keep(lats, lons, 0.5)))
    tight = set(np.flatnonzero(_dp_keep(lats, lons, 1e-3)))
    assert loose <= tight
    # the big kinks survive a tolerance between small and big
    m = _dp_keep(lats, lons, 0.01)
    assert set(np.flatnonzero(lats > 0.5)) <= set(np.flatnonzero(m))


def test_simplify_lines_operator(spark):
    lats, lons = _zigzag()
    verts = [{"lat": float(a), "lon": float(b)} for a, b in zip(lats, lons)]
    df = spark.createDataFrame(
        pd.DataFrame({"fid": [1], "vertices": [verts]}),
        "fid long, vertices array<struct<lat:double,lon:double>>",
    )
    out = simplify_lines(df, tol_deg=0.01).collect()[0]
    got = [(v["lat"], v["lon"]) for v in out.vertices]
    m = _dp_keep(lats, lons, 0.01)
    assert got == [(a, b) for a, b, k in zip(lats, lons, m) if k]
    # short chains pass through untouched
    df2 = spark.createDataFrame(
        pd.DataFrame({"fid": [2], "vertices": [verts[:2]]}),
        "fid long, vertices array<struct<lat:double,lon:double>>",
    )
    assert len(simplify_lines(df2, 0.01).collect()[0].vertices) == 2


def test_two_stage_hull_parity(spark):
    """hull(∪ partials) == hull(all points), vertex for vertex, even with
    many tiny partitions (stage-1 batches far smaller than groups) and with
    collinear points sitting on partial-hull edges."""
    from gaia_spark.operators.hull import convex_hull_per_group_distributed

    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame(
        {
            "g": np.repeat([0, 1, 2], n // 3),
            "lat": np.round(rng.uniform(-5, 5, n), 1),  # rounding → collinear runs
            "lon": np.round(rng.uniform(-5, 5, n), 1),
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)
    one = {
        r["g"]: [(v["lat"], v["lon"]) for v in r["vertices"]]
        for r in convex_hull_per_group(df, "g").collect()
    }
    two = {
        r["g"]: [(v["lat"], v["lon"]) for v in r["vertices"]]
        for r in convex_hull_per_group_distributed(df, "g").collect()
    }
    assert one == two


def test_spike_family_closed_form():
    """Certify the q_simplify_closed oracle: brute-force DP over every key
    in the fixture family equals the closed form (endpoints + spike iff
    h > tol) — including both DP recursion levels the spike induces."""
    tol = 0.5
    for key in range(1, 30001):
        m = 3 + (key * 7) % 13
        n = m + 4 + (key * 11) % 13
        h = 0.525 if key % 2 == 0 else 0.475
        lats = np.zeros(n + 1)
        lats[m] = h
        lons = np.arange(n + 1, dtype=np.float64)
        keep = _dp_keep(lats, lons, tol)
        expect = {0, n} | ({m} if h > tol else set())
        assert set(np.flatnonzero(keep)) == expect, (key, m, n, h)
