"""Arrow/numpy refinement backend for :mod:`feature_join`'s pairwise
geometry predicates.

The default SQL refine evaluates the vertex-raycast and edge×edge sweeps as
Catalyst higher-order functions — correct and shuffle-free, but HOF lambdas
run on the INTERPRETED expression path (WholeStageCodegen does not cover
them), so large-vertex layers (hundreds of edges per feature) pay ~µs per
lambda element. This backend evaluates the SAME predicate algebra per
candidate pair as vectorized numpy over Arrow-batched flat double arrays:
one (V_a × E_b) broadcasted matrix op replaces V_a·E_b interpreted lambda
calls. Bit-for-bit parity with the SQL forms is kept by mirroring each
formula's operation order exactly (tests/test_feature_join.py asserts the
two backends agree pairwise).

Scale shape: unchanged — refinement is still map-side per candidate pair
after the cell-cover candidate join; only the per-pair arithmetic moves
from interpreted JVM lambdas to Arrow-batched numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BOUNDARY_EPS2 = 1e-18  # keep in lockstep with spatial_join.BOUNDARY_EPS2
PROBE_MARGIN = 1e-6    # keep in lockstep with feature_join.PROBE_MARGIN


def derive_edges(vlat, vlon, mode: str):
    """A-side edge arrays from the raw vertex ring, numpy twin of the SQL
    derivation: mode 'poly_close' mirrors _close_ring_sql (append the
    first vertex when size >= 3 and first != last) before taking
    consecutive pairs; mode 'line' takes consecutive pairs of the OPEN
    chain. Slices are views — no copies."""
    if mode == "poly_close" and len(vlat) >= 3 and (
        vlat[0] != vlat[-1] or vlon[0] != vlon[-1]
    ):
        cy, cx = np.append(vlat, vlat[0]), np.append(vlon, vlon[0])
    else:
        cy, cx = vlat, vlon
    return cy[:-1], cx[:-1], cy[1:], cx[1:]


def make_pair_udf(predicate: str, kind: str, a_edges_mode: str | None = None):
    """Arrow-batched boolean pandas UDF over (probe-vertex arrays, A edge
    arrays, B edge arrays, bbox-intersection rect) — one call to
    :func:`pair_predicate` per candidate pair. Defined here (not in
    feature_join) so the pd.Series type hints resolve against this
    module's globals.

    With ``a_edges_mode`` set ('poly_close' for single-ring polygons,
    'line' for open chains), the A-side edge arrays are derived from the
    vertex ring IN NUMPY per pair and the UDF takes 10 inputs instead of
    14 — the JVM then neither runs the per-pair zip_with edge derivation
    nor ships 4 × |edges| doubles per candidate across the Arrow
    boundary. Multi-ring features (flattened vertices) must keep
    explicit edge arrays (mode None)."""
    import pyspark.sql.functions as F

    if a_edges_mode is not None:

        @F.pandas_udf("boolean")
        def _ok10(
            vlat: pd.Series, vlon: pd.Series,
            zy1: pd.Series, zx1: pd.Series, zy2: pd.Series, zx2: pd.Series,
            lat0: pd.Series, lat1: pd.Series, lon0: pd.Series, lon1: pd.Series,
        ) -> pd.Series:
            n = len(vlat)
            out = np.empty(n, dtype=bool)
            arr = lambda s, i: np.asarray(s.iloc[i], dtype=np.float64)  # noqa: E731
            for i in range(n):
                vy, vx = arr(vlat, i), arr(vlon, i)
                fy1, fx1, fy2, fx2 = derive_edges(vy, vx, a_edges_mode)
                out[i] = pair_predicate(
                    predicate, kind,
                    vy, vx, fy1, fx1, fy2, fx2,
                    arr(zy1, i), arr(zx1, i), arr(zy2, i), arr(zx2, i),
                    float(lat0.iloc[i]), float(lat1.iloc[i]),
                    float(lon0.iloc[i]), float(lon1.iloc[i]),
                )
            return pd.Series(out)

        return _ok10

    @F.pandas_udf("boolean")
    def _ok(
        vlat: pd.Series, vlon: pd.Series,
        fy1: pd.Series, fx1: pd.Series, fy2: pd.Series, fx2: pd.Series,
        zy1: pd.Series, zx1: pd.Series, zy2: pd.Series, zx2: pd.Series,
        lat0: pd.Series, lat1: pd.Series, lon0: pd.Series, lon1: pd.Series,
    ) -> pd.Series:
        n = len(vlat)
        out = np.empty(n, dtype=bool)
        arr = lambda s, i: np.asarray(s.iloc[i], dtype=np.float64)  # noqa: E731
        for i in range(n):
            out[i] = pair_predicate(
                predicate, kind,
                arr(vlat, i), arr(vlon, i),
                arr(fy1, i), arr(fx1, i), arr(fy2, i), arr(fx2, i),
                arr(zy1, i), arr(zx1, i), arr(zy2, i), arr(zx2, i),
                float(lat0.iloc[i]), float(lat1.iloc[i]),
                float(lon0.iloc[i]), float(lon1.iloc[i]),
            )
        return pd.Series(out)

    return _ok


def raycast(py, px, ey1, ex1, ey2, ex2):
    """Even-odd parity of points (n,) against edges (m,) → bool (n,).
    Twin of spatial_join._raycast_sql (same comparison & division order)."""
    if len(ey1) == 0:
        return np.zeros(len(py), dtype=bool)
    py2, px2 = py[:, None], px[:, None]
    cond = (ey1[None] > py2) != (ey2[None] > py2)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = ex1[None] + (py2 - ey1[None]) * (ex2[None] - ex1[None]) / (ey2[None] - ey1[None])
    hits = cond & (px2 < xi)
    return (hits.sum(axis=1) % 2) == 1


def min_d2(py, px, ey1, ex1, ey2, ex2):
    """Min squared point-to-segment distance, points (n,) × edges (m,).
    Twin of spatial_join._boundary_sql's branches (same operation order):
    dot ≤ 0 → |p−a|², dot ≥ len2 → |p−b|², else cross²/len2."""
    if len(ey1) == 0:
        return np.full(len(py), np.inf)
    dx, dy = (ex2 - ex1)[None], (ey2 - ey1)[None]
    pxr, pyr = px[:, None] - ex1[None], py[:, None] - ey1[None]
    qxr, qyr = px[:, None] - ex2[None], py[:, None] - ey2[None]
    len2 = dx * dx + dy * dy
    dot = pxr * dx + pyr * dy
    cross = pxr * dy - pyr * dx
    with np.errstate(divide="ignore", invalid="ignore"):
        d2 = np.where(
            dot <= 0, pxr * pxr + pyr * pyr,
            np.where(dot >= len2, qxr * qxr + qyr * qyr, cross * cross / len2),
        )
    return d2.min(axis=1)


def covered(py, px, ey1, ex1, ey2, ex2):
    return raycast(py, px, ey1, ex1, ey2, ex2) | (
        min_d2(py, px, ey1, ex1, ey2, ex2) <= BOUNDARY_EPS2
    )


def strictly_in(py, px, ey1, ex1, ey2, ex2):
    return raycast(py, px, ey1, ex1, ey2, ex2) & (
        min_d2(py, px, ey1, ex1, ey2, ex2) > BOUNDARY_EPS2
    )


def proper_cross_any(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2) -> bool:
    """∃ properly crossing (A edge, B edge) pair — sign test, collinear
    contact and endpoints within BOUNDARY_EPS of the other line excluded.
    Twin of feature_join._proper_cross_sql."""
    if len(ay1) == 0 or len(by1) == 0:
        return False
    eax1, eay1 = ax1[:, None], ay1[:, None]
    eax2, eay2 = ax2[:, None], ay2[:, None]
    ebx1, eby1 = bx1[None], by1[None]
    ebx2, eby2 = bx2[None], by2[None]
    d1 = (ebx2 - ebx1) * (eay1 - eby1) - (eby2 - eby1) * (eax1 - ebx1)
    d2 = (ebx2 - ebx1) * (eay2 - eby1) - (eby2 - eby1) * (eax2 - ebx1)
    d3 = (eax2 - eax1) * (eby1 - eay1) - (eay2 - eay1) * (ebx1 - eax1)
    d4 = (eax2 - eax1) * (eby2 - eay1) - (eay2 - eay1) * (ebx2 - eax1)
    lb = (ebx2 - ebx1) * (ebx2 - ebx1) + (eby2 - eby1) * (eby2 - eby1)
    la = (eax2 - eax1) * (eax2 - eax1) + (eay2 - eay1) * (eay2 - eay1)
    ok = (
        ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        & (d1 * d1 > BOUNDARY_EPS2 * lb) & (d2 * d2 > BOUNDARY_EPS2 * lb)
        & (d3 * d3 > BOUNDARY_EPS2 * la) & (d4 * d4 > BOUNDARY_EPS2 * la)
    )
    return bool(ok.any())


def clip_edges(ey1, ex1, ey2, ex2, lat0, lat1, lon0, lon1):
    """Edges whose own bbox overlaps the closed rect — twin of the SQL
    edge-bucket clip in feature_spatial_join."""
    keep = (
        (np.minimum(ey1, ey2) <= lat1) & (np.maximum(ey1, ey2) >= lat0)
        & (np.minimum(ex1, ex2) <= lon1) & (np.maximum(ex1, ex2) >= lon0)
    )
    return ey1[keep], ex1[keep], ey2[keep], ex2[keep]


def pair_predicate(
    predicate: str,
    kind: str,
    vlat, vlon,              # A probe vertices (all rings)
    fy1, fx1, fy2, fx2,      # A edges
    zy1, zx1, zy2, zx2,      # B (zone) edges; (zy1, zx1) double as B vertices
    lat0, lat1, lon0, lon1,  # closed bbox-intersection rect of the pair
) -> bool:
    """One candidate pair's refinement verdict — numpy twin of the SQL
    predicate algebra in feature_spatial_join (intersects/within/crosses)."""
    cfy1, cfx1, cfy2, cfx2 = clip_edges(fy1, fx1, fy2, fx2, lat0, lat1, lon0, lon1)
    czy1, czx1, czy2, czx2 = clip_edges(zy1, zx1, zy2, zx2, lat0, lat1, lon0, lon1)
    cross = proper_cross_any(cfy1, cfx1, cfy2, cfx2, czy1, czx1, czy2, czx2)

    # probe prefilter (numpy twin of the SQL path's PROBE_MARGIN algebra):
    # a vertex farther than the margin outside the pair's closed
    # bbox-intersection rect cannot be covered by the OTHER side (covered
    # ⊆ other bbox + BOUNDARY_EPS, and every vertex is inside its OWN
    # bbox, so covered ⇒ inside the intersection rect ± eps; the margin
    # keeps 1000x slack). Existential probes therefore run only on
    # in-rect vertices; all-quantified forms short-circuit on the
    # complement (an out-of-rect vertex is definitionally NOT covered).
    in_a = (
        (vlat >= lat0 - PROBE_MARGIN) & (vlat <= lat1 + PROBE_MARGIN)
        & (vlon >= lon0 - PROBE_MARGIN) & (vlon <= lon1 + PROBE_MARGIN)
    )
    in_b = (
        (zy1 >= lat0 - PROBE_MARGIN) & (zy1 <= lat1 + PROBE_MARGIN)
        & (zx1 >= lon0 - PROBE_MARGIN) & (zx1 <= lon1 + PROBE_MARGIN)
    )
    pvlat, pvlon = vlat[in_a], vlon[in_a]          # A probe vertices, in-rect
    pby, pbx = zy1[in_b], zx1[in_b]                # B probe vertices, in-rect

    if predicate == "intersects":
        if covered(pvlat, pvlon, zy1, zx1, zy2, zx2).any() or cross:
            return True
        if kind == "line":
            return bool((min_d2(pby, pbx, fy1, fx1, fy2, fx2) <= BOUNDARY_EPS2).any())
        return bool(covered(pby, pbx, fy1, fx1, fy2, fx2).any())
    if predicate == "within":
        # an A vertex outside the rect is not covered by B ⇒ not within
        if not in_a.all():
            return False
        a_cov = covered(vlat, vlon, zy1, zx1, zy2, zx2)
        if not a_cov.all() or cross:
            return False
        if kind == "line":
            return True
        b_ray = raycast(pby, pbx, fy1, fx1, fy2, fx2)
        b_bnd = min_d2(pby, pbx, fy1, fx1, fy2, fx2) <= BOUNDARY_EPS2
        return bool(not (b_ray & ~b_bnd).any())
    if predicate == "crosses":
        if cross:
            return True
        a_strict = strictly_in(pvlat, pvlon, zy1, zx1, zy2, zx2)
        if not a_strict.any():
            return False
        # ∃ uncovered A vertex: any out-of-rect vertex qualifies outright
        if not in_a.all():
            return True
        return bool((~covered(vlat, vlon, zy1, zx1, zy2, zx2)).any())
    raise ValueError(f"arrow refine does not support predicate {predicate!r}")
