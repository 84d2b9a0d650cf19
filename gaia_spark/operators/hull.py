"""Convex hull (per group) and polyline simplification.

Rounding out the FeatureProcess geometry family ([R] SURVEY §0 — the
vector-output tier beside buffer/centroid): both are inherently iterative
per-geometry algorithms, so — per the engine's UDF policy (SURVEY §2.L) —
they run as Arrow-batched numpy kernels, never per-row Python:

- ``convex_hull_per_group`` — Andrew's monotone chain over each group's
  point set via ``applyInPandas`` (one shuffle on the group key; each
  group's hull is O(n log n) in its own task). The cross-engine oracle
  can't express a hull in SQL, so the driver entry is rows-only and the
  exactness evidence lives in tests: an O(n·h) brute-force extreme-point
  characterization and containment/idempotence properties.
- ``simplify_lines`` — Douglas–Peucker per feature row (vertices array in,
  vertices array out) via ``mapInPandas``; embarrassingly parallel, no
  shuffle at all.

Both operate in planar (lon, lat) degree space, consistent with the
engine's other vertex math; tolerance for simplify is in degrees.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _monotone_chain(lats: np.ndarray, lons: np.ndarray) -> list[tuple[float, float]]:
    """Andrew's monotone chain; returns CCW hull vertices (lat, lon), no
    closing duplicate. Collinear points on hull edges are dropped; the
    input is deduped and sorted by (lon, lat) so the result is a pure
    function of the point SET."""
    pts = sorted(set(zip(lons.tolist(), lats.tolist())))
    if len(pts) <= 2:
        return [(la, lo) for lo, la in pts]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[tuple[float, float]] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[tuple[float, float]] = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ring = lower[:-1] + upper[:-1]
    return [(la, lo) for lo, la in ring]


def convex_hull_per_group(
    points: DataFrame,
    group_col: str,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-group convex hull: one output row per group with the CCW hull
    ring (``vertices``, open — no closing duplicate) and ``n_hull``.
    Groups of 1-2 distinct points yield degenerate chains of that size."""
    gtype = points.schema[group_col].dataType.simpleString()
    schema = (
        f"{group_col} {gtype}, n_hull int, "
        "vertices array<struct<lat:double,lon:double>>"
    )

    def hull(key, pdf):
        ring = _monotone_chain(
            pdf[lat].to_numpy(dtype=np.float64), pdf[lon].to_numpy(dtype=np.float64)
        )
        return pd.DataFrame(
            {
                group_col: [key[0]],
                "n_hull": [len(ring)],
                "vertices": [[{"lat": la, "lon": lo} for la, lo in ring]],
            }
        )

    pts = points.where(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    return pts.select(group_col, lat, lon).groupBy(group_col).applyInPandas(hull, schema)


def convex_hull_per_group_distributed(
    points: DataFrame,
    group_col: str,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Two-stage convex hull, the scale-safe sibling of
    :func:`convex_hull_per_group` (which shuffles each group's ENTIRE point
    set into one applyInPandas task — a 10⁹-point group OOMs that task).

    Stage 1 (``mapInPandas``, no shuffle): each Arrow batch computes the
    monotone-chain hull of ITS OWN points per group — output is ≤ h rows
    per (batch, group), so the stage-2 shuffle moves per-partition hull
    vertices, never raw points. Stage 2 reuses the single-stage operator on
    the partial-hull points: hull(∪ Sᵢ) = hull(∪ hull(Sᵢ)), and since
    ``_monotone_chain`` keeps only STRICT extreme points (collinear
    interior points of a partial-hull edge are convex combinations of that
    partition's points, hence never global vertices), the two paths are
    vertex-for-vertex identical — asserted by the parity pytest.

    Output contract identical to the single-stage operator."""
    gtype = points.schema[group_col].dataType.simpleString()
    schema1 = f"{group_col} {gtype}, {lat} double, {lon} double"

    def partial(batches):
        for b in batches:
            out = []
            for key, g in b.groupby(group_col, sort=False):
                ring = _monotone_chain(
                    g[lat].to_numpy(dtype=np.float64),
                    g[lon].to_numpy(dtype=np.float64),
                )
                out.append(
                    pd.DataFrame(
                        {
                            group_col: [key] * len(ring),
                            lat: [la for la, _ in ring],
                            lon: [lo for _, lo in ring],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    pts = points.where(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    partials = pts.select(group_col, lat, lon).mapInPandas(partial, schema1)
    return convex_hull_per_group(partials, group_col, lat, lon)


def _dp_keep(lats: np.ndarray, lons: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask (iterative stack, no recursion limit)."""
    n = len(lats)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        # perpendicular distance of interior points to chord (i, j)
        x0, y0, x1, y1 = lons[i], lats[i], lons[j], lats[j]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        xs, ys = lons[i + 1 : j], lats[i + 1 : j]
        if seg2 == 0.0:
            d = np.hypot(xs - x0, ys - y0)
        else:
            d = np.abs(dy * xs - dx * ys + x1 * y0 - y1 * x0) / np.sqrt(seg2)
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_lines(
    features: DataFrame,
    tol_deg: float,
    vertices_col: str = "vertices",
) -> DataFrame:
    """Douglas–Peucker polyline simplification: every column passes through
    untouched; ``vertices_col`` is replaced by the simplified chain (always
    keeps both endpoints; max planar deviation ≤ ``tol_deg``)."""
    tol = float(tol_deg)
    cols = features.columns
    schema = features.schema

    def run(batches):
        for b in batches:
            def one(v):
                if v is None or len(v) <= 2:
                    return v
                lats = np.array([p["lat"] for p in v], dtype=np.float64)
                lons = np.array([p["lon"] for p in v], dtype=np.float64)
                m = _dp_keep(lats, lons, tol)
                return [p for p, k in zip(v, m) if k]

            b[vertices_col] = b[vertices_col].map(one)
            yield b[cols]

    return features.mapInPandas(run, schema)
