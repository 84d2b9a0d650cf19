"""Spatial joins for NON-POINT left sides: polygon / polyline feature layers
against a zone index — poly-poly within / intersects / disjoint / touches and
line-poly crosses / intersects.

Reference semantics: every ``[R] gaia/geo/processes_vector.py :: *Process``
accepts arbitrary geometry on both inputs (GeoDataFrames of shapely geoms);
round-1 of this engine only supported point left-sides. This module closes
that gap with the same two-phase Spark plan as :mod:`spatial_join`:

1. **candidate generation** — each left feature's bbox is expanded to its
   grid-cell range with pure SQL (``sequence`` × ``explode``: no Python, no
   driver loop, features stay distributed), equi-joined on cell against the
   broadcast zone cover, then deduped to (feature, zone) pairs and
   pre-filtered by closed bbox overlap (codegen'd comparisons);
2. **refinement** — vertex-in-polygon (even-odd raycast plus the boundary
   distance test over the zone table's edge arrays), polygon-vertex-in-
   feature (the same two tests over the feature's own edge array, derived
   with ``spatial_join.edges_sql``), and proper segment×segment crossing
   (orientation signs), all as Catalyst higher-order functions — zero
   Python, zero Arrow transfer in the hot path. The raycast and boundary
   tests are the point join's ``_raycast_sql`` / ``_boundary_sql``, so a
   point on an edge reads the same in both joins; the zone table
   (``ZoneIndex.zone_df``) gives every zone, rects included, one edge ring.
   ``refine='arrow'`` evaluates the same algebra in numpy
   (:mod:`feature_refine`).

Features with a NaN vertex coordinate are refused (the job fails with a
clear error): NaN defeats both the raycast and the boundary test, and the
two refine backends would disagree on them.

Predicate algebra over those three primitives (A = left feature, B = zone):

- ``intersects``: any A-vertex covered by B ∨ any B-vertex covered by A ∨
  some edge pair properly crosses. Complete for simple polygons: a boundary
  crossing with no vertex inside either side must properly cross; collinear
  edge-overlap contact always puts some vertex of one side on the other's
  boundary (covered-by includes boundary).
- ``within`` (A within B): every A-vertex covered by B ∧ no proper edge
  crossing ∧ no B-vertex strictly inside A (the last term rejects a B hole
  ring or a B pocket poking into A).
- ``crosses`` (line A vs B): some edge properly crosses ∨ (some A-vertex
  strictly inside B ∧ some A-vertex strictly outside B) — DE-9IM crosses:
  the line's interior meets both B's interior and exterior.
- ``touches``: intersects ∧ no proper crossing ∧ no vertex of either side
  strictly inside the other (boundary contact only) ∧ no collinear-overlap
  interior witness. The last term closes the degenerate poly-poly case
  (coincident or edge-overlapping rectangles) where interior contact is
  witnessed by neither a strictly interior vertex nor a proper crossing:
  see :func:`_collinear_interior_sql`. Remaining limit: slivers thinner
  than the 1e-4° probe offset.
- ``disjoint``: anti-join on intersects.

The zone side is broadcast (small); the feature side is web-scale and never
leaves the executors.

Coordinate-domain limit (whole module + feature_distance): rings are
interpreted in plain lon/lat degree space — a feature CROSSING THE
ANTIMERIDIAN would get a world-spanning bbox and a geometrically wrong
raycast. Split such rings at ±180 upstream (point layers are unaffected:
cell x-indexing wraps).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable
from gaia_spark.operators.spatial_join import (
    BOUNDARY_EPS2,
    ZoneIndex,
    _boundary_sql,
    _raycast_sql,
    edges_sql,
)

FEATURE_PREDICATES = ("within", "intersects", "disjoint", "touches", "touches_rook", "crosses")


# ---------------------------------------------------------------------------
# SQL fragment builders (all evaluated JVM-side by Catalyst HOFs)
# ---------------------------------------------------------------------------

def _covered_at(edges: str, lat: str, lon: str) -> str:
    """Closed containment (interior ∨ boundary) against an edge array."""
    return f"(({_raycast_sql(lat, lon, edges)}) OR ({_boundary_sql(lat, lon, edges)}))"


def _strictly_in_at(edges: str, lat: str, lon: str) -> str:
    return f"(({_raycast_sql(lat, lon, edges)}) AND NOT ({_boundary_sql(lat, lon, edges)}))"


def _proper_cross_sql(a_edges: str, b_edges: str) -> str:
    """∃ (ea, eb): segments properly cross (interiors intersect
    transversally) — orientation-sign test, collinear contact excluded.
    An endpoint within BOUNDARY_EPS of the other segment's line is contact,
    not crossing: the boundary test already puts such a vertex on that
    edge, so it must not also read as a crossing there (a line starting on
    a zone edge touches the zone). The sign tests run first; the distance
    checks only see the rare pairs that pass both."""
    def cross(ox, oy, ax, ay, bx, by):  # (a-o) × (b-o)
        return f"(({ax} - {ox}) * ({by} - {oy}) - ({ay} - {oy}) * ({bx} - {ox}))"

    def len2(e):
        return f"(({e}.x2 - {e}.x1) * ({e}.x2 - {e}.x1) + ({e}.y2 - {e}.y1) * ({e}.y2 - {e}.y1))"

    d1 = cross("eb.x1", "eb.y1", "eb.x2", "eb.y2", "ea.x1", "ea.y1")
    d2 = cross("eb.x1", "eb.y1", "eb.x2", "eb.y2", "ea.x2", "ea.y2")
    d3 = cross("ea.x1", "ea.y1", "ea.x2", "ea.y2", "eb.x1", "eb.y1")
    d4 = cross("ea.x1", "ea.y1", "ea.x2", "ea.y2", "eb.x2", "eb.y2")
    apart = " AND ".join(
        f"({d}) * ({d}) > {BOUNDARY_EPS2} * {len2(e)}"
        for d, e in ((d1, "eb"), (d2, "eb"), (d3, "ea"), (d4, "ea"))
    )
    return (
        f"exists({a_edges}, ea -> exists({b_edges}, eb -> "
        f"((({d1}) > 0) != (({d2}) > 0)) AND ((({d3}) > 0) != (({d4}) > 0)) AND {apart}))"
    )


def _collinear_interior_sql(
    a_edges: str,
    b_edges: str,
    a_probe: str | None = None,
    b_probe: str | None = None,
) -> str:
    """Interior-contact witness for collinear overlapping edge pairs —
    closes the degenerate poly-poly ``touches`` case (e.g. coincident
    rectangles) where interior overlap is witnessed by neither a strictly
    interior vertex nor a proper crossing.

    For each (ea, eb) pair that is collinear (ea's endpoints within
    boundary-eps of eb's line) with positive projection-interval overlap,
    offset the overlap midpoint perpendicular by ±1e-4° (~11 m) and test
    STRICT containment in both
    polygons: inside both on either side ⇒ the interiors meet. A shared
    edge between side-by-side polygons puts each offset point inside only
    one of them, so genuine touches are unaffected. The probe's squared
    distance to the edge (1e-8) must sit far above BOUNDARY_EPS2 (1e-18),
    else it reads as on-boundary; the branch form of ``_boundary_sql``
    computes it as cross²/len2, whose error is only the rounding of the
    probe coordinates (~1e-14° at 100°-scale coordinates), so it does.
    Slivers thinner than the offset evade the witness — documented limit.
    """
    dx, dy = "(eb.x2 - eb.x1)", "(eb.y2 - eb.y1)"
    len2, collinear, lo, hi = _collinear_pair_parts()
    tm = f"(({lo} + {hi}) / 2)"
    mx, my = f"(eb.x1 + {tm} * {dx})", f"(eb.y1 + {tm} * {dy})"
    # unit perpendicular × offset
    px, py = f"(-{dy} / sqrt({len2}) * 1e-4)", f"({dx} / sqrt({len2}) * 1e-4)"
    probes = (
        f"array(struct({my} + {py} AS la, {mx} + {px} AS lo), "
        f"struct({my} - {py} AS la, {mx} - {px} AS lo))"
    )
    # pair ENUMERATION may run over bbox-clipped arrays; the strict-in
    # probes are global containment tests and must see the FULL edge arrays
    a_probe, b_probe = a_probe or a_edges, b_probe or b_edges
    in_both = (
        f"exists({probes}, p -> ({_strictly_in_at(a_probe, 'p.la', 'p.lo')}) "
        f"AND ({_strictly_in_at(b_probe, 'p.la', 'p.lo')}))"
    )
    return (
        f"exists({a_edges}, ea -> exists({b_edges}, eb -> "
        f"{len2} > 0 AND {collinear} AND ({hi} - {lo}) > 1e-12 AND {in_both}))"
    )


def _collinear_pair_parts() -> tuple[str, str, str, str]:
    """Shared fragments of the collinear edge-pair machinery (lambda vars
    ``ea``/``eb``): returns (len2, collinear, lo, hi) — the eb-line length²,
    the eps-collinearity test of ea's endpoints against eb's line, and the
    clamped projection-interval endpoints of ea on eb. One source of truth
    for both the touches interior witness and the rook overlap test."""
    dx, dy = "(eb.x2 - eb.x1)", "(eb.y2 - eb.y1)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    cr1 = f"({dx} * (ea.y1 - eb.y1) - {dy} * (ea.x1 - eb.x1))"
    cr2 = f"({dx} * (ea.y2 - eb.y1) - {dy} * (ea.x2 - eb.x1))"
    collinear = f"({cr1} * {cr1} <= {BOUNDARY_EPS2} * {len2} AND {cr2} * {cr2} <= {BOUNDARY_EPS2} * {len2})"
    ta1 = f"(((ea.x1 - eb.x1) * {dx} + (ea.y1 - eb.y1) * {dy}) / {len2})"
    ta2 = f"(((ea.x2 - eb.x1) * {dx} + (ea.y2 - eb.y1) * {dy}) / {len2})"
    lo = f"greatest(cast(0 as double), least({ta1}, {ta2}))"
    hi = f"least(cast(1 as double), greatest({ta1}, {ta2}))"
    return len2, collinear, lo, hi


def _collinear_overlap_sql(a_edges: str, b_edges: str) -> str:
    """∃ (ea, eb): collinear with POSITIVE-length projection overlap —
    i.e. the boundaries share a 1-D segment, not just a point. This is the
    rook-vs-queen discriminator for polygon contiguity: shared edge ⇒ true,
    corner-only contact ⇒ false (overlap interval has zero length)."""
    len2, collinear, lo, hi = _collinear_pair_parts()
    return (
        f"exists({a_edges}, ea -> exists({b_edges}, eb -> "
        f"{len2} > 0 AND {collinear} AND ({hi} - {lo}) > 1e-12))"
    )


def _close_ring_sql(arr: str) -> str:
    """Auto-append the closing vertex when a polygon ring is not explicitly
    closed (first != last) — the kernel's _close_ring twin. An unclosed ring
    would silently lose its closing edge, breaking raycast parity."""
    first, last = f"element_at({arr}, 1)", f"element_at({arr}, -1)"
    return (
        f"(CASE WHEN size({arr}) >= 3 AND "
        f"({first}.lat != {last}.lat OR {first}.lon != {last}.lon) "
        f"THEN concat({arr}, array({first})) ELSE {arr} END)"
    )


_FEATURE_EDGES = edges_sql("vertices")

# multi-ring features: edges PER RING (each ring auto-closed) then
# flattened — a flat vertex list would fabricate a bogus edge between
# ring i's end and ring i+1's start
_RING_EDGES = "flatten(transform({rings}, r -> " + edges_sql(_close_ring_sql("r")) + "))"

# Candidate generation strategy switch: at or below this many zones the
# candidate join is a broadcast nested-loop join on closed bbox overlap
# (4 codegen'd comparisons per (feature, zone) probe — features × |zones|
# work, trivially cheap for a dimension-sized zone layer, and the feature's
# heavy vertex array is never duplicated through an explode). Above it, the
# original cell-cover equi-join takes over: features explode onto grid
# cells so each feature is probed only against zones sharing a cell —
# the right plan when |zones| is large enough that features × |zones|
# bbox probes would dominate.
BNL_MAX_ZONES = 256

# Probe prefilter margin (degrees): a point farther than this outside a
# bbox cannot be covered by the geometry inside it — raycast-interior is
# contained in the bbox, and the boundary test reaches only BOUNDARY_EPS
# (1e-9°) beyond it. 1e-6 keeps 1000x slack above the eps while still
# excluding essentially every non-candidate vertex from the expensive
# raycast/boundary evaluation.
PROBE_MARGIN = 1e-6


# closed bbox-intersection rectangle of a candidate pair (both paths name
# the bbox columns identically)
_PAIR_RECT = {
    "lat0": "greatest(_fmin_lat, _z_min_lat)",
    "lat1": "least(_fmax_lat, _z_max_lat)",
    "lon0": "greatest(_fmin_lon, _z_min_lon)",
    "lon1": "least(_fmax_lon, _z_max_lon)",
}

def _clip_sql(arr: str) -> str:
    """Edge-bucket prefilter for the O(|A edges|·|B edges|) pairwise terms:
    any proper crossing or collinear boundary overlap lies on BOTH
    boundaries, hence inside the closed bbox-INTERSECTION rectangle of the
    pair — so both edge arrays can be exactly clipped (one O(V) pass) to
    edges whose own bbox overlaps that rectangle before the quadratic
    sweep. For large-vertex layers (500+ vertices) this turns the cross
    check from V_a·V_b into |A∩rect|·|B∩rect|, typically ~O(√V·√V)."""
    ix = _PAIR_RECT
    return (
        f"filter({arr}, ce -> "
        f"least(ce.y1, ce.y2) <= {ix['lat1']} AND greatest(ce.y1, ce.y2) >= {ix['lat0']} "
        f"AND least(ce.x1, ce.x2) <= {ix['lon1']} AND greatest(ce.x1, ce.x2) >= {ix['lon0']})"
    )


def _refine_ok_sql(
    predicate: str,
    kind: str,
    fedges: str,
    zedges: str,
    fedges_x: str | None = None,
    zedges_x: str | None = None,
) -> str:
    """The full refinement predicate over a candidate (feature, zone) pair,
    parameterized by the EDGE-ARRAY expressions so it can be instantiated
    either over precomputed columns (`_fedges`/`_z_edges`, the cell-cover
    path) or with the derivations inlined (the broadcast nested-loop path,
    where the whole predicate lives inside the join condition and there are
    no intermediate columns to reference).

    Probe prefilters: a vertex farther than PROBE_MARGIN outside the other
    side's bbox cannot be covered by it (interior ⊆ bbox; the boundary test
    reaches only BOUNDARY_EPS ≈ 1e-9° past it, the margin is 1000x that),
    so the expensive raycast + segment-distance evaluation runs only on the
    handful of vertices inside the bbox instead of the whole ring. The
    all-/negated-quantified forms keep the full vertex set but short-circuit
    the geometry test behind the bbox check per vertex (NOT-in-bbox already
    implies NOT covered, so the algebra is unchanged)."""
    fedges_x = fedges_x if fedges_x is not None else _clip_sql(fedges)
    zedges_x = zedges_x if zedges_x is not None else _clip_sql(zedges)
    m = PROBE_MARGIN
    in_zb = (
        f"(v.lat >= _z_min_lat - {m} AND v.lat <= _z_max_lat + {m} "
        f"AND v.lon >= _z_min_lon - {m} AND v.lon <= _z_max_lon + {m})"
    )
    cov_v = _covered_at(zedges, "v.lat", "v.lon")
    any_a_covered_by_b = f"exists(filter(vertices, v -> {in_zb}), v -> {cov_v})"
    all_a_covered_by_b = f"forall(vertices, v -> {in_zb} AND ({cov_v}))"
    any_a_strictly_in_b = (
        f"exists(filter(vertices, v -> {in_zb}), "
        f"v -> {_strictly_in_at(zedges, 'v.lat', 'v.lon')})"
    )
    any_a_strictly_out_b = f"exists(vertices, v -> NOT ({in_zb} AND ({cov_v})))"
    proper_cross = _proper_cross_sql(fedges_x, zedges_x)
    # zone vertices probed against the FEATURE: lines have no interior, so
    # 'covered by A' degrades to 'on A's boundary' for kind='line'
    if kind == "line":
        zv_covered_by_a = _boundary_sql("zv.y1", "zv.x1", fedges)
        zv_strictly_in_a = "false"
    else:
        zv_covered_by_a = _covered_at(fedges, "zv.y1", "zv.x1")
        zv_strictly_in_a = _strictly_in_at(fedges, "zv.y1", "zv.x1")
    in_fb = (
        f"(zv.y1 >= _fmin_lat - {m} AND zv.y1 <= _fmax_lat + {m} "
        f"AND zv.x1 >= _fmin_lon - {m} AND zv.x1 <= _fmax_lon + {m})"
    )
    any_b_covered_by_a = f"exists(filter({zedges}, zv -> {in_fb}), zv -> {zv_covered_by_a})"
    any_b_strictly_in_a = f"exists(filter({zedges}, zv -> {in_fb}), zv -> {zv_strictly_in_a})"

    intersects = f"(({any_a_covered_by_b}) OR ({any_b_covered_by_a}) OR ({proper_cross}))"
    if predicate == "intersects":
        return intersects
    if predicate == "within":
        return (
            f"(({all_a_covered_by_b}) AND NOT ({proper_cross})"
            f" AND NOT ({any_b_strictly_in_a}))"
        )
    if predicate == "crosses":
        return (
            f"(({proper_cross}) OR "
            f"(({any_a_strictly_in_b}) AND ({any_a_strictly_out_b})))"
        )
    # touches / touches_rook
    ok = (
        f"(({intersects}) AND NOT ({proper_cross})"
        f" AND NOT ({any_a_strictly_in_b}) AND NOT ({any_b_strictly_in_a}))"
    )
    if predicate == "touches_rook":
        # rook contiguity: boundary contact must include a shared
        # positive-length segment, not just a corner point
        ok = f"({ok} AND ({_collinear_overlap_sql(fedges_x, zedges_x)}))"
    if kind == "poly":
        # coincident / edge-overlapping polygons: interior contact with
        # no strictly-interior vertex and no proper crossing — reject
        # via the collinear-overlap interior witness
        ok = f"({ok} AND NOT ({_collinear_interior_sql(fedges_x, zedges_x, fedges, zedges)}))"
    return ok


def feature_spatial_join(
    features: DataFrame,
    index: ZoneIndex,
    predicate: str = "intersects",
    how: str = "inner",
    feature_key: str = "feature_id",
    vertices_col: str = "vertices",
    kind: str = "poly",
    rings_col: str | None = None,
    refine: str = "sql",
) -> DataFrame:
    """Join a polygon/polyline feature layer against a zone index.

    ``features``: any columns + ``vertices_col: array<struct<lat,lon>>``
    (polygons: closed outer ring; lines: the vertex chain). ``kind``:
    'poly' or 'line' (lines have no interior — 'within' for a line means
    every vertex covered and no boundary crossing, i.e. covered-by).
    ``rings_col``: optional ``array<array<struct<lat,lon>>>`` for
    MULTI-RING left features (holes / multipolygons, even-odd) — wins over
    ``vertices_col``; edges are derived per ring, probes over all rings'
    vertices. how: 'inner' (feature cols + zone_id), 'semi', 'anti'.

    ``refine``: 'sql' (default — Catalyst HOF refinement, zero Python),
    'arrow' (numpy per-pair evaluation of the same predicate algebra via an
    Arrow-batched pandas UDF — wins for LARGE-VERTEX layers where HOF
    lambdas pay the interpreted-expression cost per edge; supports
    intersects / within / crosses). Both backends produce identical rows
    (pytest-asserted parity).
    """
    if predicate == "disjoint":
        return feature_spatial_join(
            features, index, "intersects", "anti", feature_key, vertices_col, kind, rings_col
        )
    if predicate not in FEATURE_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    if predicate == "crosses" and kind != "line":
        raise ValueError("crosses is defined here for line features vs polygon zones")
    if how not in ("inner", "semi", "anti"):
        raise ValueError(f"unknown how {how!r}")
    if refine not in ("sql", "arrow"):
        raise ValueError(f"unknown refine backend {refine!r}")
    if refine == "arrow" and predicate in ("touches", "touches_rook"):
        raise ValueError(
            "refine='arrow' supports intersects/within/crosses — the "
            "collinear-overlap touches witness runs on the SQL backend"
        )
    if "zone_id" in features.columns:
        # every other zone-side column is _z_-prefixed, but zone_id IS the
        # join's output column — a same-named user column would make the
        # inner-join output ambiguous; fail loudly instead
        raise ValueError(
            "feature layer carries a 'zone_id' column — rename it before "
            "joining (zone_id is the reserved output column)"
        )

    spark = features.sparkSession
    res = index.res
    n = 1 << res

    if rings_col is not None:
        # multi-ring: probes over all rings' vertices; edges per ring
        feats = features.withColumn("vertices", F.expr(f"flatten({rings_col})"))
        feats = feats.where(F.col("vertices").isNotNull() & (F.size("vertices") >= 2))
        fedges = _RING_EDGES.format(rings=rings_col)
    else:
        feats = features.withColumnRenamed(vertices_col, "vertices") if vertices_col != "vertices" else features
        feats = feats.where(F.col("vertices").isNotNull() & (F.size("vertices") >= 2))
        # polygons: auto-close an unclosed ring so the closing edge exists;
        # lines must NOT be closed (the chain is open by definition)
        fedges = (
            edges_sql(_close_ring_sql("vertices")) if kind == "poly" else _FEATURE_EDGES
        )
    # bbox, all pure SQL over the vertex array, with ZERO interpreted
    # lambdas: `vertices.lat` / `vertices.lon` are GetArrayStructFields —
    # a native field-extraction expression, no per-element lambda call —
    # and array_min/array_max over the resulting plain double arrays are
    # native loops with a primitive ordering (measured ~1.7x over the
    # previous form, which paid one interpreted transform pass for the
    # lons plus struct-ordering comparisons for the lats; this pass runs
    # over EVERY feature, so it dominates large-vertex layers).
    feats = (
        feats.withColumn("_vlats", F.col("vertices.lat"))
        .withColumn("_vlons", F.col("vertices.lon"))
        .withColumn("_fmin_lat", F.expr("array_min(_vlats)"))
        .withColumn("_fmax_lat", F.expr("array_max(_vlats)"))
        .withColumn("_fmin_lon", F.expr("array_min(_vlons)"))
        .withColumn("_fmax_lon", F.expr("array_max(_vlons)"))
        .drop("_vlats", "_vlons")
    )
    # a NaN vertex makes the raycast and boundary tests (and the two refine
    # backends) disagree, so refuse it. array_max sorts NaN above every
    # number: the bbox max reads NaN exactly when some vertex does.
    nan_vertex = F.isnan("_fmax_lat") | F.isnan("_fmax_lon")
    feats = feats.withColumn(
        "_fmax_lat",
        F.when(nan_vertex, F.raise_error(F.lit(
            "feature_spatial_join: a feature has a NaN vertex coordinate; "
            "drop or repair it before joining"
        ))).otherwise(F.col("_fmax_lat")),
    )

    # zone side: the index's zone table, one row per zone (the small
    # broadcast side). _z_-prefix every zone-side metadata column: the
    # user's feature layer may legitimately carry 'kind', bbox, or
    # 'edges'/'cell' columns, and an unprefixed join would be ambiguous or
    # silently drop user data
    zmeta = index.zone_df(spark).select(
        "zone_id",
        *[F.col(c).alias(f"_z_{c}") for c in ("min_lat", "min_lon", "max_lat", "max_lon", "edges")],
    )

    use_bnl = len(index.zone_pdf) <= BNL_MAX_ZONES
    drop_common = [
        "_fmin_lat", "_fmax_lat", "_fmin_lon", "_fmax_lon", "_fedges",
        "_cx", "_cy", "_cell", "_z_cell",
        "_z_min_lat", "_z_min_lon", "_z_max_lat", "_z_max_lon", "_z_edges",
    ]

    bbox_overlap = (
        (F.col("_fmin_lat") <= F.col("_z_max_lat")) & (F.col("_fmax_lat") >= F.col("_z_min_lat"))
        & (F.col("_fmin_lon") <= F.col("_z_max_lon")) & (F.col("_fmax_lon") >= F.col("_z_min_lon"))
    )

    if use_bnl:
        # dimension-sized zone layer: ONE broadcast nested-loop join on the
        # closed bbox-overlap predicate — each feature row is probed against
        # every zone with 4 codegen'd comparisons (features × |zones| work,
        # and the condition stays pure comparisons so the probe loop keeps
        # whole-stage codegen). Produces exactly the same candidate set as
        # the cell-cover path (a pair survives that path iff the bboxes
        # overlap, deduped at the reference cell), with no explode
        # duplicating the vertex arrays across grid cells. The geometry
        # refine runs ABOVE the join, behind a pushdown barrier — see below.
        cand = feats.join(F.broadcast(zmeta), bbox_overlap, "inner")
    else:
        # large zone layer: the original cell-cover equi-join — features
        # explode onto their bbox cell range (sequence × explode, no Python,
        # no driver loop) so each feature meets only zones sharing a cell.
        x0 = portable.cell_x_sql("_fmin_lon", res)
        x1 = portable.cell_x_sql("_fmax_lon", res)
        y0 = portable.cell_y_sql("_fmax_lat", res)  # y grows southward
        y1 = portable.cell_y_sql("_fmin_lat", res)
        covered = (
            feats.withColumn("_cx", F.explode(F.expr(f"sequence({x0}, {x1})")))
            .withColumn("_cy", F.explode(F.expr(f"sequence({y0}, {y1})")))
            .withColumn("_cell", F.col("_cy") * n + F.col("_cx"))
        )
        # the zone side exploded to its FULL bbox cell range — the
        # point-join cover drops entirely-outside cells, but the
        # reference-point dedup below needs every bbox cell on both sides
        zx0 = portable.cell_x_sql("_z_min_lon", res)
        zx1 = portable.cell_x_sql("_z_max_lon", res)
        zy0 = portable.cell_y_sql("_z_max_lat", res)
        zy1 = portable.cell_y_sql("_z_min_lat", res)
        zcover = (
            zmeta.withColumn("_zx", F.explode(F.expr(f"sequence({zx0}, {zx1})")))
            .withColumn("_zy", F.explode(F.expr(f"sequence({zy0}, {zy1})")))
            .withColumn("_z_cell", F.col("_zy") * n + F.col("_zx"))
            .drop("_zx", "_zy")
        )
        # reference-point dedup (NO shuffle): of all cells where a (feature,
        # zone) pair meets, exactly one contains the bbox-intersection corner
        # point (greatest of the two mins) — keep the pair only there
        rp_cell = portable.cell_id_sql(
            "greatest(_fmin_lat, _z_min_lat)", "greatest(_fmin_lon, _z_min_lon)", res
        )
        cand = (
            covered.join(F.broadcast(zcover), covered["_cell"] == zcover["_z_cell"], "inner")
            .where(bbox_overlap)
            .where(F.expr(f"_cell = {rp_cell}"))
        )

    if refine == "arrow":
        # single-ring polys and lines: the numpy kernel derives A edges
        # from the vertex ring itself (feature_refine.derive_edges — the
        # exact _close_ring_sql twin), so the JVM skips both the per-pair
        # zip_with edge derivation AND shipping 4 × |edges| doubles per
        # candidate over the Arrow boundary. Multi-ring features keep the
        # explicit flattened edge arrays.
        a_mode = None
        if rings_col is None:
            a_mode = "poly_close" if kind == "poly" else "line"
        if a_mode is None:
            cand = cand.withColumn("_fedges", F.expr(fedges))
        matched = _arrow_refine(cand, predicate, kind, _PAIR_RECT, a_mode)
        drop = list(drop_common)
        if rings_col is not None:
            drop.append("vertices")
        if how == "inner":
            return matched.drop(*drop)
        hits = matched.select(feature_key).distinct()
        join_type = "left_semi" if how == "semi" else "left_anti"
        return features.join(hits, feature_key, join_type)

    # feature edge table, derived AFTER candidate generation: the zip_with
    # over the (possibly large) vertex array runs once per surviving
    # (feature, zone) pair, never for the ~99% of features whose bbox meets
    # no zone.
    cand = cand.withColumn("_fedges", F.expr(fedges))
    cand = cand.withColumn("_fedges_x", F.expr(_clip_sql("_fedges"))).withColumn(
        "_zedges_x", F.expr(_clip_sql("_z_edges"))
    )

    # refinement over the precomputed edge columns, behind an explicit
    # PUSHDOWN BARRIER: a deterministic filter here would be merged into
    # the candidate join's condition ahead of the cheap bbox conjuncts
    # (PushPredicateThroughJoin prepends pushed filters), making the full
    # geometry algebra run for every (feature × zone) probe pair — measured
    # 6-30x slower on the bench layers. Wrapping the predicate in a
    # nondeterministic-but-constant guard (monotonically_increasing_id() is
    # flagged nondeterministic; the comparison is always true) pins the
    # filter exactly here, so it evaluates once per bbox-surviving
    # candidate with the edge arrays materialized as columns.
    ok = _refine_ok_sql(
        predicate, kind, "_fedges", "_z_edges", fedges_x="_fedges_x", zedges_x="_zedges_x"
    )
    matched = cand.where(
        F.when(F.monotonically_increasing_id() >= 0, F.expr(ok)).otherwise(F.lit(False))
    )
    drop = list(drop_common) + ["_fedges_x", "_zedges_x"]
    if rings_col is not None:
        drop.append("vertices")  # the synthetic flatten, not user data
    if how == "inner":
        return matched.drop(*drop)
    hits = matched.select(feature_key).distinct()
    join_type = "left_semi" if how == "semi" else "left_anti"
    return features.join(hits, feature_key, join_type)


def _arrow_refine(
    cand: DataFrame, predicate: str, kind: str, ix: dict, a_mode: str | None = None
) -> DataFrame:
    """Filter candidate pairs with the numpy predicate backend: geometry is
    shipped as FLAT double arrays (Arrow list<double> → zero-copy numpy per
    row), the rect is the same closed bbox-intersection the SQL clip uses,
    and :func:`feature_refine.pair_predicate` mirrors the SQL algebra
    bit-for-bit. Still map-side per pair — no shuffle is added. All array
    splits use native GetArrayStructFields (`arr.field`), not interpreted
    transform lambdas; with ``a_mode`` set the A edge arrays are derived
    in numpy and never cross the boundary at all."""
    from gaia_spark.operators.feature_refine import make_pair_udf

    _ok = make_pair_udf(predicate, kind, a_mode)

    args = [F.col("vertices.lat"), F.col("vertices.lon")]
    if a_mode is None:
        args += [
            F.col("_fedges.y1"), F.col("_fedges.x1"),
            F.col("_fedges.y2"), F.col("_fedges.x2"),
        ]
    args += [
        F.col("_z_edges.y1"), F.col("_z_edges.x1"),
        F.col("_z_edges.y2"), F.col("_z_edges.x2"),
        F.expr(ix["lat0"]), F.expr(ix["lat1"]),
        F.expr(ix["lon0"]), F.expr(ix["lon1"]),
    ]
    return cand.withColumn("_okk", _ok(*args)).where(F.col("_okk")).drop("_okk")


def canonical_ring_sql(vertices: str) -> str:
    """Canonical form of a polygon ring: the lexicographic minimum over all
    rotations of the OPEN ring and of its reverse — invariant to starting
    vertex and orientation, so two rings describe the same simple polygon
    iff their canonical forms are equal. Pure Catalyst (sequence/slice/
    concat/array_min over nested arrays); O(V²) per feature, fine for the
    ≤ dozens-of-vertices layers equality joins run on."""
    opened = (
        f"(CASE WHEN size({vertices}) >= 2 "
        f"AND element_at({vertices}, 1) = element_at({vertices}, -1) "
        f"THEN slice({vertices}, 1, size({vertices}) - 1) ELSE {vertices} END)"
    )

    def rots(arr: str) -> str:
        return (
            f"transform(sequence(0, size({arr}) - 1), i -> "
            f"concat(slice({arr}, i + 1, size({arr}) - i), slice({arr}, 1, i)))"
        )

    return (
        f"array_min(concat({rots(opened)}, {rots(f'reverse({opened})')}))"
    )


def feature_equals_join(
    features_a: DataFrame,
    features_b: DataFrame,
    key_a: str,
    key_b: str,
    vertices_a: str = "vertices",
    vertices_b: str = "vertices",
) -> DataFrame:
    """EqualsProcess for POLYGON features: (key_a, key_b) pairs whose rings
    describe the same simple polygon (equality up to starting vertex,
    orientation, and explicit ring closure). A plain equi-join on the
    canonical ring key — Catalyst picks broadcast or shuffle hash; both
    sides can be web-scale (no geometry pairwise work at all)."""
    a = features_a.select(
        F.col(key_a), F.expr(canonical_ring_sql(vertices_a)).alias("_ck")
    )
    b = features_b.select(
        F.col(key_b).alias("_bk"), F.expr(canonical_ring_sql(vertices_b)).alias("_ck")
    )
    return a.join(b, "_ck").select(key_a, F.col("_bk").alias(key_b))
