"""Spatial relation joins: within / intersects / disjoint / touches / equals.

Reference semantics: ``[R] gaia/geo/processes_vector.py ::
{Within,Intersects,Disjoint,Touches,Equals}Process.compute`` — keep the
features of input-1 that stand in the named DE-9IM-ish relation to input-2.
The reference computes them as O(n·m) pandas/shapely scans on one node; here
every relation is the same two-phase Spark plan (SURVEY.md §2.C):

1. **candidate generation** — an equi-join on quadtree cell id between the
   point side (cell computed by pure-SQL integer math, whole-stage codegen)
   and the polygon side's exploded multi-resolution *cell cover*
   (full/partial classified at build time);
2. **refinement** — full-cover cells need no geometry test at all; partial
   rect cells refine with a codegen'd BETWEEN; partial irregular-polygon
   cells refine with even-odd ray casting plus a boundary-distance test,
   evaluated JVM-side by higher-order functions over the precompiled edge
   array each cover row carries (the "prepared geometry" role).

The polygon side is tiny next to a web-scale pages table, so the cover is
broadcast (zero shuffle). A salted sort-merge path exists for the
large↔large case and for skew-stress tests.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.functions import portable
from gaia_spark.functions.kernel import PreparedPolygon, polygon_cover

PREDICATES = ("within", "intersects", "touches", "disjoint")


def pick_resolution(zones_pdf: pd.DataFrame) -> int:
    """Grid resolution for the zone cover.

    Rect-only layers (no raycast refine — membership is a codegen'd
    BETWEEN) target ~3 cells per axis for a median zone: the smallest
    cover that still bounds candidate fan-out per point.

    Layers with POLY zones target ~12 cells per axis (+2 res): at ~3/axis
    essentially every covered cell is a *partial* (boundary) cell, so
    nearly every candidate pays the interpreted raycast + segment-distance
    refine; at ~12/axis the partial cells shrink to the boundary ring
    (~perimeter/area ≈ 1/3 of covered cells) and interior candidates
    short-circuit on the `full` flag with zero geometry work. The finer
    cover costs only broadcast rows (each carries the zone's edge array),
    so it is gated to dimension-sized layers — above 1024 zones the
    coarser target keeps the cover's row × edge-array product bounded."""
    h = (zones_pdf["max_lat"] - zones_pdf["min_lat"]).median()
    w = (zones_pdf["max_lon"] - zones_pdf["min_lon"]).median()
    size = max(float(min(h, w)), 1e-6)
    has_poly = bool((zones_pdf["kind"] == "poly").any()) if "kind" in zones_pdf else True
    target = 2160.0 if has_poly and len(zones_pdf) <= 1024 else 540.0
    return int(np.clip(round(math.log2(target / size)), 2, 14))


def _zone_rings(z) -> list[tuple[np.ndarray, np.ndarray]]:
    """Rings of one zones_pdf row: the optional ``rings`` column (list of
    rings — ring 0 outer, more rings = holes / extra outer rings) wins over
    the single-ring ``vertices`` column."""
    rings = getattr(z, "rings", None)
    raw = rings if isinstance(rings, (list, tuple)) and len(rings) else [z.vertices]
    return [
        (
            np.array([v["lat"] for v in ring], dtype=np.float64),
            np.array([v["lon"] for v in ring], dtype=np.float64),
        )
        for ring in raw
    ]


@dataclass
class ZoneIndex:
    """Driver-built broadcastable index over a (small) polygon layer."""

    res: int
    cover_pdf: pd.DataFrame  # zone_id, cell, full, kind, min/max bounds
    prepared: dict[int, list[tuple[np.ndarray, np.ndarray]]]  # zone_id -> rings
    zones_pdf: pd.DataFrame

    @classmethod
    def build(cls, zones_pdf: pd.DataFrame, res: int | None = None) -> "ZoneIndex":
        res = res if res is not None else pick_resolution(zones_pdf)
        rows, prepared = [], {}
        for z in zones_pdf.itertuples(index=False):
            rings = _zone_rings(z)
            prep = PreparedPolygon.from_rings(rings)
            edges = None
            if z.kind == "poly":
                prepared[int(z.zone_id)] = rings
                # precompiled edge table (ALL rings, even-odd) shipped INTO
                # the broadcast cover so refinement can run as JVM
                # higher-order functions (no Arrow)
                edges = [
                    {"y1": float(a1), "x1": float(o1), "y2": float(a2), "x2": float(o2)}
                    for a1, o1, a2, o2 in zip(prep.y1, prep.x1, prep.y2, prep.x2)
                ]
            full, partial = polygon_cover(prep, res)
            for c in full:
                rows.append((int(z.zone_id), int(c), True, z.kind, z.min_lat, z.min_lon, z.max_lat, z.max_lon, edges))
            for c in partial:
                rows.append((int(z.zone_id), int(c), False, z.kind, z.min_lat, z.min_lon, z.max_lat, z.max_lon, edges))
        cover = pd.DataFrame(
            rows,
            columns=["zone_id", "cell", "full", "kind", "min_lat", "min_lon", "max_lat", "max_lon", "edges"],
        )
        return cls(res=res, cover_pdf=cover, prepared=prepared, zones_pdf=zones_pdf)

    def cover_df(self, spark: SparkSession) -> DataFrame:
        # memoized per session: the records conversion + schema inference
        # costs ~0.5 s of SERIAL driver time per call — pure Amdahl loss
        # that showed up directly in N-vs-4N scaling measurements
        # keyed by the session OBJECT (identity compare, strong ref) — an
        # id()-keyed cache could collide after the old session is GC'd and
        # CPython reuses its id, returning a DataFrame bound to a dead session
        cache = getattr(self, "_cover_df_cache", None)
        if cache is not None and cache[0] is spark:
            return cache[1]
        df = spark.createDataFrame(
            self.cover_pdf.to_dict("records"),
            "zone_id long, cell long, full boolean, kind string, "
            "min_lat double, min_lon double, max_lat double, max_lon double, "
            "edges array<struct<y1:double,x1:double,y2:double,x2:double>>",
        )
        self._cover_df_cache = (spark, df)
        return df


BOUNDARY_EPS2 = 1e-18  # (1e-9 deg)² — matches kernel.PreparedPolygon.on_boundary


def _raycast_sql(lat: str = "lat", lon: str = "lon") -> str:
    """Even-odd ray casting over the cover row's ``edges`` array — the SAME
    formula as kernel.PreparedPolygon.contains, but evaluated JVM-side by
    Catalyst's higher-order functions: zero Python, zero Arrow transfer.
    Horizontal edges self-exclude via the (y1 > lat) != (y2 > lat) guard
    (the division then yields ±Infinity, and the AND is already false)."""
    return (
        f"(aggregate(edges, 0L, (acc, e) -> acc + (CASE WHEN "
        f"((e.y1 > {lat}) != (e.y2 > {lat})) AND "
        f"({lon} < e.x1 + ({lat} - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)) "
        f"THEN 1L ELSE 0L END)) % 2) = 1"
    )


def _boundary_sql(lat: str = "lat", lon: str = "lon") -> str:
    """min point-to-edge squared distance ≤ eps² (kernel.on_boundary twin).

    The projection onto the segment is clamped by branch: dot ≤ 0 → |p−a|²,
    dot ≥ len2 → |p−b|², otherwise cross²/len2 (distance to the line). Every
    branch is a sum of squares or a square over the edge length, so a point
    ON an edge yields d² of order ulp², far below eps². The expanded form
    u + t·(t·len2 − 2·dot) cancels to ±ulp(u) ≈ 1e-16 there and misses
    edge points. A degenerate edge (len2 = 0) has dot = 0 and takes the
    first branch. Higher-order functions are interpreted (not codegen'd);
    the CASE evaluates only the branch it takes.
    """
    dx, dy = "(e.x2 - e.x1)", "(e.y2 - e.y1)"
    px, py = f"({lon} - e.x1)", f"({lat} - e.y1)"
    qx, qy = f"({lon} - e.x2)", f"({lat} - e.y2)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    dot = f"({px} * {dx} + {py} * {dy})"
    cross = f"({px} * {dy} - {py} * {dx})"
    d2 = (
        f"CASE WHEN {dot} <= 0 THEN {px} * {px} + {py} * {py} "
        f"WHEN {dot} >= {len2} THEN {qx} * {qx} + {qy} * {qy} "
        f"ELSE {cross} * {cross} / {len2} END"
    )
    return f"array_min(transform(edges, e -> {d2})) <= {BOUNDARY_EPS2}"


def with_cell(df: DataFrame, res: int, lat: str = "lat", lon: str = "lon", out: str | None = None) -> DataFrame:
    """Attach the packed grid-cell id — pure SQL math, codegen'd, and
    mirrored verbatim by the DuckDB oracle (portable.cell_id_sql)."""
    return df.withColumn(out or f"cell_r{res}", F.expr(portable.cell_id_sql(lat, lon, res)))


def with_geohash(
    df: DataFrame, precision: int, lat: str = "lat", lon: str = "lon", out: str = "geohash"
) -> DataFrame:
    """Attach the standard base-32 geohash string at ``precision`` chars —
    the third cell-index family beside the packed grid cell (with_cell) and
    the Web-Mercator tile (with_tile). Pure JVM arithmetic (quantize →
    per-character bit packing, portable.geohash_sql), no Python; the DuckDB
    oracle evaluates the identical SQL string. Geohash prefixes nest, so
    coarser groupings are ``substring(geohash, 1, k)`` — no re-encode."""
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists - pass out=")
    latq, lonq = f"__{out}_latq", f"__{out}_lonq"
    return (
        df.withColumn(latq, F.expr(portable.geohash_latq_sql(lat, precision)))
        .withColumn(lonq, F.expr(portable.geohash_lonq_sql(lon, precision)))
        .withColumn(out, F.expr(portable.geohash_sql(latq, lonq, precision)))
        .drop(latq, lonq)
    )


def with_hex(
    df: DataFrame,
    size_deg: float,
    lat: str = "lat",
    lon: str = "lon",
    out: str = "hex_id",
    keep_axial: bool = False,
) -> DataFrame:
    """Attach a pointy-top hexagonal bin id (the hex-index analog of
    with_cell): fractional axial coords + cube rounding over degree space,
    every step portable arithmetic (floor(x+0.5) half-up rounding — the one
    primitive both engines evaluate identically; round() would not).
    Assignment is exactly the Voronoi cell of the hex-center lattice
    (validated against an independent implementation + brute neighbor check
    in tests). ``keep_axial`` keeps ``_ax``/``_az`` for center derivation."""
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists - pass out=")
    q = portable.hex_q_sql(lat, lon, size_deg)
    r = portable.hex_r_sql(lat, lon, size_deg)
    d = df.withColumn("_hq", F.expr(q)).withColumn("_hr", F.expr(r))
    for k, v in portable.hex_round_cols_sql("_hq", "_hr").items():
        d = d.withColumn(k, F.expr(v))
    d = (
        d.withColumn("_ax", F.expr(portable.hex_axial_x_sql()))
        .withColumn("_az", F.expr(portable.hex_axial_z_sql()))
        .withColumn(out, F.expr(portable.hex_id_sql("_ax", "_az")))
        .drop("_hq", "_hr", "_rx", "_ry", "_rz", "_dx", "_dy", "_dz")
    )
    return d if keep_axial else d.drop("_ax", "_az")


def hex_kring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial (dx, dz) offsets of the hex k-ring DISC (cube distance ≤ k):
    all (dx, dz) with |dx|, |dz|, |dx+dz| ≤ k — 3k(k+1)+1 cells."""
    return [
        (dx, dz)
        for dx in range(-k, k + 1)
        for dz in range(max(-k, -dx - k), min(k, -dx + k) + 1)
    ]


def hex_smooth(
    counts: DataFrame,
    k: int = 1,
    hex_col: str = "hex_id",
    val_col: str = "n_pts",
) -> DataFrame:
    """Hex-neighborhood smoothing (the kRing aggregate on the hex lattice):
    for every hex in ``counts``, sum ``val_col`` over its k-ring disc.
    Scale shape: each row explodes onto the 3k(k+1)+1 literal offsets (a
    tiny in-plan array — the hex twin of the cell kRing), then ONE
    groupBy(hex) — no join, all integer arithmetic. Returns
    ``(hex_col, n_nbr, smoothed)`` where n_nbr counts populated disc cells.
    Output rows are the DISC CENTERS that receive ≥1 contribution (hexes
    with data plus their halo)."""
    off = 1 << 20
    m = 1 << 21
    pairs = ", ".join(f"struct({dx} AS dx, {dz} AS dz)" for dx, dz in hex_kring_offsets(k))
    d = (
        counts.withColumn("_ax", F.expr(f"cast({hex_col} / {m} as bigint) - {off}"))
        .withColumn("_az", F.expr(f"{hex_col} % {m} - {off}"))
        .withColumn("_o", F.explode(F.expr(f"array({pairs})")))
        .withColumn(
            "_nbr",
            F.expr(f"(_ax + _o.dx + {off}) * {m} + (_az + _o.dz + {off})"),
        )
    )
    return d.groupBy(F.col("_nbr").alias(hex_col)).agg(
        F.count("*").alias("n_nbr"),
        F.sum(val_col).alias("smoothed"),
    )


def spatial_join(
    points: DataFrame,
    index: ZoneIndex,
    predicate: str = "within",
    how: str = "inner",
    point_key: str = "url",
    strategy: str = "broadcast",
    n_salt: int = 8,
) -> DataFrame:
    """Two-phase cell-bucketed spatial join of points against a zone index.

    how='inner' → point columns + zone_id (one row per matching pair;
    overlapping zones produce multiple rows, as the reference's join-style
    output does); how='semi' → points matching ≥1 zone, deduped;
    how='anti' → points matching none (DisjointProcess).
    """
    if predicate == "disjoint":
        return spatial_join(points, index, "intersects", "anti", point_key, strategy, n_salt)
    if predicate not in PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    if how not in ("inner", "semi", "anti"):
        raise ValueError(f"unknown how {how!r}")

    spark = points.sparkSession
    res = index.res
    pts = points.where(F.col("lat").isNotNull())
    pts = with_cell(pts, res, out="_cell")

    cover = index.cover_df(spark)
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"], "inner")
    else:
        # large↔large: sort-merge on a salted key; points pick a deterministic
        # salt, the (smaller) cover side is exploded across all salts so no
        # pair is lost. AQE skew-join splitting stays on as a second line.
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col(point_key)), F.lit(n_salt)))
        cover = cover.withColumn("_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salt)])))
        cand = pts.join(cover, (pts["_cell"] == cover["cell"]) & (pts["_salt"] == cover["_salt"]), "inner")

    lat, lon = F.col("lat"), F.col("lon")
    strict_in_bbox = (
        (lat > F.col("min_lat")) & (lat < F.col("max_lat"))
        & (lon > F.col("min_lon")) & (lon < F.col("max_lon"))
    )
    closed_in_bbox = (
        (lat >= F.col("min_lat")) & (lat <= F.col("max_lat"))
        & (lon >= F.col("min_lon")) & (lon <= F.col("max_lon"))
    )
    on_bbox_edge = closed_in_bbox & (
        (lat == F.col("min_lat")) | (lat == F.col("max_lat"))
        | (lon == F.col("min_lon")) | (lon == F.col("max_lon"))
    )

    # polygon refine: ray-cast + boundary test over the broadcast edge
    # arrays, entirely inside the JVM — no Python stage in the join at all.
    # CASE nesting short-circuits the (pricier) boundary test behind the
    # raycast verdict, so it only runs for rows it could actually flip.
    rc, bd = _raycast_sql(), _boundary_sql()
    is_rect, is_poly = F.col("kind") == "rect", F.col("kind") == "poly"
    if predicate == "within":
        rect_ok = strict_in_bbox
        poly_ok = F.expr(f"CASE WHEN {rc} THEN NOT ({bd}) ELSE false END")
    elif predicate == "intersects":
        rect_ok = closed_in_bbox
        poly_ok = F.expr(f"CASE WHEN {rc} THEN true ELSE ({bd}) END")
    else:  # touches
        rect_ok = on_bbox_edge
        poly_ok = F.expr(bd)

    # full cells decide rect/poly 'within'/'intersects' without any geometry
    # test; 'touches' can never come from a full-interior cell.
    full_ok = F.col("full") & F.lit(predicate != "touches")
    jvm_decided = full_ok | (is_rect & rect_ok)
    pip_ok = is_poly & ~full_ok & poly_ok
    matched = cand.where(jvm_decided | pip_ok)

    if how == "inner":
        return matched.drop(
            "_cell", "_salt", "cell", "full", "kind",
            "min_lat", "min_lon", "max_lat", "max_lon", "edges",
        )
    hits = matched.select(point_key).distinct()
    join_type = "left_semi" if how == "semi" else "left_anti"
    return points.join(hits, point_key, join_type)


def equals_join(points_a: DataFrame, points_b: DataFrame, key_a: str = "url", key_b: str = "url") -> DataFrame:
    """EqualsProcess for point layers: exact coordinate equality is a plain
    equi-join on (lat, lon) — no cell plumbing needed
    (``[R] gaia/geo/processes_vector.py :: EqualsProcess``)."""
    b = points_b.select(
        F.col(key_b).alias("b_key"), F.col("lat").alias("b_lat"), F.col("lon").alias("b_lon")
    )
    return points_a.join(
        b, (F.col("lat") == F.col("b_lat")) & (F.col("lon") == F.col("b_lon")), "inner"
    ).drop("b_lat", "b_lon")


def with_hilbert(
    df: DataFrame,
    order: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    out: str = "hilbert_d",
    keep_xy: bool = False,
) -> DataFrame:
    """Attach the Hilbert-curve index at ``order`` bits per axis — the
    fifth index family (cell / tile / geohash / hex / hilbert) and the one
    to SORT or RANGE-PARTITION by: unlike the Z-order implicit in the
    packed cell id, consecutive Hilbert values are always grid neighbors,
    so writing a 100 TB table clustered by hilbert_d gives every
    down-stream bbox scan a near-minimal file footprint (the classic
    space-filling-curve layout trick).

    Plan shape: quantize lon/lat to the 2^order grid, then ``order``
    chained JVM projections (one xy2d level each — +, *, %, CASE; no
    Python, no shuffle); Catalyst collapses the chain into one codegen
    stage. The DuckDB oracle replays the identical per-level expression
    strings (portable.hilbert_step_exprs) as a CTE chain."""
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists - pass out=")
    n = 1 << order
    gx, gy = f"__{out}_gx", f"__{out}_gy"
    xc, yc = f"__{out}_x", f"__{out}_y"
    r = (
        df.withColumn(gx, F.expr(portable.hilbert_grid_x_sql(lon, order)))
        .withColumn(gy, F.expr(portable.hilbert_grid_y_sql(lat, order)))
        .withColumn(xc, F.col(gx))
        .withColumn(yc, F.col(gy))
        .withColumn(out, F.lit(0).cast("long"))
    )
    s = n // 2
    while s > 0:
        d2, x2, y2 = portable.hilbert_step_exprs(xc, yc, out, s, n)
        r = r.select(
            *[c for c in r.columns if c not in (xc, yc, out)],
            F.expr(x2).alias(xc),
            F.expr(y2).alias(yc),
            F.expr(d2).cast("long").alias(out),
        )
        s //= 2
    r = r.drop(xc, yc)
    if keep_xy:
        # the ORIGINAL grid coordinates (the rotated per-level state is
        # internal), so callers can hash-check the full (x, y) -> d map
        return r.withColumnRenamed(gx, "hx").withColumnRenamed(gy, "hy")
    return r.drop(gx, gy)


def hilbert_bbox_ranges(
    spark,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    order: int = 8,
) -> DataFrame:
    """Space-filling-curve range decomposition: the sorted Hilbert values
    of every grid cell inside a bbox, merged into maximal consecutive
    [d_lo, d_hi] runs — exactly the scan ranges a reader needs against a
    table clustered by hilbert_d (each run = one contiguous file/byte
    range; the shortness of this list vs the bbox area is WHY the curve
    beats row-major layout for bbox queries at 100 TB).

    Plan: the bbox cells explode in-plan (sequence × sequence — no input
    table), each runs the xy2d projection chain, then one window pass
    merges consecutive d values by the d − row_number() constant-group
    trick. The window is driver-bounded by the bbox cell count, not the
    data. Returns (d_lo, d_hi, n_cells)."""
    from pyspark.sql import Window

    n = 1 << order
    import math

    x0 = max(0, min(n - 1, math.floor((lon_min + 180.0) / 360.0 * n)))
    x1 = max(0, min(n - 1, math.floor((lon_max + 180.0) / 360.0 * n)))
    y0 = max(0, min(n - 1, math.floor((lat_min + 90.0) / 180.0 * n)))
    y1 = max(0, min(n - 1, math.floor((lat_max + 90.0) / 180.0 * n)))
    cells = spark.range(1).select(
        F.explode(F.expr(f"sequence({x0}, {x1})")).alias("gx")
    ).select("gx", F.explode(F.expr(f"sequence({y0}, {y1})")).alias("gy"))
    r = cells.withColumn("_x", F.col("gx")).withColumn("_y", F.col("gy")).withColumn(
        "d", F.lit(0).cast("long")
    )
    s = n // 2
    while s > 0:
        d2, x2, y2 = portable.hilbert_step_exprs("_x", "_y", "d", s, n)
        r = r.select(
            "gx", "gy",
            F.expr(x2).alias("_x"), F.expr(y2).alias("_y"),
            F.expr(d2).cast("long").alias("d"),
        )
        s //= 2
    w = Window.orderBy("d")
    runs = r.select("d").withColumn("_grp", F.col("d") - F.row_number().over(w))
    return (
        runs.groupBy("_grp")
        .agg(
            F.min("d").cast("long").alias("d_lo"),
            F.max("d").cast("long").alias("d_hi"),
            F.count("*").cast("long").alias("n_cells"),
        )
        .drop("_grp")
        .select("d_lo", "d_hi", "n_cells")
    )


def hilbert_decode(
    df: DataFrame, order: int = 8, d_col: str = "hilbert_d"
) -> DataFrame:
    """Inverse of :func:`with_hilbert`: decode curve positions back to grid
    coordinates (hx, hy) — what a reader does after :func:`
    hilbert_bbox_ranges` hands it d-runs. Same shape as the encoder:
    ``order`` chained JVM projections (portable.hilbert_unstep_exprs),
    zero shuffle. NB: project-collapse can push the fused function past
    janino's 64 KB method limit at order ≥ 6 — Spark then falls back to
    interpreted evaluation for the stage (correct, logged loudly); cut
    the chain with a checkpoint if composing decode with further long
    projection chains (q_hilbert_decode does)."""
    for c in ("hx", "hy"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    n = 1 << order
    tc = "__hd_t"
    r = (
        df.withColumn(tc, F.col(d_col))
        .withColumn("hx", F.lit(0).cast("long"))
        .withColumn("hy", F.lit(0).cast("long"))
    )
    s = 1
    while s < n:
        t2, x2, y2 = portable.hilbert_unstep_exprs(tc, "hx", "hy", s)
        r = r.select(
            *[c for c in r.columns if c not in (tc, "hx", "hy")],
            F.expr(t2).cast("long").alias(tc),
            F.expr(x2).cast("long").alias("hx"),
            F.expr(y2).cast("long").alias("hy"),
        )
        s *= 2
    return r.drop(tc)
