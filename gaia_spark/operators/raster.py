"""Raster ↔ vector bridging: tile pyramids, raster math, clip, vectorize.

Reference semantics: ``[R] gaia/geo/processes_raster.py ::
{SubsetProcess,RasterMathProcess}`` backed by ``[R] gaia/geo/
gdal_functions.py :: {gdal_clip, gdal_calc, gdal_zonalstats}``. The raster
model here is the north-star one: tile pyramids as DataFrames keyed by
(zoom, x, y) with ``px: array<float>`` 64×64 row-major pixel payloads, plus
aggregated tile *stat* pyramids built from point data by rollup.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable
from gaia_spark.functions.kernel import tile_bounds
from gaia_spark.session import local_df
from gaia_spark.synth import RASTER_SCHEMA, TILE_PX


def with_tile(df: DataFrame, zoom: int, lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Attach Web-Mercator XYZ tile coordinates — pure SQL (codegen +
    oracle-mirrorable), SURVEY.md §2.E 'tile assign'."""
    return df.withColumn("zoom", F.lit(zoom)).withColumn(
        "tx", F.expr(portable.tile_x_sql(lon, zoom))
    ).withColumn("ty", F.expr(portable.tile_y_sql(lat, zoom)))


def with_quadkey(
    df: DataFrame, zoom: int, tx: str = "tx", ty: str = "ty"
) -> DataFrame:
    """Attach the Bing-style quadkey string and the Morton (Z-order) code of
    an XYZ tile. Both are one unrolled JVM arithmetic expression (no UDF, no
    shuffle). Morton is the layout key for 100-TB writes: repartitionByRange
    ('morton') before a parquet write co-locates spatially adjacent tiles in
    the same files, so row-group min/max stats prune bbox scans."""
    for out in ("quadkey", "morton"):
        if out in df.columns:
            raise ValueError(f"column '{out}' already present; rename it first")
    return df.withColumn(
        "quadkey", F.expr(portable.quadkey_sql(tx, ty, zoom))
    ).withColumn("morton", F.expr(portable.morton_sql(tx, ty, zoom)))


def point_tile_pyramid(points: DataFrame, max_zoom: int, min_zoom: int = 0) -> DataFrame:
    """Aggregate points once at max_zoom, then derive EVERY coarser level in
    ONE pass: each base tile explodes onto its ancestor chain (a tiny
    in-plan ``sequence``) and a single groupBy sums the whole pyramid —
    exactly two shuffles regardless of pyramid depth, no persist, no union
    of per-level branches (the previous level-by-level rollup paid one
    aggregation job per zoom plus a 5-way union re-reading the persisted
    base; same values, SURVEY.md §2.D rollup).

    Parent keys are ``shiftright`` by the zoom delta — for the non-negative
    tile coordinates this equals repeated floor-halving, so every level's
    (tx, ty, n) is bit-identical to the iterative form.
    """
    base = (
        with_tile(points.where(F.col("lat").isNotNull()), max_zoom)
        .groupBy("zoom", "tx", "ty")
        .agg(F.count("*").alias("n"))
    )
    if max_zoom == min_zoom:
        return base
    return (
        base.withColumn("_z", F.explode(F.expr(f"sequence({min_zoom}, {max_zoom})")))
        .select(
            F.col("_z").cast("int").alias("zoom"),
            F.expr(f"shiftright(tx, {max_zoom} - _z)").alias("tx"),
            F.expr(f"shiftright(ty, {max_zoom} - _z)").alias("ty"),
            "n",
        )
        .groupBy("zoom", "tx", "ty")
        .agg(F.sum("n").cast("long").alias("n"))
    )


# np functions a gdal_calc-style band expression may call
_CALC_NP_FUNCS = frozenset(
    {"sqrt", "abs", "exp", "log", "log2", "log10", "minimum", "maximum",
     "clip", "where", "sin", "cos", "tan", "arctan", "arctan2", "floor",
     "ceil", "round", "power", "hypot"}
)


def _validate_calc(calc: str, letters: list[str]) -> None:
    """AST whitelist for the band expression (ADVICE r4: a charset check
    permits arbitrary dotted np.* attribute chains — parse instead and
    allow only arithmetic, numeric literals, band letters, and calls to a
    fixed set of np functions)."""
    import ast

    try:
        tree = ast.parse(calc, mode="eval")
    except SyntaxError as exc:
        raise ValueError(f"calc does not parse: {calc!r}") from exc
    ok_names = set(letters)

    def check(node: ast.AST) -> None:
        if isinstance(node, ast.Constant):
            if not isinstance(node.value, (int, float)):
                raise ValueError(f"calc literal not allowed: {node.value!r}")
        elif isinstance(node, ast.Name):
            if node.id not in ok_names:
                raise ValueError(f"calc name not allowed: {node.id!r}")
        elif isinstance(node, ast.BinOp):
            if not isinstance(node.op, (ast.Add, ast.Sub, ast.Mult, ast.Div,
                                        ast.Pow, ast.Mod, ast.FloorDiv)):
                raise ValueError(f"calc operator not allowed: {type(node.op).__name__}")
            check(node.left)
            check(node.right)
        elif isinstance(node, ast.UnaryOp):
            if not isinstance(node.op, (ast.USub, ast.UAdd)):
                raise ValueError(f"calc operator not allowed: {type(node.op).__name__}")
            check(node.operand)
        elif isinstance(node, ast.Compare):
            for c in [node.left, *node.comparators]:
                check(c)
        elif isinstance(node, ast.Call):
            fn = node.func
            if not (
                isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "np"
                and fn.attr in _CALC_NP_FUNCS
                and not node.keywords
            ):
                raise ValueError(f"calc call not allowed: {ast.dump(fn)}")
            for arg in node.args:  # the np.func attribute itself is NOT descended
                check(arg)
        else:
            raise ValueError(f"calc node not allowed: {type(node).__name__}")

    check(tree.body)


def raster_math(raster: DataFrame, calc: str, bands: tuple[int, ...] = (0, 1)) -> DataFrame:
    """RasterMathProcess: per-tile band algebra, e.g. calc='A + 2*B'.

    Bands are pivoted onto one row per (zoom,x,y) and the numpy expression
    is evaluated per tile in an Arrow-batched grouped-map — the direct
    analogue of ``gdal_calc``'s lettered-band eval, but distributed.
    The expression is AST-whitelisted: arithmetic, numeric literals,
    band letters, and a fixed set of np.* calls — nothing else parses.
    """
    letters = [chr(ord("A") + i) for i in range(len(bands))]
    _validate_calc(calc, letters)

    piv = (
        raster.where(F.col("band").isin(list(bands)))
        .groupBy("zoom", "x", "y")
        .pivot("band", list(bands))
        .agg(F.first("px"))
    )
    for b, letter in zip(bands, letters):
        piv = piv.withColumnRenamed(str(b), f"_px_{letter}")

    def calc_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        env_base = {"np": np}
        for bdf in batches:
            if not len(bdf):
                continue
            env = dict(env_base)
            for letter in letters:
                env[letter] = np.stack(
                    [np.asarray(p, dtype=np.float64) for p in bdf[f"_px_{letter}"]]
                )
            res = eval(calc, {"__builtins__": {}}, env)  # noqa: S307 — AST-whitelisted
            yield pd.DataFrame(
                {
                    "zoom": bdf["zoom"],
                    "x": bdf["x"],
                    "y": bdf["y"],
                    "band": 0,
                    "px": [r.astype(np.float32).tolist() for r in res],
                }
            )

    return piv.mapInPandas(calc_batch, RASTER_SCHEMA)


def pixels_of(raster: DataFrame) -> DataFrame:
    """Explode tiles to per-pixel rows with center lat/lon — the
    raster→vector bridge feeding zonal stats. Lazy/pipelined."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bdf in batches:
            out = []
            for row in bdf.itertuples(index=False):
                z, x, y, b = int(row.zoom), int(row.x), int(row.y), int(row.band)
                lat0, lat1, lon0, lon1 = tile_bounds(z, x, y)
                lats = np.linspace(lat1, lat0, TILE_PX, endpoint=False) - (lat1 - lat0) / (2 * TILE_PX)
                lons = np.linspace(lon0, lon1, TILE_PX, endpoint=False) + (lon1 - lon0) / (2 * TILE_PX)
                glon, glat = np.meshgrid(lons, lats)
                v = np.asarray(row.px, dtype=np.float64)
                # pixel_id packs (z,x,y,pixel) uniquely for zooms ≤ 16
                pid = (np.int64(((z * (1 << 16) + x) * (1 << 16) + y)) * np.int64(TILE_PX * TILE_PX)
                       + np.arange(TILE_PX * TILE_PX, dtype=np.int64))
                out.append(
                    pd.DataFrame(
                        {
                            "pixel_id": pid,
                            "lat": glat.ravel(),
                            "lon": glon.ravel(),
                            "v": v,
                            "band": b,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return raster.mapInPandas(
        expand, "pixel_id long, lat double, lon double, v double, band int"
    )


def clip_raster(raster: DataFrame, index) -> DataFrame:
    """SubsetProcess (gdal_clip): keep tiles intersecting the zone cover;
    edge tiles get out-of-zone pixels masked to NaN by the PIP kernel."""
    from gaia_spark.functions.kernel import PreparedPolygon

    spark = raster.sparkSession
    zooms = [r.zoom for r in raster.select("zoom").distinct().collect()]
    frames = []
    for z in zooms:
        rows = []
        for zid, prep in _prepared_of(index).items():
            full, partial = _tile_cover(prep, z)
            rows += [(int(zid), z, int(c) % (1 << z), int(c) // (1 << z), True) for c in full]
            rows += [(int(zid), z, int(c) % (1 << z), int(c) // (1 << z), False) for c in partial]
        frames.append(pd.DataFrame(rows, columns=["zone_id", "zoom", "x", "y", "full"]))
    cover = local_df(
        spark, pd.concat(frames, ignore_index=True), "zone_id long, zoom int, x int, y int, full boolean"
    )
    hit = raster.join(F.broadcast(cover), ["zoom", "x", "y"], "inner")

    bc = spark.sparkContext.broadcast(_prepared_of(index))

    def mask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = bc.value
        for bdf in batches:
            out = []
            for row in bdf.itertuples(index=False):
                z, x, y = int(row.zoom), int(row.x), int(row.y)
                px = np.asarray(row.px, dtype=np.float32)
                if not bool(row.full):
                    lat0, lat1, lon0, lon1 = tile_bounds(z, x, y)
                    lats = np.linspace(lat1, lat0, TILE_PX, endpoint=False) - (lat1 - lat0) / (2 * TILE_PX)
                    lons = np.linspace(lon0, lon1, TILE_PX, endpoint=False) + (lon1 - lon0) / (2 * TILE_PX)
                    glon, glat = np.meshgrid(lons, lats)
                    prep = PreparedPolygon.from_rings(polys[int(row.zone_id)])
                    keep = prep.covers(glat.ravel(), glon.ravel())
                    px = np.where(keep, px, np.nan).astype(np.float32)
                out.append((z, x, y, int(row.band), px.tolist()))
            yield pd.DataFrame(out, columns=["zoom", "x", "y", "band", "px"])

    return hit.mapInPandas(mask, RASTER_SCHEMA)


def _prepared_of(index) -> dict[int, list[tuple[np.ndarray, np.ndarray]]]:
    """All zones of a ZoneIndex as ring lists (rects get 5-point rings)."""
    out = dict(index.prepared)
    for z in index.zones_pdf.itertuples(index=False):
        zid = int(z.zone_id)
        if zid not in out:
            la0, lo0, la1, lo1 = z.min_lat, z.min_lon, z.max_lat, z.max_lon
            out[zid] = [(
                np.array([la0, la0, la1, la1, la0]),
                np.array([lo0, lo1, lo1, lo0, lo0]),
            )]
    return out


def _tile_cover(rings: list[tuple[np.ndarray, np.ndarray]], zoom: int):
    """Full/partial XYZ tile cover of a zone's rings (Mercator grid)."""
    from gaia_spark.functions.kernel import PreparedPolygon, tile_xy

    prep = PreparedPolygon.from_rings(rings)
    n = 1 << zoom
    x0, y1 = tile_xy(np.array([prep.min_lat]), np.array([prep.min_lon]), zoom)
    x1, y0 = tile_xy(np.array([prep.max_lat]), np.array([prep.max_lon]), zoom)
    full, partial = [], []
    for yy in range(int(y0[0]), int(y1[0]) + 1):
        for xx in range(int(x0[0]), int(x1[0]) + 1):
            lat0, lat1, lon0, lon1 = tile_bounds(zoom, xx, yy)
            cl = np.array([lat0, lat0, lat1, lat1, (lat0 + lat1) / 2])
            co = np.array([lon0, lon1, lon0, lon1, (lon0 + lon1) / 2])
            cov = prep.covers(cl, co)
            vin = (
                (prep.y1 >= lat0) & (prep.y1 <= lat1) & (prep.x1 >= lon0) & (prep.x1 <= lon1)
            ).any()
            cell = yy * n + xx
            if cov.all() and not vin:
                full.append(cell)
            else:
                partial.append(cell)
    return full, partial


# --- vector -> raster burn-in (rasterization) --------------------------------


def crossing_test_sql(py: str, px: str, ay: str, ax: str, by: str, bx: str) -> str:
    """Even-odd ray-crossing test for one polygon edge (a->b) against the
    rightward horizontal ray from point (py, px): the edge straddles the
    scanline and the intersection lies strictly right of the point. One
    shared SQL string — Spark and DuckDB evaluate identical IEEE arithmetic,
    so burned cell sets hash-match bit-for-bit. Horizontal edges
    short-circuit on the straddle clause (the engines disagree on x/0 —
    NULL vs inf — but false AND either is false)."""
    return (
        f"(((({ay}) > ({py})) <> (({by}) > ({py}))) AND "
        f"(({px}) < ({ax}) + (({py}) - ({ay})) * (({bx}) - ({ax})) / (({by}) - ({ay}))))"
    )


def rasterize_zones(
    zones: DataFrame,
    res: int,
    id_col: str = "zone_id",
    vertices_col: str = "vertices",
) -> DataFrame:
    """Burn polygon features onto the packed grid: one output row per
    ``(id_col, cell)`` whose CELL CENTER is inside the polygon (even-odd
    rule over the closed ring in ``vertices_col``, array<struct<lat,lon>>
    with first == last) — the vector->raster direction of the raster↔vector
    bridge (pixels_of / point_tile_pyramid are raster->vector).

    Scale shape: candidate cells come from the feature's own bbox, exploded
    IN-PLAN (sequence over the bbox cell range — no join, no driver loop),
    and the even-odd test is one JVM higher-order filter over the edge
    list, O(V) per candidate — a Generate + Filter pipeline with zero
    shuffles, output partitioned as the input was. Cost per feature is
    bbox-cells x V; for web-map zone layers (features a few cells across)
    that is the textbook scanline cost without the sequential scanline
    state."""
    from gaia_spark.functions import portable as P

    n = 1 << res
    v = vertices_col
    lats = f"transform({v}, q -> q.lat)"
    lons = f"transform({v}, q -> q.lon)"
    x0 = P.cell_x_sql(f"array_min({lons})", res)
    x1 = P.cell_x_sql(f"array_max({lons})", res)
    y0 = P.cell_y_sql(f"array_max({lats})", res)
    y1 = P.cell_y_sql(f"array_min({lats})", res)
    d = zones.withColumn("_gx", F.explode(F.expr(f"sequence({x0}, {x1})"))).withColumn(
        "_gy", F.explode(F.expr(f"sequence({y0}, {y1})"))
    )
    py = P.cell_center_lat_sql("_gy", res)
    px = P.cell_center_lon_sql("_gx", res)
    cross = crossing_test_sql(
        py,
        px,
        f"element_at({v}, i + 1).lat",
        f"element_at({v}, i + 1).lon",
        f"element_at({v}, i + 2).lat",
        f"element_at({v}, i + 2).lon",
    )
    odd = (
        f"size(filter(sequence(0, size({v}) - 2), i -> {cross})) % 2 = 1"
    )
    return (
        d.where(F.expr(odd))
        .select(F.col(id_col), F.expr(f"_gy * {n} + _gx").alias("cell"))
    )


def focal_stats(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """Focal (moving-window) map algebra over the GLOBAL pixel grid of one
    zoom level — the gdal/gaia focal-mean/min/max neighborhood operation
    (`[R] SURVEY.md §2.J RasterMathProcess` family, focal variant).

    Each pixel's 3×3 neighborhood statistic is computed by SCATTER, not
    lookup: every pixel contributes its value to the 9 target cells it
    neighbors (in-plan explode of the literal offset array — no join, no
    Python beyond the existing pixels_of bridge), then ONE combinable
    groupBy(r, c) aggregate. Tile borders need no special casing — pixels
    from adjacent tiles land in the same (r, c) group — and longitude wraps
    around the antimeridian (pmod on the column index) while rows clamp at
    the poles (edge pixels simply aggregate fewer neighbors; n_nb records
    how many).

    Engine-determinism: values quantize to fixed-point e4 BEFORE
    aggregation (integer sums are order-independent); the mean derives by
    exact bigint division with a +200.0 offset making the numerator
    non-negative (Spark ``div`` truncates, DuckDB ``//`` floors — equal
    only for non-negative operands). Returns
    (r, c, n_nb, mean_e2, min_e4, max_e4)."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    scat = (
        decoded.withColumn("_dr", F.explode(F.expr("array(-1, 0, 1)")))
        .withColumn("_dc", F.explode(F.expr("array(-1, 0, 1)")))
        .select(
            (F.col("r") + F.col("_dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_dc"), F.lit(n_px)).alias("tc"),
            "v_e4",
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
    )
    return (
        scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c"))
        .agg(
            F.count("*").cast("long").alias("n_nb"),
            F.sum("v_e4").cast("long").alias("_sum_e4"),
            F.min("v_e4").cast("long").alias("min_e4"),
            F.max("v_e4").cast("long").alias("max_e4"),
        )
        .select(
            "r",
            "c",
            "n_nb",
            F.expr("((_sum_e4 + n_nb * 2000000) div (n_nb * 100)) - 20000")
            .cast("long")
            .alias("mean_e2"),
            "min_e4",
            "max_e4",
        )
    )


def adaptive_tile_cover(
    points: DataFrame, max_zoom: int, min_zoom: int, threshold: int
) -> DataFrame:
    """Adaptive quadtree aggregation: subdivide every tile holding more
    than ``threshold`` points until it fits or ``max_zoom`` is reached —
    the variable-resolution cover map servers and privacy-aware density
    products use (dense cities at z_max, empty ocean at z_min).

    The emission rule needs NO recursion: pyramid counts are monotone up
    the tree (parent ≥ child), so "every ancestor is over threshold"
    collapses to "the immediate parent is over threshold". One pyramid
    rollup (:func:`point_tile_pyramid` — aggregates level by level, never
    re-scans input) + ONE self equi-join on the shift-derived parent key.
    Tiles with zero points are absent by construction (the cover tiles the
    POINTS, not the world) — documented.

    Returns (zoom, tx, ty, n) — the unique maximal-depth cover: each point
    lies in exactly one emitted tile."""
    pyr = point_tile_pyramid(points, max_zoom, min_zoom)
    child = pyr.where(F.col("zoom") > min_zoom).select(
        "zoom",
        "tx",
        "ty",
        "n",
        (F.col("zoom") - 1).alias("_pz"),
        F.expr(portable.idiv_sql("tx", 2)).alias("_px"),
        F.expr(portable.idiv_sql("ty", 2)).alias("_py"),
    )
    parent = pyr.select(
        F.col("zoom").alias("_pz"),
        F.col("tx").alias("_px"),
        F.col("ty").alias("_py"),
        F.col("n").alias("_pn"),
    )
    deep = (
        child.join(parent, ["_pz", "_px", "_py"])
        .where(
            (F.col("_pn") > threshold)
            & ((F.col("n") <= threshold) | (F.col("zoom") == max_zoom))
        )
        .select("zoom", "tx", "ty", "n")
    )
    top = pyr.where(
        (F.col("zoom") == min_zoom) & (F.col("n") <= threshold)
    ).select("zoom", "tx", "ty", "n")
    return top.unionByName(deep)


def slope_aspect(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """Horn's-method slope + aspect over the GLOBAL pixel grid of one zoom
    level — the terrain-analysis member of the focal family (gdaldem
    slope/aspect role; `[R] SURVEY.md §2.J` RasterMathProcess variant).

    Same scatter shape as :func:`focal_stats`: each pixel contributes
    v_e4 · w to the 9 targets it neighbors, where the Horn kernel weights
    decompose as w_x = dc·(2−|dr|) and w_y = dr·(2−|dc|) of the
    source-minus-target offset — so the two gradients are ONE combinable
    groupBy aggregate over exact bigint terms (e4-quantized values times
    integer weights; order-independent under any partitioning). Only
    interior targets (all 9 neighbors present; poles excluded, longitude
    wraps) emit — Horn is undefined on the border. Gradients are in
    value-units per PIXEL (×8 normalization folded into the closed form);
    slope_deg = atan(|∇|/8), aspect_deg = atan2(gy, gx), both derived from
    the two bigints by one shared expression.

    Returns (r, c, gx_e4, gy_e4, slope_deg_e4, aspect_deg_e4,
    hillshade_e2) — hillshade is the gdaldem 315°/45° illumination in the
    same atan2(gy, gx) frame, clamped at 0, scaled to [0, 255]."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    scat = (
        decoded.withColumn("_dr", F.explode(F.expr("array(-1, 0, 1)")))
        .withColumn("_dc", F.explode(F.expr("array(-1, 0, 1)")))
        .select(
            (F.col("r") + F.col("_dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_dc"), F.lit(n_px)).alias("tc"),
            # source offset relative to TARGET is (-_dr, -_dc): fold the
            # sign flip into the closed-form weights
            (F.col("v_e4") * (-F.col("_dc")) * (2 - F.abs(F.col("_dr")))).alias("wx"),
            (F.col("v_e4") * (-F.col("_dr")) * (2 - F.abs(F.col("_dc")))).alias("wy"),
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
    )
    grad = "sqrt(cast(gx_e4 * gx_e4 + gy_e4 * gy_e4 as double)) / cast(80000 as double)"
    deg = "cast(180 as double) / pi()"
    aspect_rad = "atan2(cast(gy_e4 as double), cast(gx_e4 as double))"
    aspect = f"({aspect_rad}) * ({deg})"
    # gdaldem-style hillshade, sun azimuth 315 deg / altitude 45 deg in the
    # SAME atan2(gy, gx) frame as aspect_deg (convention documented):
    # hs = 255 * max(0, cos45*cos(slope) + sin45*sin(slope)*cos(az - aspect))
    c45 = "(sqrt(cast(2 as double)) / cast(2 as double))"
    az = "(cast(7 as double) * pi() / cast(4 as double))"
    hs = (
        f"cast(255 as double) * greatest(cast(0 as double), "
        f"{c45} * cos(atan({grad})) + "
        f"{c45} * sin(atan({grad})) * cos(({az}) - ({aspect_rad})))"
    )
    return (
        scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c"))
        .agg(
            F.count("*").cast("long").alias("_n_nb"),
            F.sum("wx").cast("long").alias("gx_e4"),
            F.sum("wy").cast("long").alias("gy_e4"),
        )
        .where(F.col("_n_nb") == 9)
        .select(
            "r",
            "c",
            "gx_e4",
            "gy_e4",
            F.expr(
                portable.floor_scaled_sql(f"atan({grad}) * ({deg})", 4)
            ).alias("slope_deg_e4"),
            F.expr(portable.floor_scaled_sql(aspect, 4)).alias("aspect_deg_e4"),
            F.expr(portable.floor_scaled_sql(hs, 2)).alias("hillshade_e2"),
        )
    )


# marching-squares edge tables: code bit 3 = NW (v00), 2 = NE (v01),
# 1 = SE (v11), 0 = SW (v10) is "at or above level". Each segment joins two
# crossing edges; saddle codes 5 / 10 use the FIXED pairing below (no
# center disambiguation — deterministic, documented).
_MS_SEG1 = {
    1: ("L", "B"), 2: ("B", "R"), 3: ("L", "R"), 4: ("T", "R"), 5: ("T", "R"),
    6: ("T", "B"), 7: ("T", "L"), 8: ("T", "L"), 9: ("T", "B"), 10: ("T", "L"),
    11: ("T", "R"), 12: ("L", "R"), 13: ("B", "R"), 14: ("L", "B"),
}
_MS_SEG2 = {5: ("L", "B"), 10: ("B", "R")}

# edge -> (x, y) in window-local continuous coords (x right, y down)
_MS_PT = {
    "T": ("(t_top)", "cast(0 as double)"),
    "B": ("(t_bot)", "cast(1 as double)"),
    "L": ("cast(0 as double)", "(t_left)"),
    "R": ("cast(1 as double)", "(t_right)"),
}


def ms_endpoint_sql(table: dict, which: int, axis: int) -> str:
    """CASE code WHEN k THEN <coord expr> chain for one endpoint coord of a
    marching-squares segment slot — shared verbatim with the oracle."""
    arms = " ".join(
        f"WHEN {k} THEN {_MS_PT[pair[which]][axis]}" for k, pair in sorted(table.items())
    )
    return f"CASE code {arms} END"


def contour_segments(
    raster: DataFrame, zoom: int, level: float, band: int = 0
) -> DataFrame:
    """Iso-contour extraction (marching squares) at one level — the
    raster→vector isoline bridge (gdal_contour role; `[R] SURVEY.md §2.J`
    raster↔vector family).

    Plan: pixels scatter to the ≤4 of their 2×2 windows (in-plan explode,
    longitude wraps, rows clamp), ONE groupBy(window) assembles the four
    corners via conditional max (each corner slot unique by construction),
    then the 16-case table runs as pure closed-form SQL: corner
    classification compares exact e4 INTEGERS against the e4 level (no
    float threshold ambiguity), edge crossings interpolate t = (L−va)/
    (vb−va) from those same integers, and each window emits 0–2 segments
    through two filtered selects (no arrays — keeps the SQL portable).
    Zero shuffles beyond the single window agg; output is linear in the
    contour length, not the raster area.

    Returns (wr, wc, seg, x1_e6, y1_e6, x2_e6, y2_e6) with coordinates in
    GLOBAL continuous pixel units (x = wc-local + wc etc.)."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    lvl = int(math.floor(level * 1e4 + 0.5))
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    scat = (
        decoded.withColumn("_i", F.explode(F.expr("array(0, 1)")))
        .withColumn("_j", F.explode(F.expr("array(0, 1)")))
        .select(
            (F.col("r") - F.col("_i")).alias("wr"),
            F.pmod(F.col("c") - F.col("_j"), F.lit(n_px)).alias("wc"),
            "_i",
            "_j",
            "v_e4",
        )
        .where((F.col("wr") >= 0) & (F.col("wr") < n_px - 1))
    )
    win = (
        scat.groupBy("wr", "wc")
        .agg(
            F.count("*").alias("_cnt"),
            *[
                F.max(
                    F.when((F.col("_i") == i) & (F.col("_j") == j), F.col("v_e4"))
                ).alias(f"v{i}{j}")
                for i in (0, 1)
                for j in (0, 1)
            ],
        )
        .where(F.col("_cnt") == 4)
    )
    code = (
        f"(CASE WHEN v00 >= {lvl} THEN 8 ELSE 0 END + "
        f"CASE WHEN v01 >= {lvl} THEN 4 ELSE 0 END + "
        f"CASE WHEN v11 >= {lvl} THEN 2 ELSE 0 END + "
        f"CASE WHEN v10 >= {lvl} THEN 1 ELSE 0 END)"
    )
    ts = {
        "t_top": ("v00", "v01"),
        "t_bot": ("v10", "v11"),
        "t_left": ("v00", "v10"),
        "t_right": ("v01", "v11"),
    }
    wexp = win.withColumn("code", F.expr(code))
    for name, (a, b) in ts.items():
        # guard: ANSI Spark raises on /0 even for doubles; a zero-width
        # edge is never a selected crossing, so NULL is never projected
        wexp = wexp.withColumn(
            name,
            F.expr(
                f"CASE WHEN {b} != {a} THEN "
                f"cast({lvl} - {a} as double) / cast({b} - {a} as double) END"
            ),
        )

    def seg_select(df: DataFrame, table: dict, seg_no: int) -> DataFrame:
        return df.select(
            "wr",
            "wc",
            F.lit(seg_no).cast("int").alias("seg"),
            *[
                F.expr(
                    portable.floor_scaled_sql(
                        f"cast(w{'cr'[axis]} as double) + ({ms_endpoint_sql(table, which, axis)})",
                        6,
                    )
                ).alias(f"{'xy'[axis]}{which + 1}_e6")
                for which in (0, 1)
                for axis in (0, 1)
            ],
        )

    seg1 = seg_select(wexp.where(F.expr("code NOT IN (0, 15)")), _MS_SEG1, 1)
    seg2 = seg_select(wexp.where(F.expr("code IN (5, 10)")), _MS_SEG2, 2)
    return seg1.unionByName(seg2)


def bilinear_upsample(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """Bilinear 2× raster resampling (the gdalwarp -r bilinear core) over
    the GLOBAL pixel grid: every target pixel of the doubled grid is the
    center-aligned weighted mean of its 4 nearest source centers.

    Same scatter shape as :func:`focal_stats`: target row R draws on
    source rows r0 = ⌊(R−0.5)/2⌋ and r0+1 with weights {¼, ¾} by parity,
    so each SOURCE pixel contributes to exactly 4×4 target cells with the
    separable integer weights {1, 3} ⊗ {1, 3} (denominator 16) — one
    in-plan 16-row offset explode + ONE combinable agg, exact bigint
    terms (e4 values × weights), longitude wrapping, interior-only
    targets (full weight 16; the two polar target rows drop). The mean
    derives by exact offset floor-division. Returns (r, c, v_e4) on the
    (zoom+1)-shaped grid."""
    n_src = TILE_PX * (1 << zoom)
    n_tgt = 2 * n_src
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    # target offset dR = R - 2r ∈ {-1, 0, 1, 2} with weights {1, 3, 3, 1}
    offs = (
        "array(struct(-1 AS d, 1 AS w), struct(0 AS d, 3 AS w), "
        "struct(1 AS d, 3 AS w), struct(2 AS d, 1 AS w))"
    )
    scat = (
        decoded.withColumn("_dr", F.explode(F.expr(offs)))
        .withColumn("_dc", F.explode(F.expr(offs)))
        .select(
            (2 * F.col("r") + F.col("_dr.d")).alias("tr"),
            F.pmod(2 * F.col("c") + F.col("_dc.d"), F.lit(n_tgt)).alias("tc"),
            (F.col("v_e4") * F.col("_dr.w") * F.col("_dc.w")).alias("_wv"),
            (F.col("_dr.w") * F.col("_dc.w")).alias("_w"),
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_tgt))
    )
    off = 10**7  # > max |Σ w·v_e4| / 16: keeps the mean division non-negative
    return (
        scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c"))
        .agg(
            F.sum("_wv").cast("long").alias("_s"),
            F.sum("_w").cast("long").alias("_wsum"),
        )
        .where(F.col("_wsum") == 16)
        .select(
            "r",
            "c",
            F.expr(f"((_s + cast({16 * off} as bigint)) div 16) - {off}")
            .cast("long")
            .alias("v_e4"),
        )
    )


def terrain_indices(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """TPI / TRI / roughness — the gdaldem terrain-index triple beside
    :func:`slope_aspect`:

    - **TPI** (topographic position index): v − mean(8 neighbors);
    - **TRI** (terrain ruggedness, Riley et al. 1999):
      sqrt(Σ_nb (v − v_nb)²);
    - **roughness**: max − min of the full 3×3 window.

    Scale shape: the focal scatter (8-offset in-plan explode, antimeridian
    pmod wrap, polar row clamp) into ONE combinable moments aggregate
    (n, Σv, Σv², min, max), then ONE equi-join back to the center pixel on
    the grid key — Σ(v−v_nb)² expands to n·v² − 2·v·Σv + Σv², so no
    per-neighbor pair ever materializes. All moments are exact bigints of
    e4-quantized values (|v| ≤ 100 ⇒ Σv² ≤ 8e12 ≪ 2⁶³); TPI derives by
    exact offset bigint division, TRI by ONE IEEE sqrt of an exact bigint
    (correctly rounded per IEEE-754, hence engine-identical), e4-floored.
    Returns (r, c, n_nb, tpi_e4, tri_e4, rough_e4)."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    offs = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)]
    arr = "array(" + ", ".join(f"struct({dr} AS dr, {dc} AS dc)" for dr, dc in offs) + ")"
    scat = (
        decoded.withColumn("_o", F.explode(F.expr(arr)))
        .select(
            (F.col("r") + F.col("_o.dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_o.dc"), F.lit(n_px)).alias("tc"),
            "v_e4",
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
    )
    nb = scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c")).agg(
        F.count("*").cast("long").alias("n_nb"),
        F.sum("v_e4").cast("long").alias("_s"),
        F.sum(F.col("v_e4") * F.col("v_e4")).cast("long").alias("_ss"),
        F.min("v_e4").cast("long").alias("_mn"),
        F.max("v_e4").cast("long").alias("_mx"),
    )
    off = 2_000_000  # > max |v_e4|: keeps the TPI numerator non-negative
    tpi = f"((n_nb * v_e4 - _s + n_nb * {off}) div n_nb) - {off}"
    ssd = "(n_nb * v_e4 * v_e4 - 2 * v_e4 * _s + _ss)"
    tri = portable.floor_scaled_sql(
        f"sqrt(cast({ssd} as double)) / cast(10000 as double)", 4
    )
    return decoded.join(nb, ["r", "c"]).select(
        "r",
        "c",
        "n_nb",
        F.expr(tpi).cast("long").alias("tpi_e4"),
        F.expr(tri).cast("long").alias("tri_e4"),
        F.expr("greatest(_mx, v_e4) - least(_mn, v_e4)").cast("long").alias("rough_e4"),
    )


def reclassify(
    raster: DataFrame, zoom: int, breaks: list[float], band: int = 0
) -> DataFrame:
    """Raster reclassification (gdal_calc / ArcGIS Reclassify): map each
    pixel value to the class index ``#{breaks ≤ v}`` (0 .. len(breaks)).
    Comparison happens on e4-quantized EXACT integers (breaks quantize
    through the same floor), so class boundaries can never flip between
    engines. Map-only, one JVM CASE per pixel, zero shuffle. Returns
    (r, c, v_e4, cls)."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    import math

    # same floor(x*1e4 + 0.5) as floor_scaled_sql, so a break that equals a
    # pixel value lands on the identical integer
    bq = [math.floor(b * 10_000 + 0.5) for b in sorted(breaks)]
    cls = "(" + " + ".join(f"CASE WHEN v_e4 >= {b} THEN 1 ELSE 0 END" for b in bq) + ")"
    return px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    ).withColumn("cls", F.expr(cls).cast("long"))


def polygonize(
    raster: DataFrame,
    zoom: int,
    breaks: list[float],
    band: int = 0,
) -> DataFrame:
    """Raster → vector regionization (gdal_polygonize): group 4-connected
    runs of equal class into regions. Classes come from :func:`reclassify`;
    adjacency is built by the E/S offset scatter + ONE equi-join filtered
    to equal class (longitude wraps, symmetrized by union); regions are
    connected components via pointer-doubling min-label propagation
    (O(log diameter) rounds — the grid_dbscan machinery on a pixel graph).
    Returns one row per region: (region_id = min pixel node, cls,
    n_pixels, min_r, max_r, min_c, max_c)."""
    from gaia_spark.operators.stats import min_label_components

    n_px = TILE_PX * (1 << zoom)
    cls = reclassify(raster, zoom, breaks, band).withColumn(
        "node", F.col("r") * n_px + F.col("c")
    )
    half = (
        cls.withColumn("_o", F.explode(F.expr("array(struct(0 AS dr, 1 AS dc), struct(1 AS dr, 0 AS dc))")))
        .select(
            F.col("node").alias("a"),
            (F.col("r") + F.col("_o.dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_o.dc"), F.lit(n_px)).alias("tc"),
            F.col("cls").alias("_ca"),
        )
        .where(F.col("tr") < n_px)
        .join(
            cls.select(F.col("r").alias("tr"), F.col("c").alias("tc"),
                       F.col("node").alias("b"), F.col("cls").alias("_cb")),
            ["tr", "tc"],
        )
        .where(F.col("_ca") == F.col("_cb"))
        .select("a", "b")
    )
    sym = half.unionByName(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
    comp = min_label_components(
        cls.select("node"),
        sym.select(F.col("a").alias("node"), F.col("b").alias("nbr")),
        node_col="node",
        nbr_col="nbr",
    )
    return (
        cls.join(comp, "node")
        .groupBy(F.col("label").alias("region_id"))
        .agg(
            F.min("cls").cast("long").alias("cls"),
            F.count("*").cast("long").alias("n_pixels"),
            F.min("r").cast("long").alias("min_r"),
            F.max("r").cast("long").alias("max_r"),
            F.min("c").cast("long").alias("min_c"),
            F.max("c").cast("long").alias("max_c"),
        )
    )


def zt_curvature_sqls() -> tuple[str, str, str]:
    """The shared (Spark == DuckDB) Zevenbergen-Thorne curvature
    expressions over the five exact-bigint kernel sums ``d4`` (2(z4+z6) −
    4z5), ``e4x`` (2(z2+z8) − 4z5), ``f4`` (−z1+z3+z7−z9), ``g2`` (z6−z4),
    ``h2`` (z2−z8), all in e4 elevation units, pixel-unit cell size:
    (profile, plan, general), each in elevation-units per pixel²
    (flat-gradient cells where g2 = h2 = 0 yield 0 by convention)."""
    den = "cast(g2 * g2 + h2 * h2 as double)"
    prof = (
        f"CASE WHEN g2 = 0 AND h2 = 0 THEN cast(0 as double) ELSE "
        f"-cast(d4 * g2 * g2 + e4x * h2 * h2 + f4 * g2 * h2 as double)"
        f" / (cast(2 as double) * {den} * cast(10000 as double)) END"
    )
    plan = (
        f"CASE WHEN g2 = 0 AND h2 = 0 THEN cast(0 as double) ELSE "
        f"cast(d4 * h2 * h2 + e4x * g2 * g2 - f4 * g2 * h2 as double)"
        f" / (cast(2 as double) * {den} * cast(10000 as double)) END"
    )
    gen = "-cast(d4 + e4x as double) / (cast(2 as double) * cast(10000 as double))"
    return prof, plan, gen


def zt_curvature(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """Zevenbergen-Thorne surface curvature over the global pixel grid of
    one zoom level — the second-derivative member of the terrain family
    (gdaldem-adjacent; ArcGIS Curvature role): profile curvature (along
    the slope line — flow acceleration), plan curvature (across it —
    flow convergence) and general curvature (the unweighted Laplacian
    term), from the 9-term quadratic fit of Zevenbergen & Thorne 1987.

    Same ONE-scatter shape as :func:`slope_aspect`: each pixel emits 9
    weighted contributions (closed-form integer weights of the relative
    offset), ONE combinable groupBy sums the five kernel terms as exact
    bigints, interior cells only. The three curvatures derive by one
    shared IEEE expression each — bit-identical cross-engine.

    Returns (r, c, d4, e4x, f4, g2, h2, prof_e6, plan_e6, gen_e6) —
    curvatures e6-floored, elevation-units per pixel²."""
    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    # source position relative to TARGET is (pr, pc) = (-_dr, -_dc)
    scat = (
        decoded.withColumn("_dr", F.explode(F.expr("array(-1, 0, 1)")))
        .withColumn("_dc", F.explode(F.expr("array(-1, 0, 1)")))
        .select(
            (F.col("r") + F.col("_dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_dc"), F.lit(n_px)).alias("tc"),
            F.expr(zt_weight_sql("v_e4", "(-_dr)", "(-_dc)", "d")).alias("wd"),
            F.expr(zt_weight_sql("v_e4", "(-_dr)", "(-_dc)", "e")).alias("we"),
            F.expr(zt_weight_sql("v_e4", "(-_dr)", "(-_dc)", "f")).alias("wf"),
            F.expr(zt_weight_sql("v_e4", "(-_dr)", "(-_dc)", "g")).alias("wg"),
            F.expr(zt_weight_sql("v_e4", "(-_dr)", "(-_dc)", "h")).alias("wh"),
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
    )
    prof, plan, gen = zt_curvature_sqls()
    return (
        scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c"))
        .agg(
            F.count("*").cast("long").alias("_n_nb"),
            F.sum("wd").cast("long").alias("d4"),
            F.sum("we").cast("long").alias("e4x"),
            F.sum("wf").cast("long").alias("f4"),
            F.sum("wg").cast("long").alias("g2"),
            F.sum("wh").cast("long").alias("h2"),
        )
        .where(F.col("_n_nb") == 9)
        .select(
            "r", "c", "d4", "e4x", "f4", "g2", "h2",
            F.expr(portable.floor_scaled_sql(prof, 6)).alias("prof_e6"),
            F.expr(portable.floor_scaled_sql(plan, 6)).alias("plan_e6"),
            F.expr(portable.floor_scaled_sql(gen, 6)).alias("gen_e6"),
        )
    )


def zt_weight_sql(v: str, pr: str, pc: str, term: str) -> str:
    """Integer ZT kernel weight of a source at relative offset (pr, pc)
    from the target, for kernel term d/e/f/g/h — shared verbatim with the
    oracle. d4 = 2(z4+z6)−4z5, e4 = 2(z2+z8)−4z5, f4 = −z1+z3+z7−z9,
    g2 = z6−z4, h2 = z2−z8 (z2 north = pr −1, z6 east = pc +1)."""
    w = {
        "d": f"(1 - abs({pr})) * (6 * abs({pc}) - 4)",
        "e": f"(1 - abs({pc})) * (6 * abs({pr}) - 4)",
        "f": f"(-({pr}) * ({pc}))",
        "g": f"(({pc}) * (1 - abs({pr})))",
        "h": f"(-({pr}) * (1 - abs({pc})))",
    }[term]
    return f"({v}) * ({w})"
