"""Deterministic synthetic data — pages, zones, raster tiles (FIXTURES.md).

Everything is a pure function of (seed=42, row index): splitmix64 hash-based
uniforms + Box-Muller, no wall clock, no RNG state. Pages generation is
distributed (mapInPandas over spark.range) so the bench can synthesize ≥10^6
rows without a driver bottleneck; regenerating any subset of rows yields
identical values, which is what makes resumability testable.

Fixture roles (SURVEY.md §5.1): pages ≙ the reference's point-layer fixture
(iraq_hospitals.geojson), zones ≙ polygon fixture (baghdad_districts
.geojson), raster ≙ the small GeoTIFF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gaia_spark.session import local_df

SEED = 42
N_CITIES = 12
VOCAB = (
    "spark data table query join filter scan merge sort window group agg "
    "batch stream row column key value hash part line order customer small "
    "big fast slow the a vector page crawl web text index tile zone map "
    "point cell grid shard store read write plan stage task core node disk"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_W = np.array([0.30, 0.25, 0.20, 0.15, 0.10])

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

ZONES_SCHEMA = StructType(
    [
        StructField("zone_id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("category", StringType(), False),
        StructField("min_lat", DoubleType(), False),
        StructField("min_lon", DoubleType(), False),
        StructField("max_lat", DoubleType(), False),
        StructField("max_lon", DoubleType(), False),
        StructField(
            "vertices",
            ArrayType(
                StructType(
                    [StructField("lat", DoubleType(), False), StructField("lon", DoubleType(), False)]
                )
            ),
            False,
        ),
    ]
)

RASTER_SCHEMA = StructType(
    [
        StructField("zoom", IntegerType(), False),
        StructField("x", IntegerType(), False),
        StructField("y", IntegerType(), False),
        StructField("band", IntegerType(), False),
        StructField("px", ArrayType(FloatType()), False),
    ]
)

TILE_PX = 64


# ---------------------------------------------------------------------------
# hash-based deterministic randomness
# ---------------------------------------------------------------------------

def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 avalanche hash."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _uniform(i: np.ndarray, stream: int, seed: int = SEED) -> np.ndarray:
    """u[0,1) for row indices ``i`` on an independent stream."""
    with np.errstate(over="ignore"):
        h = _splitmix64(
            np.asarray(i, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15)
            + np.uint64(stream * 1_000_003 + seed)
        )
    return h.astype(np.float64) / 18446744073709551616.0  # 2^64


def city_centers(n: int = N_CITIES, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """Seeded city-cluster centers: lat in [-60, 60], lon in [-170, 170]."""
    idx = np.arange(n, dtype=np.uint64)
    lat = _uniform(idx, 101, seed) * 120.0 - 60.0
    lon = _uniform(idx, 102, seed) * 340.0 - 170.0
    return lat, lon


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def _pages_batch(i: np.ndarray, seed: int = SEED) -> pd.DataFrame:
    n = len(i)
    iu = i.astype(np.uint64)
    has_coord = _uniform(iu, 1, seed) < 0.8
    clustered = _uniform(iu, 2, seed) < 0.7
    city = (_uniform(iu, 3, seed) * N_CITIES).astype(np.int64)
    c_lat, c_lon = city_centers(seed=seed)

    # Box-Muller from two independent uniform streams
    u1 = np.maximum(_uniform(iu, 4, seed), 1e-12)
    u2 = _uniform(iu, 5, seed)
    z1 = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    z2 = np.sqrt(-2.0 * np.log(u1)) * np.sin(2.0 * np.pi * u2)

    lat_cl = np.clip(c_lat[city] + 0.5 * z1, -85.0, 85.0)
    lon_cl = (c_lon[city] + 0.5 * z2 + 540.0) % 360.0 - 180.0
    lat_un = _uniform(iu, 6, seed) * 170.0 - 85.0
    lon_un = _uniform(iu, 7, seed) * 360.0 - 180.0
    lat = np.where(clustered, lat_cl, lat_un)
    lon = np.where(clustered, lon_cl, lon_un)

    # filler text: 10 + (h % 10) vocab words
    nw = 10 + (_splitmix64(iu + np.uint64(11)) % np.uint64(10)).astype(np.int64)
    word_idx = [
        (_splitmix64(iu * np.uint64(31) + np.uint64(w + 17)) % np.uint64(len(VOCAB))).astype(
            np.int64
        )
        for w in range(20)
    ]
    vocab_arr = np.array(VOCAB)
    words = np.stack([vocab_arr[wi] for wi in word_idx], axis=1)  # n×20

    coord = np.char.add(
        np.char.add("geo: ", np.char.mod("%.6f", lat)),
        np.char.add(",", np.char.mod("%.6f", lon)),
    )
    prefix = np.array([" ".join(ws[:k]) for ws, k in zip(words, nw // 2)])
    suffix = np.array([" ".join(ws[10 : 10 + k]) for ws, k in zip(words, nw - nw // 2)])
    text = np.where(
        has_coord,
        np.char.add(np.char.add(np.char.add(prefix, " "), coord), np.char.add(" ", suffix)),
        np.char.add(np.char.add(prefix, " "), suffix),
    )

    url = np.char.add(
        np.char.add("https://site", np.char.mod("%d", i % 10_000)),
        np.char.add(".example/", np.char.mod("%d", i)),
    )
    ts = pd.Timestamp("2025-01-01T00:00:00") + pd.to_timedelta((i * 137) % 31_536_000, unit="s")
    lang_idx = np.searchsorted(np.cumsum(LANG_W), _uniform(iu, 8, seed), side="right")
    html = [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in text]
    return pd.DataFrame(
        {
            "url": url,
            "warc_ts": ts,
            "html": html,
            "text": text,
            "lang": np.array(LANGS)[np.minimum(lang_idx, len(LANGS) - 1)],
        }
    )


def synth_pages(
    spark: SparkSession, n: int, partitions: int = 32, seed: int = SEED, start: int = 0
) -> DataFrame:
    """Distributed deterministic pages table: rows [start, n), pure function
    of row index — any index range regenerates identical values."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _pages_batch(b["id"].to_numpy(), seed)

    return spark.range(start, n, numPartitions=partitions).mapInPandas(gen, PAGES_SCHEMA)


def synth_pages_pdf(n: int, seed: int = SEED) -> pd.DataFrame:
    """Driver-side variant for unit tests (identical values)."""
    return _pages_batch(np.arange(n, dtype=np.int64), seed)


# ---------------------------------------------------------------------------
# zones
# ---------------------------------------------------------------------------

def synth_zones_pdf(n_zones: int = 16, seed: int = SEED) -> pd.DataFrame:
    """FIXTURES.md §3 polygon layer: half rects on city centers, half convex
    hexagon-ish polygons; overlapping in places, gaps elsewhere."""
    c_lat, c_lon = city_centers(seed=seed)
    cats = ["res", "com", "ind", "park"]
    rows = []
    for z in range(n_zones):
        zi = np.uint64(z)
        if z % 2 == 0:  # rect on city center (overlap by construction)
            ci = (z // 2) % N_CITIES
            half_h = 1.0 + float(_uniform(np.array([zi]), 201, seed)[0]) * 2.0
            half_w = 1.0 + float(_uniform(np.array([zi]), 202, seed)[0]) * 2.5
            la0, la1 = c_lat[ci] - half_h, c_lat[ci] + half_h
            lo0, lo1 = c_lon[ci] - half_w, c_lon[ci] + half_w
            verts = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
            kind = "rect"
        else:  # convex polygon near a (possibly different) city — some overlap rects
            ci = ((z // 2) + 1) % N_CITIES
            k = 6 + z % 4  # 6..9 vertices
            ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
            r_lat = 1.0 + _uniform(np.arange(k, dtype=np.uint64) + zi * np.uint64(100), 203, seed) * 1.5
            r_lon = 1.0 + _uniform(np.arange(k, dtype=np.uint64) + zi * np.uint64(100), 204, seed) * 2.0
            vlat = c_lat[ci] + r_lat * np.sin(ang)
            vlon = c_lon[ci] + r_lon * np.cos(ang)
            verts = list(zip(vlat.tolist(), vlon.tolist()))
            verts.append(verts[0])
            kind = "poly"
        vlats = np.array([v[0] for v in verts])
        vlons = np.array([v[1] for v in verts])
        rows.append(
            {
                "zone_id": z,
                "name": f"zone_{z}",
                "kind": kind,
                "category": cats[z % 4],
                "min_lat": float(vlats.min()),
                "min_lon": float(vlons.min()),
                "max_lat": float(vlats.max()),
                "max_lon": float(vlons.max()),
                "vertices": [{"lat": float(a), "lon": float(o)} for a, o in verts],
            }
        )
    return pd.DataFrame(rows)


def zones_df(spark: SparkSession, pdf: pd.DataFrame | None = None) -> DataFrame:
    if pdf is None:
        pdf = synth_zones_pdf()
    return local_df(spark, pdf, ZONES_SCHEMA)


# ---------------------------------------------------------------------------
# raster (analytic surface — FIXTURES.md §4)
# ---------------------------------------------------------------------------

def surface_value(lat: np.ndarray, lon: np.ndarray, band: int) -> np.ndarray:
    """v(lat, lon, band) = 100·(sin(3·rad(lat))·cos(2·rad(lon)) + band).

    No decimal rounding: np.round is half-even on scaled doubles, which a
    SQL oracle cannot reproduce bit-for-bit. The float32 cast at tile
    materialization is the only quantization, and IEEE double→float32 is
    identical in numpy and DuckDB."""
    return 100.0 * (np.sin(3.0 * np.radians(lat)) * np.cos(2.0 * np.radians(lon)) + band)


def tile_px_center_sql(n_t: int, px: int) -> tuple[str, str]:
    """Pixel-center (plat, plon) expressions for tile (tx, ty) pixel (i, j)
    at a zoom with ``n_t`` tiles per axis, as DuckDB oracle SQL — the
    per-tile twin of the global pixel grid in
    ``queries_misc._raster_zonal_oracle`` (same Mercator bounds, same numpy
    linspace op order as :func:`synth_raster`, proven bit-identical there)."""
    sinh = "((exp({x}) - exp(-({x}))) / 2.0)"
    merc_lat = "degrees(atan(" + sinh.format(x=f"pi() * (1.0 - (2 * {{y}}) / {n_t}.0)") + "))"
    lat1 = merc_lat.format(y="ty")        # tile top
    lat0 = merc_lat.format(y="(ty + 1)")  # tile bottom
    lon0 = f"((tx / {n_t}.0) * 360.0 - 180.0)"
    lon1 = f"(((tx + 1) / {n_t}.0) * 360.0 - 180.0)"
    c_lat = f"(({lat1} + i * (({lat0} - {lat1}) / {px})) - ({lat1} - {lat0}) / {2 * px})"
    c_lon = f"(({lon0} + j * (({lon1} - {lon0}) / {px})) + ({lon1} - {lon0}) / {2 * px})"
    return c_lat, c_lon


def band_f32_sql(band: int) -> str:
    """synth.surface_value(plat, plon, band) quantized through float32,
    back as double (IEEE double→float32 is identical in numpy and DuckDB)."""
    return (
        f"cast(cast(100.0 * (sin(3.0 * radians(plat)) * cos(2.0 * radians(plon))"
        f" + {band}.0) as float) as double)"
    )


def synth_raster(
    spark: SparkSession, zooms: tuple[int, ...] = (4, 6), bands: tuple[int, ...] = (0, 1)
) -> DataFrame:
    """Tile DataFrame (zoom,x,y,band,px[64×64]) sampled from the closed form."""
    from gaia_spark.functions.kernel import tile_bounds

    keys = [
        (z, x, y, b)
        for z in zooms
        for x in range(1 << z)
        for y in range(1 << z)
        for b in bands
    ]
    kdf = local_df(spark, keys, "zoom int, x int, y int, band int").repartition(32)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bdf in batches:
            out = []
            for z, x, y, b in bdf[["zoom", "x", "y", "band"]].itertuples(index=False):
                lat0, lat1, lon0, lon1 = tile_bounds(int(z), int(x), int(y))
                # pixel centers, row-major from the tile's north-west corner
                lats = np.linspace(lat1, lat0, TILE_PX, endpoint=False) - (lat1 - lat0) / (
                    2 * TILE_PX
                )
                lons = np.linspace(lon0, lon1, TILE_PX, endpoint=False) + (lon1 - lon0) / (
                    2 * TILE_PX
                )
                glon, glat = np.meshgrid(lons, lats)
                px = surface_value(glat, glon, int(b)).astype(np.float32).ravel()
                out.append((int(z), int(x), int(y), int(b), px.tolist()))
            yield pd.DataFrame(out, columns=["zoom", "x", "y", "band", "px"])

    return kdf.mapInPandas(render, RASTER_SCHEMA)
