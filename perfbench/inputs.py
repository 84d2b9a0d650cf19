"""Seeded benchmark inputs and their on-disk cache.

Every input is a pure function of (workload, seed, size). The interactive
tables are fixed (``SF_DIR``); there the seed only orders the queries.
Generated inputs are written once under ``<checkout>/.perfbench_cache/inputs/<key>/`` (an
ignored path) with a ``DONE`` marker written last, so a half-written entry
from an interrupted run is rebuilt instead of read.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


@dataclass(frozen=True)
class Size:
    """Input sizes of one benchmark size class."""

    pages: int  # crawl_ingest pages, and the pages behind the points table
    points_pages: int
    parcels: int  # 512-gon parcels for feature_spatial_join
    parcel_vertices: int
    sites: int  # knn sites


SIZES = {
    "full": Size(pages=120_000, points_pages=60_000, parcels=2_000, parcel_vertices=512,
                 sites=32),
    "smoke": Size(pages=20_000, points_pages=20_000, parcels=200, parcel_vertices=512,
                  sites=16),
}


def entry_dir(workload: str, seed: int, size: str) -> str:
    return os.path.join(CACHE, "inputs", f"{workload}-seed{seed}-{size}")


def cached(path: str, build) -> str:
    """Return ``path`` once ``build(path)`` has filled it; builds at most once."""
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(os.path.join(path, "DONE"), "w").close()
    return path


# ---------------------------------------------------------------------------
# crawl pages and zones (program generators, seeded)
# ---------------------------------------------------------------------------

def write_pages(spark, path: str, n: int, seed: int) -> None:
    from gaia_spark.synth import synth_pages

    synth_pages(spark, n, partitions=8, seed=seed).write.parquet(path)


def zones_pdf(seed: int):
    from gaia_spark.synth import synth_zones_pdf

    return synth_zones_pdf(16, seed=seed)


# ---------------------------------------------------------------------------
# points_analytics: 512-gon parcels and knn sites (benchmark generators)
# ---------------------------------------------------------------------------

def parcels_table(n: int, n_vertices: int, seed: int) -> pa.Table:
    """Star-shaped ``n_vertices``-gons scattered around the synth city
    centres: strictly increasing vertex angles make every ring simple."""
    from gaia_spark.synth import city_centers

    rng = np.random.default_rng([seed, 512])
    c_lat, c_lon = city_centers(seed=seed)
    city = rng.integers(0, len(c_lat), n)
    lat0 = np.clip(c_lat[city] + rng.normal(0.0, 2.0, n), -80.0, 80.0)
    lon0 = np.clip(c_lon[city] + rng.normal(0.0, 2.5, n), -175.0, 175.0)
    radius = rng.uniform(0.05, 0.6, n)
    step = 2.0 * np.pi / n_vertices
    ang = (np.arange(n_vertices) + rng.uniform(0.0, 0.9, (n, n_vertices))) * step
    r = radius[:, None] * rng.uniform(0.6, 1.0, (n, n_vertices))
    lats = lat0[:, None] + r * np.sin(ang)
    lons = lon0[:, None] + r * np.cos(ang)
    lats = np.concatenate([lats, lats[:, :1]], axis=1).ravel()  # close each ring
    lons = np.concatenate([lons, lons[:, :1]], axis=1).ravel()
    verts = pa.StructArray.from_arrays([pa.array(lats), pa.array(lons)], names=["lat", "lon"])
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * (n_vertices + 1))
    return pa.table({
        "parcel_id": pa.array(np.arange(n, dtype=np.int64)),
        "vertices": pa.ListArray.from_arrays(offsets, verts),
    })


def sites_pdf(n: int, seed: int):
    import pandas as pd

    rng = np.random.default_rng([seed, 64])
    return pd.DataFrame({
        "site_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(-60.0, 60.0, n),
        "lon": rng.uniform(-180.0, 180.0, n),
    })


# ---------------------------------------------------------------------------
# interactive_ops: the sf0.001 test tables
# ---------------------------------------------------------------------------

# A byte-identical copy of the repo's sf0.001 test tables (TESTDATA.md), kept
# here so that a run reads nothing outside its checkout. All ten tables are
# present because the DuckDB oracle (tests/oracle_harness.duck_run) opens
# every one of them. Not sf0.01: there q_feature_knn3 alone takes about 9 s,
# so a run held one pass and op_p90_ms was the second-slowest query of it.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.001")
