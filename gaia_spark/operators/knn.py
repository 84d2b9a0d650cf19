"""Distance / nearest / kNN joins — two-phase candidate/refine.

Reference semantics: ``[R] gaia/geo/processes_vector.py ::
DistanceProcess.compute`` (distance of each input-1 feature to the nearest
input-2 feature, added as a ``distance`` column) and ``NearProcess``
(features within distance d). kNN (k>1) is required beyond the reference by
the north rule ("distance/buffer kNN search").

Two physical strategies:

- **broadcast** — the site side fits in executor memory (the common
  web-pipeline shape: billions of pages vs 10²..10⁵ sites). Zero shuffle:
  one mapInPandas pass computes a vectorized (batch × m) haversine matrix
  and argpartitions top-k. Scales linearly in pages.
- **cell ring expansion** — both sides large. Sites are exploded to cell
  rings of growing Chebyshev radius; each round is a cell equi-join +
  per-point top-k; a point retires when its k-th best distance beats the
  conservative lower bound of the next unexplored ring
  (kernel.ring_lower_bound_m), or when the ring exhausts the grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable
from gaia_spark.functions.kernel import cell_encode, haversine_m
from gaia_spark.operators.spatial_join import with_cell
from gaia_spark.session import iter_checkpoint


def knn_join_broadcast(
    points: DataFrame,
    sites_pdf: pd.DataFrame,
    k: int = 1,
    point_key: str = "url",
    site_key: str = "site_id",
    site_lat: str = "lat",
    site_lon: str = "lon",
) -> DataFrame:
    """Top-k nearest sites per point; returns (point_key, site_id, dist_m, rank).

    Ties broken by (distance, site id) ascending (deterministic,
    oracle-mirrorable). The plan follows the site count m:

    - m ≤ 512 — the site list rides along as a broadcast array column;
      per point, ``array_sort(transform(sites, s -> (dist, id)))`` picks the
      top k entirely inside the JVM (no Python stage). O(m log m) per row —
      the right plan for m up to a few hundred sites.
    - m > 512 — vectorized numpy (batch × m) haversine matrix via
      mapInPandas; wins for large m where BLAS-style batching matters.
    """
    if len(sites_pdf) <= 512:
        return _knn_broadcast_sql(points, sites_pdf, k, point_key, site_key, site_lat, site_lon)
    s_ids = sites_pdf[site_key].to_numpy(dtype=np.int64)
    order = np.argsort(s_ids)
    s_ids = s_ids[order]
    s_lat = sites_pdf[site_lat].to_numpy(dtype=np.float64)[order]
    s_lon = sites_pdf[site_lon].to_numpy(dtype=np.float64)[order]
    bc = points.sparkSession.sparkContext.broadcast((s_ids, s_lat, s_lon))
    kk = int(k)

    def topk(batches):
        ids, lats, lons = bc.value
        m = len(ids)
        take = min(kk, m)
        for b in batches:
            if not len(b):
                continue
            plat = b["lat"].to_numpy(dtype=np.float64)
            plon = b["lon"].to_numpy(dtype=np.float64)
            d = haversine_m(plat[:, None], plon[:, None], lats[None, :], lons[None, :])
            if take < m:
                idx = np.argpartition(d, take - 1, axis=1)[:, :take]
            else:
                idx = np.broadcast_to(np.arange(m), (len(b), m)).copy()
            dd = np.take_along_axis(d, idx, axis=1)
            # sort the k candidates by (dist, site_id): site ids are already
            # ascending, stable mergesort on dist preserves id order on ties
            ord2 = np.argsort(dd, axis=1, kind="stable")
            idx = np.take_along_axis(idx, ord2, axis=1)
            dd = np.take_along_axis(dd, ord2, axis=1)
            n = len(b)
            yield pd.DataFrame(
                {
                    "point_key": np.repeat(b["_pk"].to_numpy(), take),
                    "site_id": ids[idx].ravel(),
                    "dist_m": dd.ravel(),
                    "rank": np.tile(np.arange(1, take + 1), n),
                }
            )

    slim = points.where(F.col("lat").isNotNull()).select(
        F.col(point_key).alias("_pk"), "lat", "lon"
    )
    key_type = slim.schema["_pk"].dataType.simpleString()
    out = slim.mapInPandas(
        topk, f"point_key {key_type}, site_id long, dist_m double, rank int"
    )
    return out.withColumnRenamed("point_key", point_key)


def _knn_broadcast_sql(
    points: DataFrame,
    sites_pdf: pd.DataFrame,
    k: int,
    point_key: str,
    site_key: str,
    site_lat: str,
    site_lon: str,
) -> DataFrame:
    spark = points.sparkSession
    if k == 1 and 0 < len(sites_pdf) <= 64:
        # k=1 over a small site list (the DistanceProcess shape): UNROLL
        # the sites as literal expressions — array_min over an inline
        # array of (haversine, sid) structs. No lambda anywhere, so the
        # whole per-row computation stays in whole-stage codegen (the
        # transform() form is a higher-order function, which Catalyst
        # evaluates interpreted per element — measured the dominant cost
        # of the broadcast kNN at bench scale). Same (dist, site_id)
        # ordering as the sorted path; literal doubles round-trip exactly
        # through repr, so the arithmetic is bit-identical.
        entries = ", ".join(
            f"struct(({portable.haversine_m_sql('lat', 'lon', repr(float(r[site_lat])), repr(float(r[site_lon])))}) AS d, "
            f"cast({int(r[site_key])} as bigint) AS sid)"
            for _, r in sites_pdf.iterrows()
        )
        best = f"array_min(array({entries}))"
        pts = points.where(F.col("lat").isNotNull())
        return pts.select(
            F.col(point_key),
            F.expr(f"{best}.sid").alias("site_id"),
            F.expr(f"{best}.d").alias("dist_m"),
            F.lit(1).cast("int").alias("rank"),
        )
    sites = spark.createDataFrame(
        sites_pdf[[site_key, site_lat, site_lon]].rename(
            columns={site_key: "sid", site_lat: "slat", site_lon: "slon"}
        )
    ).agg(F.collect_list(F.struct("sid", "slat", "slon")).alias("_sites"))
    dist = portable.haversine_m_sql("lat", "lon", "s.slat", "s.slon")
    if k == 1:
        # k=1, larger site list: array_min by (dist, site_id) is the first
        # element of the sorted array — one O(m) pass per row, no per-row
        # sort or sorted-copy allocation. The filter() guard reproduces
        # slice()'s empty-array behaviour for an empty site list
        # (array_min of [] is NULL; no site ⇒ no output row, not a NULL row).
        topk = (
            f"filter(array(array_min(transform(_sites, s -> "
            f"struct({dist} AS d, s.sid AS sid)))), x -> x IS NOT NULL)"
        )
    else:
        topk = (
            f"slice(array_sort(transform(_sites, s -> "
            f"struct({dist} AS d, s.sid AS sid))), 1, {k})"
        )
    pts = points.where(F.col("lat").isNotNull()).join(F.broadcast(sites))
    return pts.select(
        F.col(point_key),
        F.posexplode(F.expr(topk)).alias("_pos", "_best"),
    ).select(
        point_key,
        F.col("_best.sid").alias("site_id"),
        F.col("_best.d").alias("dist_m"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def distance_to_nearest(points: DataFrame, sites_pdf: pd.DataFrame, **kw) -> DataFrame:
    """DistanceProcess: per point the nearest site id + distance (k=1)."""
    return knn_join_broadcast(points, sites_pdf, k=1, **kw).drop("rank")


def near_join(
    points: DataFrame,
    sites_pdf: pd.DataFrame,
    radius_m: float,
    point_key: str = "url",
    site_key: str = "site_id",
    max_cover_rows: int = 5_000_000,
) -> DataFrame:
    """NearProcess / buffer-as-predicate: all (point, site) pairs with
    haversine ≤ radius_m. Cell-cover candidate join + codegen'd refine —
    the haversine refine is pure SQL (portable), so the whole refine stage
    stays JVM-side.

    **Scale bound (explicit, not silent):** the cover ring is enumerated in
    a DRIVER-side loop over ``sites_pdf`` — O(sites × ring²) rows, which is
    the right trade only for a broadcast-sized site table (the pandas input
    type is the contract). The loop refuses above ``max_cover_rows``
    (default 5M ≈ hundreds of MB of broadcast) and points at
    :func:`near_join_cells`, whose cover is derived with sequence/explode
    INSIDE the plan and scales to 10⁶+ sites as a DataFrame end to end."""
    spark = points.sparkSession
    # resolution: cells comparable to the radius
    # conservative degree OVER-estimate of the radius (110,000 m/deg floor;
    # the true haversine value is 111,195) so the cover never under-spans
    deg = max(radius_m / 110_000.0, 1e-5)
    res = int(np.clip(round(np.log2(360.0 / deg) - 1), 2, 14))
    n = 1 << res
    cell_h_deg, cell_w_deg = 180.0 / n, 360.0 / n
    rows = []
    seen: set[tuple[int, int]] = set()
    for s in sites_pdf.itertuples(index=False):
        sid = int(getattr(s, site_key))
        slat, slon = float(s.lat), float(s.lon)
        # latitude extent is uniform; longitude extent grows with 1/cos(lat)
        # toward the poles — size the x-ring at the worst latitude the disc
        # can reach, else high-latitude pairs are silently missed
        lat_deg = deg
        max_abs_lat = min(89.9, abs(slat) + lat_deg)
        lon_deg = deg / max(np.cos(np.radians(max_abs_lat)), 1e-3)
        ring_y = int(np.ceil(lat_deg / cell_h_deg)) + 1
        ring_x = min(int(np.ceil(lon_deg / cell_w_deg)) + 1, n // 2)
        # a capped ring spans 2·ring_x+1 ≥ n+1 columns, and modular wrap
        # then maps dx = ±n/2 to the SAME cell — a duplicate (site, cell)
        # cover row duplicates every within-radius pair in that column.
        # Bound the dx span to n distinct columns AND dedupe on (sid, cell).
        if 2 * ring_x + 1 >= n:
            span_lo, span_hi = 0, n - 1
        else:
            span_lo, span_hi = -ring_x, ring_x
        c = int(cell_encode(np.array([slat]), np.array([slon]), res)[0])
        cx, cy = c % n, c // n
        if len(rows) + (2 * ring_y + 1) * (span_hi - span_lo + 1) > max_cover_rows:
            raise ValueError(
                f"near_join: cover exceeds max_cover_rows={max_cover_rows} "
                f"({len(sites_pdf)} sites, radius {radius_m} m) — use "
                "near_join_cells (distributed in-plan cover) for site tables "
                "this large"
            )
        for dy in range(-ring_y, ring_y + 1):
            yy = cy + dy
            if yy < 0 or yy >= n:
                continue
            for dx in range(span_lo, span_hi + 1):
                xx = (cx + dx) % n
                key = (sid, yy * n + xx)
                if key in seen:
                    continue
                seen.add(key)
                rows.append((sid, slat, slon, yy * n + xx))
    cover = spark.createDataFrame(
        pd.DataFrame(rows, columns=["site_id", "site_lat", "site_lon", "cell"]),
        "site_id long, site_lat double, site_lon double, cell long",
    )
    pts = with_cell(points.where(F.col("lat").isNotNull()), res, out="_cell")
    dist = F.expr(portable.haversine_m_sql("lat", "lon", "site_lat", "site_lon"))
    return (
        pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"], "inner")
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .drop("_cell", "cell", "site_lat", "site_lon")
    )


def near_join_cells(
    points: DataFrame,
    sites_df: DataFrame,
    radius_m: float,
    point_key: str = "url",
    site_key: str = "site_id",
) -> DataFrame:
    """Distributed NearProcess: all (point, site) pairs with haversine ≤
    radius_m, with the site side a DATAFRAME end to end (10⁶+ sites OK).

    Same cover semantics as :func:`near_join` (same resolution pick, same
    per-site latitude-aware ring extents, same wrap capping), but the cover
    is derived with ``sequence``/``explode`` inside the plan instead of a
    driver-side Python loop — per-site work is map-side, the only shuffle is
    the cell equi-join. (sid, cell) rows are unique by construction: one
    ``_yy`` per dy, and both dx branches enumerate distinct residues mod n,
    so no dedupe pass is needed. The refine is the same codegen'd haversine.
    """
    deg = max(radius_m / 110_000.0, 1e-5)
    res = int(np.clip(round(np.log2(360.0 / deg) - 1), 2, 14))
    n = 1 << res
    cell_h_deg, cell_w_deg = 180.0 / n, 360.0 / n
    ring_y = int(np.ceil(deg / cell_h_deg)) + 1

    s = sites_df.select(
        F.col(site_key).alias("site_id"),
        F.col("lat").alias("site_lat"),
        F.col("lon").alias("site_lon"),
    ).withColumn("_sc", F.expr(portable.cell_id_sql("site_lat", "site_lon", res)))
    # longitude extent grows with 1/cos(lat) toward the poles — size the
    # x-ring at the worst latitude the disc can reach (near_join twin)
    max_abs_lat = F.least(F.lit(89.9), F.abs(F.col("site_lat")) + F.lit(deg))
    lon_deg = F.lit(deg) / F.greatest(F.cos(F.radians(max_abs_lat)), F.lit(1e-3))
    s = s.withColumn(
        "_rx",
        F.least(
            (F.ceil(lon_deg / F.lit(cell_w_deg)) + F.lit(1)).cast("int"),
            F.lit(n // 2),
        ),
    )
    # capped ring would span ≥ n+1 columns and wrap onto duplicates — emit
    # each of the n distinct columns exactly once instead
    dxs = F.when(
        F.lit(2) * F.col("_rx") + F.lit(1) >= F.lit(n),
        F.sequence(F.lit(0), F.lit(n - 1)),
    ).otherwise(F.sequence(-F.col("_rx"), F.col("_rx")))
    cover = (
        s.withColumn("_dy", F.explode(F.sequence(F.lit(-ring_y), F.lit(ring_y))))
        .withColumn("_yy", F.expr(portable.idiv_sql("_sc", n)) + F.col("_dy"))
        .where((F.col("_yy") >= 0) & (F.col("_yy") < n))
        .withColumn("_dx", F.explode(dxs))
        .withColumn("_xx", F.pmod(F.col("_sc") % n + F.col("_dx"), F.lit(n)))
        .select(
            "site_id",
            "site_lat",
            "site_lon",
            (F.col("_yy") * n + F.col("_xx")).alias("cell"),
        )
    )
    pts = with_cell(points.where(F.col("lat").isNotNull()), res, out="_cell")
    dist = F.expr(portable.haversine_m_sql("lat", "lon", "site_lat", "site_lon"))
    return (
        pts.join(cover, pts["_cell"] == cover["cell"], "inner")
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .drop("_cell", "cell", "site_lat", "site_lon")
    )


def _ring_offsets(rho: int) -> list[tuple[int, int]]:
    """(dx, dy) offsets at exactly Chebyshev distance ``rho`` (hollow ring,
    8·rho offsets; the single (0,0) for rho=0)."""
    if rho == 0:
        return [(0, 0)]
    out = []
    for dx in range(-rho, rho + 1):
        for dy in range(-rho, rho + 1):
            if max(abs(dx), abs(dy)) == rho:
                out.append((dx, dy))
    return out


def knn_join_cells(
    points: DataFrame,
    sites_df: DataFrame,
    k: int = 1,
    res: int = 6,
    point_key: str = "url",
    site_key: str = "site_id",
    max_rounds: int = 8,
    reliable_checkpoint: bool = False,
    max_fallback_rows: int = 10_000_000,
) -> DataFrame:
    """Distributed kNN via iterative cell-ring expansion (both sides large).

    The site side stays a DataFrame end to end: round ρ explodes each site
    across the 8ρ hollow-ring cell OFFSETS (a tiny literal array — the only
    driver-built object), joins still-unsettled points on cell, keeps a
    running top-k per point, and settles points whose k-th distance beats the
    next ring's conservative lower bound. Candidates are deduped on
    (point, site) before every ranking — longitude wrap and the final
    fallback can regenerate a pair, and a duplicate surviving row_number
    would displace a true k-th neighbor. The bounded final round compares
    the (small) unsettled remainder against all sites directly.
    """
    n = 1 << res
    sites = sites_df.select(
        F.col(site_key).alias("site_id"),
        F.col("lat").alias("site_lat"),
        F.col("lon").alias("site_lon"),
    ).withColumn("_sc", F.expr(portable.cell_id_sql("site_lat", "site_lon", res)))
    sites = sites.persist()

    pts = (
        points.where(F.col("lat").isNotNull())
        .select(F.col(point_key).alias("_pk"), "lat", "lon")
        .withColumn("_cell", F.expr(portable.cell_id_sql("lat", "lon", res)))
    )
    pending = pts
    best: DataFrame | None = None
    topk_w = Window.partitionBy("_pk").orderBy(F.asc("dist_m"), F.asc("site_id"))

    def _merge_topk(acc: DataFrame | None, cand: DataFrame) -> DataFrame:
        merged = cand if acc is None else acc.unionByName(cand)
        topped = (
            merged.dropDuplicates(["_pk", "site_id"])
            .withColumn("_rn", F.row_number().over(topk_w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )
        # cut the iterative lineage each round; the superseded accumulator
        # is dead once the merge materializes
        return iter_checkpoint(topped, reliable_checkpoint, release=acc)

    dist = F.expr(portable.haversine_m_sql("lat", "lon", "site_lat", "site_lon"))
    for rho in range(max_rounds + 1):
        last = rho == max_rounds
        if last:
            # bounded fallback: whatever never settled (polar/sparse regions)
            # compares against every site. The remainder is small by
            # construction after ring expansion — but that is an ASSUMPTION,
            # so make it loud (VERDICT r4 #9): count it, log it, and refuse
            # the crossJoin above max_fallback_rows instead of silently
            # launching an n×m product.
            n_pending = pending.count()
            if n_pending == 0:
                break
            n_sites = sites.count()
            print(
                f"knn_join_cells: final fallback crossJoin over {n_pending} "
                f"unsettled points x {n_sites} sites"
            )
            if n_pending * n_sites > max_fallback_rows:
                raise RuntimeError(
                    f"knn_join_cells: fallback crossJoin would produce "
                    f"{n_pending * n_sites} rows (> max_fallback_rows="
                    f"{max_fallback_rows}); raise max_rounds or the bound"
                )
            cand = pending.crossJoin(sites.drop("_sc"))
        else:
            offs = F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in _ring_offsets(rho)
                ]
            )
            cover = (
                sites.withColumn("_o", F.explode(offs))
                .select(
                    "site_id",
                    "site_lat",
                    "site_lon",
                    (F.expr(portable.idiv_sql("_sc", n)) + F.col("_o.dy")).alias("_y"),
                    F.pmod(F.col("_sc") % n + F.col("_o.dx"), F.lit(n)).alias("_x"),
                )
                .where((F.col("_y") >= 0) & (F.col("_y") < n))
                .select("site_id", "site_lat", "site_lon", (F.col("_y") * n + F.col("_x")).alias("cell"))
            )
            cand = pending.join(cover, pending["_cell"] == cover["cell"], "inner")
        cand = cand.withColumn("dist_m", dist).select("_pk", "lat", "lon", "_cell", "site_id", "dist_m")
        best = _merge_topk(best, cand)
        if last:
            break
        # settle points: k candidates found and kth dist < next ring bound
        agg = best.groupBy("_pk", "lat").agg(
            F.count("*").alias("_nc"), F.max("dist_m").alias("_dk")
        )
        # lower bound on distance to any cell in rings > rho, mirroring
        # kernel.ring_lower_bound_m(lat, res, rho+1) as a pure expression
        cell_h_deg = 180.0 / n
        vert = F.lit(rho * cell_h_deg * 110_000.0)
        max_abs_lat = F.least(F.lit(90.0), F.abs(F.col("lat")) + F.lit((rho + 2) * cell_h_deg))
        # 110,000 m/deg floor: the lower bound must UNDER-estimate the
        # haversine distance (111,195 m/deg on this sphere), else a point
        # can settle on a non-nearest site (kernel.ring_lower_bound_m twin)
        horiz = (
            F.lit(rho * (360.0 / n) * 110_000.0)
            * F.greatest(F.lit(0.0), F.cos(F.radians(max_abs_lat)))
        )
        settled_keys = agg.where(
            (F.col("_nc") >= k) & (F.col("_dk") < F.least(vert, horiz))
        ).select("_pk")
        pending = iter_checkpoint(
            pending.join(settled_keys, "_pk", "left_anti"),
            reliable_checkpoint,
            release=pending,
        )
        if pending.isEmpty():
            break

    sites.unpersist()
    assert best is not None
    return (
        best.withColumn("rank", F.row_number().over(topk_w))
        .select(F.col("_pk").alias(point_key), "site_id", "dist_m", "rank")
    )
