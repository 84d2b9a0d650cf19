"""Distance / nearest / kNN joins — two-phase candidate/refine.

Reference semantics: ``[R] gaia/geo/processes_vector.py ::
DistanceProcess.compute`` (distance of each input-1 feature to the nearest
input-2 feature, added as a ``distance`` column) and ``NearProcess``
(features within distance d). kNN (k>1) is required beyond the reference by
the north rule ("distance/buffer kNN search").

Two physical strategies:

- **broadcast** — the site side fits in executor memory (the common
  web-pipeline shape: billions of pages vs 10²..10⁵ sites). Zero shuffle:
  the site list rides along as one broadcast array column and a JVM
  ``array_min`` / ``array_sort`` expression picks the top k per point.
  Scales linearly in pages.
- **cell ring expansion** (:func:`ring_topk`) — both sides large. Pending
  points are exploded to cell rings of growing Chebyshev radius; each round
  is a cell equi-join + per-point top-k; a point retires when its k-th best
  distance beats the conservative lower bound of the next unexplored ring
  (kernel.ring_lower_bound_m), or when the ring exhausts the grid. The same
  loop serves the feature→zone distance
  (:func:`gaia_spark.operators.feature_distance.feature_distance_nearest_cells`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from gaia_spark.functions import portable
from gaia_spark.functions.kernel import cell_encode
from gaia_spark.operators.spatial_join import with_cell
from gaia_spark.session import iter_checkpoint, local_df, release_checkpoint


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
    oracle-mirrorable). The site list rides along as a broadcast array
    column and the top k is picked per point entirely inside the JVM (no
    Python stage): ``array_min`` for k=1 (over literal sites up to 64 of
    them), ``array_sort(transform(sites, s -> (dist, id)))`` otherwise —
    O(m log m) per row, linear in points.
    """
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
    sites = local_df(
        spark,
        sites_pdf.rename(columns={site_key: "sid", site_lat: "slat", site_lon: "slon"}),
        "sid long, slat double, slon double",
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
    cover = local_df(spark, rows, "site_id long, site_lat double, site_lon double, cell long")
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


def ring_topk(
    left: DataFrame,
    right: DataFrame,
    dist: Column,
    k: int,
    res: int,
    slack: str | None = None,
    max_rounds: int = 8,
    max_fallback_rows: int = 10_000_000,
) -> DataFrame:
    """The one cell-ring top-k loop: per ``left`` row, the k ``right`` rows
    with the smallest ``dist``; returns (_lk, _rk, _d), ties by (_d, _rk).

    ``left``: ``_lk`` key, anchor latitude ``_alat``, anchor cell ``_acell``
    (at ``res``) and the payload ``dist`` reads; ``slack`` names a column of
    metres by which the left geometry may reach beyond its anchor (0 for
    points). ``right``: ``_rk`` key, ``_rcell`` and its payload, one row per
    cell the right geometry meets. Column names must not collide.

    Round ρ explodes the still-pending left rows across the 8ρ hollow-ring
    cell offsets (a tiny literal array — the only driver-built object),
    joins ``right`` on cell and merges a running top-k; candidates are
    deduped on (_lk, _rk) before every ranking, since longitude wrap,
    multi-cell right rows and the fallback can regenerate a pair. A row
    settles once it has k candidates and the k-th beats the next ring's
    conservative lower bound minus its slack. The bounded final round
    compares the (small) unsettled remainder against every right row
    directly — counted, and refused above ``max_fallback_rows``.

    Only the returned (checkpointed) result stays persisted: the right side
    and the last pending round are released on success and on refusal.
    """
    n = 1 << res
    cell_h_deg = 180.0 / n
    topk_w = Window.partitionBy("_lk").orderBy(F.asc("_d"), F.asc("_rk"))
    right = right.persist()
    pending, best = left, None
    try:
        for rho in range(max_rounds + 1):
            if rho == max_rounds:
                # loud bounded fallback: the remainder is small after ring
                # expansion — an ASSUMPTION, so count it and refuse the
                # crossJoin above max_fallback_rows instead of silently
                # launching an n×m product
                rights = right.drop("_rcell").dropDuplicates(["_rk"])
                n_pending, n_right = pending.count(), rights.count()
                print(
                    f"ring_topk: final fallback crossJoin over {n_pending} "
                    f"unsettled rows x {n_right} candidates"
                )
                if n_pending * n_right > max_fallback_rows:
                    raise RuntimeError(
                        f"ring_topk: fallback crossJoin would produce "
                        f"{n_pending * n_right} rows (> max_fallback_rows="
                        f"{max_fallback_rows}); raise max_rounds or the bound"
                    )
                cand = pending.crossJoin(rights)
            else:
                offs = F.array(
                    *[
                        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx, dy in _ring_offsets(rho)
                    ]
                )
                y = F.expr(portable.idiv_sql("_acell", n)) + F.col("_o.dy")
                x = F.pmod(F.col("_acell") % n + F.col("_o.dx"), F.lit(n))
                cover = (
                    pending.withColumn("_o", F.explode(offs))
                    .where((y >= 0) & (y < n))
                    .withColumn("_cell", y * n + x)
                )
                cand = cover.join(right, cover["_cell"] == right["_rcell"], "inner")
            merged = cand.select("_lk", "_rk", dist.alias("_d"))
            if best is not None:
                merged = best.unionByName(merged)
            topped = (
                merged.dropDuplicates(["_lk", "_rk"])
                .withColumn("_rn", F.row_number().over(topk_w))
                .where(F.col("_rn") <= k)
                .drop("_rn")
            )
            # cut the iterative lineage each round; the superseded
            # accumulator is dead once the merge materializes
            best = iter_checkpoint(topped, release=best)
            if rho == max_rounds:
                break
            # lower bound on the distance to any cell in rings > rho,
            # mirroring kernel.ring_lower_bound_m(lat, res, rho+1); the
            # 110,000 m/deg floor UNDER-estimates the haversine (111,195
            # m/deg on this sphere), else a row could settle on a
            # non-nearest right row
            vert = F.lit(rho * cell_h_deg * 110_000.0)
            max_abs_lat = F.least(
                F.lit(90.0), F.abs(F.col("_alat")) + F.lit((rho + 2) * cell_h_deg)
            )
            horiz = F.lit(rho * (360.0 / n) * 110_000.0) * F.greatest(
                F.lit(0.0), F.cos(F.radians(max_abs_lat))
            )
            bound = F.least(vert, horiz) - (F.col(slack) if slack else F.lit(0.0))
            kth = best.groupBy("_lk").agg(F.count("*").alias("_nc"), F.max("_d").alias("_dk"))
            settled = (
                pending.join(kth, "_lk")
                .where((F.col("_nc") >= k) & (F.col("_dk") < bound))
                .select("_lk")
            )
            pending = iter_checkpoint(
                pending.join(settled, "_lk", "left_anti"), release=pending
            )
            if pending.isEmpty():
                break
    except BaseException:
        if best is not None:
            release_checkpoint(best)
        raise
    finally:
        right.unpersist()
        release_checkpoint(pending)
    return best


def knn_join_cells(
    points: DataFrame,
    sites_df: DataFrame,
    k: int = 1,
    res: int = 6,
    point_key: str = "url",
    site_key: str = "site_id",
    max_rounds: int = 8,
    max_fallback_rows: int = 10_000_000,
) -> DataFrame:
    """Distributed kNN via :func:`ring_topk` (both sides large; the site
    side stays a DataFrame end to end). Each point anchors at its own cell,
    each site sits in its own cell. Returns (point_key, site_id, dist_m,
    rank); ties by (dist, site id) asc.
    """
    sites = sites_df.select(
        F.col(site_key).alias("_rk"),
        F.col("lat").alias("site_lat"),
        F.col("lon").alias("site_lon"),
    ).withColumn("_rcell", F.expr(portable.cell_id_sql("site_lat", "site_lon", res)))
    pts = points.where(F.col("lat").isNotNull()).select(
        F.col(point_key).alias("_lk"),
        "lat",
        "lon",
        F.col("lat").alias("_alat"),
        F.expr(portable.cell_id_sql("lat", "lon", res)).alias("_acell"),
    )
    dist = F.expr(portable.haversine_m_sql("lat", "lon", "site_lat", "site_lon"))
    best = ring_topk(
        pts, sites, dist, k, res,
        max_rounds=max_rounds,
        max_fallback_rows=max_fallback_rows,
    )
    rank = F.row_number().over(Window.partitionBy("_lk").orderBy(F.asc("_d"), F.asc("_rk")))
    return best.select(
        F.col("_lk").alias(point_key),
        F.col("_rk").alias("site_id"),
        F.col("_d").alias("dist_m"),
        rank.alias("rank"),
    )
