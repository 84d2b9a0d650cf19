"""Spatial statistics: weights, Moran's I autocorrelation, grid clustering.

Reference semantics: ``[R] gaia/geo/processes_vector.py ::
{Weight,Autocorrelation,Cluster}Process`` (pysal-backed in the reference; no
pysal offline, so the math is spelled out as DataFrame aggregations).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable
from gaia_spark.session import local_df


def cell_rook_weights(cells: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """WeightProcess (rook contiguity on the grid): adjacency rows
    (cell, neighbor, w=1.0). Longitude wraps, latitude clamps; only
    neighbors that actually hold data survive the join."""
    n = 1 << res
    c = cells.select(cell_col).distinct()
    x = F.expr(f"({cell_col} % {n})")
    y = F.expr(portable.idiv_sql(cell_col, n))
    nbrs = c.select(
        F.col(cell_col),
        F.explode(
            F.array(
                (y * n + (x + 1) % n).alias("e"),
                (y * n + (x - 1 + n) % n).alias("w"),
                F.when(y + 1 < n, (y + 1) * n + x).alias("s"),
                F.when(y - 1 >= 0, (y - 1) * n + x).alias("n"),
            )
        ).alias("neighbor"),
    ).where(F.col("neighbor").isNotNull())
    present = c.select(F.col(cell_col).alias("neighbor"))
    return nbrs.join(present, "neighbor", "left_semi").withColumn("w", F.lit(1.0))


def polygon_contiguity_weights(
    spark,
    index,
    contiguity: str = "rook",
) -> DataFrame:
    """WeightProcess over an arbitrary POLYGON layer (``[R] gaia/geo/
    processes_vector.py :: WeightProcess`` rook/queen via pysal): zone-zone
    adjacency computed by joining the zone layer against its own index with
    the generic feature touches predicate.

    - ``queen``: any boundary contact (shared edge OR corner).
    - ``rook``: boundary contact that includes a shared positive-length
      segment (corner-only contact excluded).

    Returns (cell, neighbor, w=1.0) — the shape :func:`morans_i` consumes.
    The zone layer is small (it is the broadcast side of every spatial
    join), so self-joining it is cheap at any scale."""
    if contiguity not in ("rook", "queen"):
        raise ValueError(f"unknown contiguity {contiguity!r}")
    from gaia_spark.operators.feature_join import feature_spatial_join

    feats = local_df(
        spark,
        index.zones_pdf.rename(columns={"zone_id": "_zid"}),
        "_zid long, vertices array<struct<lat:double,lon:double>>",
    )
    pred = "touches_rook" if contiguity == "rook" else "touches"
    pairs = feature_spatial_join(feats, index, predicate=pred, feature_key="_zid")
    return (
        pairs.where(F.col("_zid") != F.col("zone_id"))
        .select(
            F.col("_zid").alias("cell"),
            F.col("zone_id").alias("neighbor"),
            F.lit(1.0).alias("w"),
        )
    )


def morans_i(
    values: DataFrame,
    weights: DataFrame,
    cell_col: str = "cell",
    value_col: str = "v",
) -> DataFrame:
    """Global Moran's I: (n / ΣΣw) · Σ w_ij·z_i·z_j / Σ z_i², z = v - mean.

    Two broadcast-friendly aggregations + one self-join on the adjacency
    list — no O(n²) anywhere (AutocorrelationProcess role; permutation
    p-values are omitted: no unseeded randomness allowed in this engine).
    """
    stats = values.agg(
        F.avg(value_col).alias("_mean"), F.count("*").cast("double").alias("_n")
    )
    z = values.crossJoin(F.broadcast(stats)).select(
        F.col(cell_col), (F.col(value_col) - F.col("_mean")).alias("z"), "_n"
    )
    zj = z.select(F.col(cell_col).alias("neighbor"), F.col("z").alias("z_j"))
    num = (
        weights.join(z.withColumnRenamed("z", "z_i"), cell_col)
        .join(zj, "neighbor")
        .agg(
            F.sum(F.col("w") * F.col("z_i") * F.col("z_j")).alias("_num"),
            F.sum("w").alias("_sw"),
            F.first("_n").alias("_n"),
        )
    )
    den = z.agg(F.sum(F.col("z") * F.col("z")).alias("_den"))
    return num.crossJoin(den).select(
        ((F.col("_n") / F.col("_sw")) * (F.col("_num") / F.col("_den"))).alias("moran_i")
    )


def morans_i_perm(
    values: DataFrame,
    weights: DataFrame,
    n_perm: int = 19,
    cell_col: str = "cell",
    value_col: str = "v",
) -> DataFrame:
    """Permutation p-value for Moran's I (AutocorrelationProcess
    ``permutations`` arg): values are re-assigned to cells by DETERMINISTIC
    md5-ranked permutations (no rand() — reruns and the DuckDB oracle see
    the same permutations), p = (#{|I_k| ≥ |I_obs|} + 1) / (n_perm + 1).

    n, Σw and Σz² are permutation-invariant, so only the numerator
    Σ w_ij·z_i·z_j is recomputed per permutation — one adjacency join over
    (perm × cells), two window ranks, no O(n²) anywhere.

    Scale note: the unpartitioned rank window runs over the CELL table
    (one row per occupied grid cell — 4^res bounded, typically ≤10⁴ after
    aggregation), never over raw points; the per-permutation rank is
    partitioned by k. At coarser-than-expected cell counts switch res, not
    this plan.
    """
    stats = values.agg(
        F.avg(value_col).alias("_mean"), F.count("*").cast("double").alias("_n")
    )
    z = values.crossJoin(F.broadcast(stats)).select(
        F.col(cell_col), (F.col(value_col) - F.col("_mean")).alias("z"), "_n"
    )
    den = z.agg(
        F.sum(F.col("z") * F.col("z")).alias("_den"), F.first("_n").alias("_n")
    ).crossJoin(weights.agg(F.sum("w").alias("_sw")))

    zj = z.select(F.col(cell_col).alias("neighbor"), F.col("z").alias("z_j"))
    obs_num = (
        weights.join(z.withColumnRenamed("z", "z_i"), cell_col)
        .join(zj, "neighbor")
        .agg(F.sum(F.col("w") * F.col("z_i") * F.col("z_j")).alias("_num"))
    )
    i_obs = obs_num.crossJoin(den).select(
        ((F.col("_n") / F.col("_sw")) * (F.col("_num") / F.col("_den"))).alias("i_obs")
    )

    # deterministic permutation k: cells ranked by md5('k:cell') receive the
    # values ranked by cell id
    w_v = Window.orderBy(F.col(cell_col).asc())
    ranked_vals = z.select(F.row_number().over(w_v).alias("_r"), F.col("z").alias("z_p"))
    cells_k = z.select(cell_col).withColumn(
        "k", F.explode(F.array(*[F.lit(k) for k in range(n_perm)]))
    )
    w_h = Window.partitionBy("k").orderBy(
        F.md5(F.concat_ws(":", F.col("k"), F.col(cell_col))).asc(), F.col(cell_col).asc()
    )
    z_perm = cells_k.withColumn("_r", F.row_number().over(w_h)).join(
        ranked_vals, "_r"
    ).select("k", cell_col, "z_p")

    zpj = z_perm.select("k", F.col(cell_col).alias("neighbor"), F.col("z_p").alias("zp_j"))
    num_k = (
        weights.join(z_perm.withColumnRenamed("z_p", "zp_i"), cell_col)
        .join(zpj, ["k", "neighbor"])
        .groupBy("k")
        .agg(F.sum(F.col("w") * F.col("zp_i") * F.col("zp_j")).alias("_numk"))
    )
    i_k = num_k.crossJoin(den).select(
        "k", ((F.col("_n") / F.col("_sw")) * (F.col("_numk") / F.col("_den"))).alias("i_k")
    )
    return (
        i_k.crossJoin(F.broadcast(i_obs))
        .agg(
            F.first("i_obs").alias("moran_i"),
            (
                (F.sum(F.when(F.abs("i_k") >= F.abs("i_obs"), 1).otherwise(0)) + 1)
                / F.lit(float(n_perm + 1))
            ).alias("p_value"),
        )
        .withColumn("n_perm", F.lit(n_perm).cast("long"))
    )


def grid_dbscan(
    points: DataFrame,
    res: int,
    min_pts: int,
    point_key: str = "url",
    max_iter: int = 30,
) -> DataFrame:
    """ClusterProcess as grid-DBSCAN: dense cells (count ≥ min_pts) are core;
    clusters are connected components of dense cells under rook adjacency,
    found by min-label propagation WITH pointer doubling (no GraphFrames
    offline). Returns (cell, cluster_id); join points back on cell.

    Each round is one-hop neighbor-min followed by a pointer jump
    (label := label's label), so convergence is O(log diameter) rounds —
    a grid-spanning snake component (diameter ~2·2^res) settles in ~res+1
    rounds, far inside max_iter. Raises if the loop still exits
    unconverged rather than silently returning split components.
    iter_checkpoint cuts the lineage every round so plans stay flat.
    """
    from gaia_spark.operators.spatial_join import with_cell

    dense = (
        with_cell(points.where(F.col("lat").isNotNull()), res, out="cell")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_pts)
        .select("cell")
    )
    adj = cell_rook_weights(dense, res).select("cell", "neighbor")
    labels = min_label_components(dense, adj, node_col="cell", max_iter=max_iter)
    return labels.withColumnRenamed("label", "cluster_id")


def min_label_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "cell",
    nbr_col: str = "neighbor",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer doubling:
    returns (node_col, label) where label = min node id of the component.

    Each round: one-hop neighbor min, then TWO pointer jumps
    (label := min(label, label's label), twice) — chain depth quarters
    every round, so convergence is ~½·O(log diameter) rounds; raises if
    the loop exits unconverged rather than silently returning split
    components. The previous label is THREADED through the round as a
    carried column, so the convergence check is a scan of the
    just-checkpointed frame (labels are monotone non-increasing, so
    "no row changed" is exact), not an extra join per round.
    ``edges`` must be symmetric (or the propagation only flows one way);
    labels are always node ids, so the pointer lookup is total.
    The per-round lineage cut is session.iter_checkpoint: a reliable
    checkpoint when the session has a checkpoint directory, else
    localCheckpoint."""
    import shutil
    import tempfile

    from gaia_spark.session import iter_checkpoint, release_checkpoint, sever_lineage

    # the edge input is joined in every round: materialize it once, or each
    # round re-runs whatever plan produced it
    edges = iter_checkpoint(edges)
    labels = iter_checkpoint(nodes.select(node_col, F.col(node_col).alias("label")))
    _cp = labels  # the round's live checkpoint frame (release target: a
    # .drop() wrapper is NOT releasable — unpersist needs the LogicalRDD root)
    scratch = tempfile.mkdtemp(prefix="gaia_mlc_")
    try:
        converged = False
        for _round in range(max_iter):
            prop = (
                edges.join(labels, node_col)
                .groupBy(nbr_col)
                .agg(F.min("label").alias("nbr_label"))
                .withColumnRenamed(nbr_col, node_col)
            )
            cur = labels.join(prop, node_col, "left").select(
                node_col,
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                F.col("label").alias("_prev"),
            )
            # first jump checkpointed: the second jump references its input
            # twice (row + parent side), and an unmaterialized input would be
            # recomputed on both sides
            jump1 = iter_checkpoint(
                cur.join(
                    cur.select(F.col(node_col).alias("_p"), F.col("label").alias("_pl")),
                    cur["label"] == F.col("_p"),
                    "left",
                ).select(
                    node_col,
                    F.least(F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))).alias("label"),
                    "_prev",
                )
            )
            new = iter_checkpoint(
                jump1.join(
                    jump1.select(F.col(node_col).alias("_p"), F.col("label").alias("_pl")),
                    jump1["label"] == F.col("_p"),
                    "left",
                ).select(
                    node_col,
                    F.least(F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))).alias("label"),
                    "_prev",
                )
            )
            release_checkpoint(jump1)
            converged = new.where(F.col("label") != F.col("_prev")).isEmpty()
            if _cp is not None:
                release_checkpoint(_cp)  # superseded only AFTER new materialized
            _cp, labels = new, new.drop("_prev")
            if converged:
                break
            # the round plan references labels multiple times — sever the
            # retained object graph every few rounds or per-round overhead
            # grows multiplicatively (session.sever_lineage)
            if (_round + 1) % 3 == 0:
                labels = sever_lineage(labels, f"{scratch}/labels_{_round}")
                release_checkpoint(_cp)
                _cp = None  # parquet-backed state; nothing to release
        if not converged:
            raise RuntimeError(
                f"min_label_components: no convergence in {max_iter} rounds"
            )
        return iter_checkpoint(labels, release=_cp)
    finally:
        release_checkpoint(edges)
        shutil.rmtree(scratch, ignore_errors=True)


def local_morans_i(
    values: DataFrame,
    weights: DataFrame,
    cell_col: str = "cell",
    value_col: str = "v",
) -> DataFrame:
    """LOCAL Moran's I (LISA; the per-feature decomposition of
    AutocorrelationProcess): I_i = (z_i / m2) · Σ_j w_ij z_j with
    m2 = Σ z² / n. Returns (cell, lag, local_i) for every cell that has at
    least one weighted neighbor with a value; Σ_i I_i / ΣΣw = global I.

    Same broadcast-friendly shape as :func:`morans_i`: two scalar
    aggregations + one adjacency join + one grouped sum — no O(n²)."""
    stats = values.agg(
        F.avg(value_col).alias("_mean"), F.count("*").cast("double").alias("_n")
    )
    z = values.crossJoin(F.broadcast(stats)).select(
        F.col(cell_col), (F.col(value_col) - F.col("_mean")).alias("z")
    )
    m2 = z.agg((F.sum(F.col("z") * F.col("z")) / F.count("*")).alias("_m2"))
    zj = z.select(F.col(cell_col).alias("neighbor"), F.col("z").alias("z_j"))
    lag = (
        weights.join(zj, "neighbor")
        .groupBy(cell_col)
        .agg(F.sum(F.col("w") * F.col("z_j")).alias("lag"))
    )
    return (
        z.join(lag, cell_col)
        .crossJoin(F.broadcast(m2))
        .select(
            cell_col,
            "lag",
            ((F.col("z") / F.col("_m2")) * F.col("lag")).alias("local_i"),
        )
    )


def getis_ord_gstar(
    values: DataFrame,
    weights: DataFrame,
    cell_col: str = "cell",
    value_col: str = "v",
) -> DataFrame:
    """Getis-Ord G*ᵢ hot-spot z-scores (the standard local statistic beside
    LISA): with binary weights INCLUDING self,
    G*ᵢ = (Σ_j w_ij x_j − x̄·Wᵢ) / (S·√[(n·Wᵢ − Wᵢ²)/(n−1)]),
    S = √(Σx²/n − x̄²), Wᵢ = 1 + Σ_j w_ij. Positive = hot spot (high value
    surrounded by high), negative = cold spot.

    Preconditions (guarded, not silent): n > 1, Wᵢ < n (a fully connected
    graph including self leaves zero variance in the denominator), and
    non-constant values (S > 0). Violations yield an explicit NULL gstar
    rather than NaN/Infinity leaking into downstream filters.

    Same scale shape as the other local stats: two global scalar
    aggregations broadcast + one adjacency join + one grouped sum."""
    g = values.agg(
        F.count("*").cast("double").alias("_n"),
        F.avg(value_col).alias("_mean"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("_sx2"),
    )
    xj = values.select(F.col(cell_col).alias("neighbor"), F.col(value_col).alias("x_j"))
    nbr = (
        weights.join(xj, "neighbor")
        .groupBy(cell_col)
        .agg(F.sum(F.col("w") * F.col("x_j")).alias("_nlag"), F.sum("w").alias("_nw"))
    )
    return (
        values.join(nbr, cell_col, "left")
        .crossJoin(F.broadcast(g))
        .select(
            cell_col,
            (F.col(value_col) + F.coalesce(F.col("_nlag"), F.lit(0.0))).alias("lag"),
            (F.lit(1.0) + F.coalesce(F.col("_nw"), F.lit(0.0))).alias("wi"),
            "_n", "_mean", "_sx2", F.col(value_col).alias("_x"),
        )
        .withColumn("_s", F.sqrt(F.col("_sx2") / F.col("_n") - F.col("_mean") * F.col("_mean")))
        .withColumn(
            "_den",
            F.col("_s") * F.sqrt(
                (F.col("_n") * F.col("wi") - F.col("wi") * F.col("wi"))
                / (F.col("_n") - 1)
            ),
        )
        .withColumn(
            "gstar",
            F.when(
                (F.col("_n") > 1) & (F.col("wi") < F.col("_n")) & (F.col("_den") > 0),
                (F.col("lag") - F.col("_mean") * F.col("wi")) / F.col("_den"),
            ),  # else NULL: n==1, fully connected Wᵢ==n, or constant values
        )
        .select(cell_col, "lag", "wi", "gstar")
    )


def ripleys_k(
    points: DataFrame,
    radii_m: list[float],
    key_col: str = "pid",
    lat: str = "lat",
    lon: str = "lon",
    region_area_sql: str | None = None,
) -> DataFrame:
    """Ripley's K point-pattern statistic (naive estimator, no edge
    correction — documented): K(r) = A · N_pairs(r) / (n·(n−1)) over
    ORDERED pairs i≠j with d(i,j) ≤ r, plus the variance-stabilized
    L(r) = sqrt(K/π).

    Scale shape: pair generation reuses the distributed near-pair cover
    (:func:`gaia_spark.operators.knn.near_join_cells` at r_max — cell
    equi-join, never the all-pairs cross join); the per-radius histogram
    is ONE conditional aggregate (map-side combinable, no radius join);
    n and the K normalization ride a broadcast of two scalar rows. The
    closed-form K/L arithmetic is a single shared expression, so results
    are engine-deterministic (no double accumulation beyond the count).

    Returns (r_m, n_pairs, k_m2_e0, l_m_e3) — K in m² fixed-point e0,
    L in m fixed-point e3. ``region_area_sql`` is a SQL expression for
    the study-region area in m² (default: unit area 1.0, yielding the
    normalized pair fraction)."""
    from gaia_spark.operators.knn import near_join_cells

    radii = sorted(float(r) for r in radii_m)
    rmax = radii[-1]
    pts = points.select(F.col(key_col).alias("pid"), lat, lon)
    sites = points.select(
        F.col(key_col).alias("site_id"), F.col(lat).alias("lat"), F.col(lon).alias("lon")
    )
    pairs = near_join_cells(pts, sites, rmax, point_key="pid", site_key="site_id")
    pairs = pairs.where(F.col("pid") != F.col("site_id"))

    counts = pairs.agg(
        *[
            F.sum(F.when(F.col("dist_m") <= r, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{i}")
            for i, r in enumerate(radii)
        ]
    )
    n_df = pts.agg(F.count("*").cast("long").alias("_n"))
    stack = ", ".join(
        f"cast({r} as double), _c{i}" for i, r in enumerate(radii)
    )
    area = region_area_sql if region_area_sql is not None else "cast(1 as double)"
    k_expr = (
        f"(({area}) * cast(n_pairs as double) / "
        "(cast(_n as double) * cast(_n - 1 as double)))"
    )
    return (
        counts.crossJoin(F.broadcast(n_df))
        .select(
            F.expr(f"stack({len(radii)}, {stack}) AS (r_m, n_pairs)"), "_n"
        )
        .select(
            "r_m",
            "n_pairs",
            F.expr(portable.floor_scaled_sql(k_expr, 0)).alias("k_m2_e0"),
            F.expr(portable.floor_scaled_sql(f"sqrt({k_expr} / pi())", 3)).alias("l_m_e3"),
        )
    )


def empirical_variogram(
    points: DataFrame,
    value_col: str,
    bin_width_m: float,
    n_bins: int,
    key_col: str = "pid",
    lat: str = "lat",
    lon: str = "lon",
    value_scale: int = 4,
    gamma_scale: int = 2,
) -> DataFrame:
    """Empirical semivariogram (the kriging precursor; `[R] SURVEY.md §2.I
    AutocorrelationProcess` family): gamma(h) = sum((v_i − v_j)²) /
    (2 · N(h)) over ORDERED point pairs i≠j binned by great-circle lag
    distance, bins [k·w, (k+1)·w) for k < n_bins.

    Scale shape (100 TB): pairs come from the distributed cell-cover near
    join at r_max = n_bins·w (:func:`gaia_spark.operators.knn.
    near_join_cells` — cell equi-join, NEVER the all-pairs cross join);
    the per-bin moments are ONE map-side-combinable aggregate; site values
    arrive by one key equi-join. No Python, no driver state.

    Engine-determinism: each pair's squared difference is quantized to
    fixed-point 10^-value_scale BEFORE summation (integer sums are
    order-independent — the dissolve/PageRank lesson), and gamma derives
    by EXACT bigint division (`portable.bigint_div` semantics; the Spark
    side uses `div`), so results are bit-identical in any engine or
    partitioning. Returns (bin, r_lo_m, n_pairs, sum_sq_e{value_scale},
    gamma_e{gamma_scale})."""
    from gaia_spark.operators.knn import near_join_cells

    w = float(bin_width_m)
    rmax = w * n_bins
    pts = points.select(
        F.col(key_col).alias("pid"), F.col(value_col).alias("_va"), lat, lon
    )
    sites = points.select(
        F.col(key_col).alias("site_id"), F.col(lat).alias("lat"), F.col(lon).alias("lon")
    )
    vals = points.select(
        F.col(key_col).alias("site_id"), F.col(value_col).alias("_vb")
    )
    pairs = (
        near_join_cells(pts, sites, rmax, point_key="pid", site_key="site_id")
        .where(F.col("pid") != F.col("site_id"))
        .join(vals, "site_id")
    )
    sq = "(cast(_va as double) - cast(_vb as double)) * (cast(_va as double) - cast(_vb as double))"
    binned = (
        pairs.withColumn("bin", F.floor(F.col("dist_m") / F.lit(w)).cast("long"))
        .where(F.col("bin") < n_bins)
        .withColumn("_sq_e", F.expr(portable.floor_scaled_sql(sq, value_scale)))
    )
    div = 2 * (10 ** (value_scale - gamma_scale))  # e{value} sum -> e{gamma} half-mean
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("_sq_e").cast("long").alias(f"sum_sq_e{value_scale}"),
        )
        .withColumn("r_lo_m", F.expr(portable.floor_scaled_sql(f"bin * {w}", 0)))
        .withColumn(
            f"gamma_e{gamma_scale}",
            F.expr(f"(sum_sq_e{value_scale} div ({div} * n_pairs))").cast("long"),
        )
        .select("bin", "r_lo_m", "n_pairs", f"sum_sq_e{value_scale}", f"gamma_e{gamma_scale}")
    )


def nearest_neighbor_index(
    points: DataFrame,
    region_area_sql: str,
    key_col: str = "pid",
    res: int = 5,
) -> DataFrame:
    """Clark–Evans average nearest-neighbor index: R = mean observed
    nearest-neighbor distance / expected mean under CSR (0.5/sqrt(n/A)).
    R < 1 = clustered, ≈ 1 = random, → 2.15 = dispersed. The classic
    point-pattern dispersion screen (`[R] SURVEY.md §2.I` family, the
    scalar companion of Ripley's K).

    Scale shape: nearest non-self neighbors come from the DISTRIBUTED
    cell-ring kNN (k=2 covers the self pair; never all-pairs); per-point
    distances quantize to e3 BEFORE the corpus sum (order-independent),
    and the final scalar row derives from the two integer sums by one
    shared closed-form expression. Returns a single row
    (n, sum_nn_e3, mean_nn_e3, r_e6)."""
    from gaia_spark.operators.knn import knn_join_cells

    pts = points.select(F.col(key_col).alias("pid"), "lat", "lon")
    sites = points.select(
        F.col(key_col).alias("site_id"), F.col("lat").alias("lat"), F.col("lon").alias("lon")
    )
    nn = (
        knn_join_cells(pts, sites, k=2, res=res, point_key="pid", site_key="site_id")
        .where(F.col("pid") != F.col("site_id"))
        .withColumn("_d_e3", F.expr(portable.floor_scaled_sql("dist_m", 3)))
        .groupBy("pid")
        .agg(F.min("_d_e3").alias("_nn_e3"))
    )
    mean = "(cast(sum_nn_e3 as double) / (cast(n as double) * 1000.0))"
    expected = f"(0.5 / sqrt(cast(n as double) / ({region_area_sql})))"
    return (
        nn.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_nn_e3").cast("long").alias("sum_nn_e3"),
        )
        .select(
            "n",
            "sum_nn_e3",
            F.expr(f"(sum_nn_e3 div (n * 1))").cast("long").alias("mean_nn_e3"),
            F.expr(portable.floor_scaled_sql(f"{mean} / {expected}", 6)).alias("r_e6"),
        )
    )


def gearys_c(
    values: DataFrame,
    weights: DataFrame,
    cell_col: str = "cell",
    value_col: str = "v_int",
) -> DataFrame:
    """Global Geary's C: C = (n-1)·Σ w_ij·(x_i - x_j)² / (2·Σw·Σ(x_i - x̄)²)
    — the pairwise-difference sibling of Moran's I (C < 1 positive
    autocorrelation, C > 1 negative; `[R] gaia/geo/processes_vector.py ::
    AutocorrelationProcess` family, esda.Geary analog).

    ``value_col`` must be INTEGER-valued (e.g. per-cell counts). Unlike
    :func:`morans_i`, no float mean ever enters a distributed sum: the
    numerator Σ w·(x_i-x_j)² is an exact bigint, and the denominator uses
    the moment identity n·Σ(x-x̄)² = n·Σx² - (Σx)², also exact bigint —
    so the statistic is one IEEE division of two integers, bit-identical
    under any partitioning. Plan: one adjacency self-join (weights are
    the small rook list) + two combinable aggregations."""
    x = values.select(F.col(cell_col), F.col(value_col).cast("long").alias("x"))
    xj = x.select(F.col(cell_col).alias("neighbor"), F.col("x").alias("x_j"))
    num = (
        weights.join(x.withColumnRenamed("x", "x_i"), cell_col)
        .join(xj, "neighbor")
        .agg(
            F.sum((F.col("x_i") - F.col("x_j")) * (F.col("x_i") - F.col("x_j")))
            .cast("long")
            .alias("_num"),
            F.count("*").cast("long").alias("n_links"),
        )
    )
    mom = x.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_sxx"),
    )
    # C = n(n-1)·num / (2·S0·(n·Σx² - (Σx)²)); S0 = n_links (w ≡ 1)
    return num.crossJoin(mom).select(
        "n_cells",
        "n_links",
        F.expr(
            portable.floor_scaled_sql(
                "cast(n_cells * (n_cells - 1) * _num as double)"
                " / cast(2 * n_links * (n_cells * _sxx - _sx * _sx) as double)",
                6,
            )
        ).alias("geary_e6"),
    )


def join_counts(
    values: DataFrame,
    weights: DataFrame,
    threshold: int,
    cell_col: str = "cell",
    value_col: str = "v_int",
) -> DataFrame:
    """Join-count statistics for a binary spatial variable (the classic
    BB/WW/BW contiguity test; esda.Join_Counts analog of the
    AutocorrelationProcess family). A cell is Black when
    ``value_col >= threshold``, else White; each undirected rook link is
    classified by its endpoint colors. Symmetric weights list every link
    twice, so the halved sums are exact integers — the whole result is
    integer arithmetic, hash-identical under any partitioning. Plan: one
    adjacency self-join + one conditional aggregation."""
    b = values.select(
        F.col(cell_col),
        (F.col(value_col) >= F.lit(threshold)).cast("long").alias("b"),
    )
    bj = b.select(F.col(cell_col).alias("neighbor"), F.col("b").alias("b_j"))
    joined = (
        weights.join(b.withColumnRenamed("b", "b_i"), cell_col)
        .join(bj, "neighbor")
    )
    counts = joined.agg(
        F.sum(F.col("b_i") * F.col("b_j")).cast("long").alias("_bb2"),
        F.sum((1 - F.col("b_i")) * (1 - F.col("b_j"))).cast("long").alias("_ww2"),
        F.sum(
            F.col("b_i") * (1 - F.col("b_j")) + (1 - F.col("b_i")) * F.col("b_j")
        ).cast("long").alias("_bw2"),
    )
    tot = b.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("b").cast("long").alias("n_black"),
    )
    return counts.crossJoin(tot).select(
        "n_cells",
        "n_black",
        F.expr("_bb2 div 2").cast("long").alias("bb"),
        F.expr("_ww2 div 2").cast("long").alias("ww"),
        F.expr("_bw2 div 2").cast("long").alias("bw"),
    )


def std_ellipse(
    points: DataFrame,
    group_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Standard deviational ellipse (directional distribution) per group —
    the classic centrographic summary (mean center, major/minor axis,
    orientation) of a point layer (`[R] gaia/geo/processes_vector.py ::
    CentroidProcess` family; esda/ArcGIS DirectionalDistribution analog).

    Determinism contract: coordinates quantize to e3 integers FIRST, so the
    five distributed sums (Σx, Σy, Σx², Σy², Σxy) are exact bigints under
    any partitioning; the eigen decomposition of the covariance (via the
    integer moment identities n·Σ(x-x̄)(y-ȳ) = n·Σxy - Σx·Σy) is then one
    per-group scalar expression over those bigints — identical in both
    engines. Degree-space planar math, documented (the reference computes
    in layer CRS the same way). One combinable aggregation, no join.

    Overflow bound: at e3 quantization n·Σx² stays under 2⁶³ for group
    sizes up to ~2.8·10⁸ points; beyond that, center each group on a
    coarse reference point first (two-pass) — documented scale path.

    Returns (group, n, mx_e4, my_e4, sigma1_e4, sigma2_e4, theta_e4) with
    theta the major-axis orientation in radians from east, in (-pi/2, pi/2]."""
    q = points.select(
        F.col(group_col).alias("grp"),
        F.expr(portable.floor_scaled_sql(lon_col, 3)).alias("xq"),
        F.expr(portable.floor_scaled_sql(lat_col, 3)).alias("yq"),
    )
    m = q.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).cast("long").alias("syy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
    )
    # covariance*n^2 moments in e6 deg^2 fixed point (exact bigints)
    vxx = "cast(n * sxx - sx * sx as double)"
    vyy = "cast(n * syy - sy * sy as double)"
    vxy = "cast(n * sxy - sx * sy as double)"
    tr = f"(({vxx}) + ({vyy}))"
    dif = f"(({vxx}) - ({vyy}))"
    disc = f"sqrt(({dif}) * ({dif}) + cast(4 as double) * ({vxy}) * ({vxy}))"
    scale = "(cast(n as double) * cast(n as double) * 1e6)"  # -> deg^2
    lam1 = f"((({tr}) + ({disc})) / (cast(2 as double) * {scale}))"
    lam2 = f"((({tr}) - ({disc})) / (cast(2 as double) * {scale}))"
    theta = f"(cast(0.5 as double) * atan2(cast(2 as double) * ({vxy}), {dif}))"
    return m.select(
        F.col("grp").alias(group_col),
        "n",
        F.expr(portable.floor_scaled_sql("cast(sx as double) * 10.0 / cast(n as double)", 0)).alias("mx_e4"),
        F.expr(portable.floor_scaled_sql("cast(sy as double) * 10.0 / cast(n as double)", 0)).alias("my_e4"),
        F.expr(portable.floor_scaled_sql(f"sqrt({lam1})", 4)).alias("sigma1_e4"),
        F.expr(portable.floor_scaled_sql(f"sqrt(greatest({lam2}, cast(0 as double)))", 4)).alias("sigma2_e4"),
        F.expr(portable.floor_scaled_sql(theta, 4)).alias("theta_e4"),
    )


def mann_kendall(
    values: DataFrame,
    n_buckets: int,
    key_col: str = "cell",
    bucket_col: str = "b",
    value_col: str = "x",
) -> DataFrame:
    """Per-key Mann–Kendall trend test over a regular time-bucket series —
    the statistic behind "emerging hot spot" analysis (ESRI space-time
    cube role): S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected
    variance, classifying each key as increasing / decreasing / no trend.

    ``values`` holds (key, bucket, x) with MISSING buckets meaning x = 0;
    the operator densifies each key onto buckets 0..n_buckets−1 with an
    in-plan sequence explode (never a driver loop). The pairwise sweep is
    a per-key self-join producing exactly C(n_buckets, 2) rows per key —
    n_buckets is a small constant (weeks/months), so the blowup is a
    bounded constant factor on the KEY table, not a quadratic anywhere.

    Determinism: S and the ×18-scaled tie-corrected variance
    var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are exact integers; z derives
    from the two by one shared expression (z = 0 for S = 0 and for the
    all-tied var18 = 0 series). Returns
    (key, s_stat, var18, z_e4, trend)."""
    n = n_buckets
    grid = (
        values.select(key_col).distinct()
        .select(F.col(key_col), F.explode(F.expr(f"sequence(0, {n - 1})")).alias("_b"))
    )
    x = values.select(
        F.col(key_col),
        F.col(bucket_col).alias("_b"),
        F.col(value_col).cast("long").alias("_x"),
    )
    dense = grid.join(x, [key_col, "_b"], "left").select(
        key_col, "_b", F.coalesce("_x", F.lit(0)).alias("_x")
    )
    rhs = dense.select(
        F.col(key_col), F.col("_b").alias("_bj"), F.col("_x").alias("_xj")
    )
    s = (
        dense.join(rhs, key_col)
        .where(F.col("_b") < F.col("_bj"))
        .groupBy(key_col)
        .agg(F.sum(F.signum(F.col("_xj") - F.col("_x")).cast("long")).alias("s_stat"))
    )
    ties = (
        dense.groupBy(key_col, "_x")
        .agg(F.count("*").cast("long").alias("_t"))
        .groupBy(key_col)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).cast("long").alias("_tie")
        )
    )
    base = n * (n - 1) * (2 * n + 5)
    z = (
        "CASE WHEN s_stat = 0 OR var18 = 0 THEN cast(0 as double) "
        "ELSE cast(s_stat - (CASE WHEN s_stat > 0 THEN 1 ELSE -1 END) as double) "
        f"* sqrt(cast(18 as double)) / sqrt(cast(var18 as double)) END"
    )
    out = (
        s.join(ties, key_col)
        .select(
            key_col,
            "s_stat",
            (F.lit(base) - F.col("_tie")).cast("long").alias("var18"),
        )
        .withColumn("z_e4", F.expr(portable.floor_scaled_sql(z, 4)))
    )
    return out.withColumn(
        "trend",
        F.expr(
            "CASE WHEN z_e4 >= 19600 THEN 'increasing' "
            "WHEN z_e4 <= -19600 THEN 'decreasing' ELSE 'no trend' END"
        ),
    )


def median_center(
    points: DataFrame,
    group_col: str,
    iters: int = 3,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Geometric median center per group (Weiszfeld iteration) — the
    robust centrographic companion of :func:`std_ellipse` (ArcGIS
    MedianCenter role): the point minimizing the sum of distances to the
    group's members, degree-space planar like the ellipse.

    Iterative-determinism contract (the PageRank lesson): each round's
    update m ← Σ(pᵢ/dᵢ)/Σ(1/dᵢ) quantizes the per-point weights to e4
    integers BEFORE the distributed sums (order-independent bigints), the
    new center is one IEEE division of two bigints, and the center
    re-quantizes to e6 between rounds — so every round is bit-identical
    under any partitioning and replayable as chained oracle CTEs.
    Zero-distance points (pᵢ exactly at the current estimate) are
    excluded from the round per standard Weiszfeld practice; a group
    whose points ALL sit on the estimate keeps it (coalesce).

    Per round: one broadcast join (the center table is one row per
    group) + one combinable agg. Returns (group, n, mx_e6, my_e6)."""
    q = points.select(
        F.col(group_col).alias("grp"),
        F.expr(portable.floor_scaled_sql(lon_col, 6)).alias("xq"),
        F.expr(portable.floor_scaled_sql(lat_col, 6)).alias("yq"),
    )
    # start: e6-quantized mean center (exact bigint sums)
    centers = q.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            portable.floor_scaled_sql("cast(sum(xq) as double) / cast(count(*) as double)", 0)
        ).alias("mxq"),
        F.expr(
            portable.floor_scaled_sql("cast(sum(yq) as double) / cast(count(*) as double)", 0)
        ).alias("myq"),
    )
    for _ in range(iters):
        j = q.join(F.broadcast(centers), "grp")
        d = (
            "sqrt(pow(cast(xq - mxq as double) / cast(1000000 as double), 2)"
            " + pow(cast(yq - myq as double) / cast(1000000 as double), 2))"
        )
        px = "cast(xq as double) / cast(1000000 as double)"
        py = "cast(yq as double) / cast(1000000 as double)"
        terms = j.select(
            "grp",
            F.expr(
                f"CASE WHEN ({d}) > 0 THEN {portable.floor_scaled_sql(f'cast(1 as double) / ({d})', 4)} END"
            ).alias("w_q"),
            F.expr(
                f"CASE WHEN ({d}) > 0 THEN {portable.floor_scaled_sql(f'({px}) / ({d})', 4)} END"
            ).alias("wx_q"),
            F.expr(
                f"CASE WHEN ({d}) > 0 THEN {portable.floor_scaled_sql(f'({py}) / ({d})', 4)} END"
            ).alias("wy_q"),
        )
        upd = terms.groupBy("grp").agg(
            F.sum("w_q").cast("long").alias("_sw"),
            F.sum("wx_q").cast("long").alias("_swx"),
            F.sum("wy_q").cast("long").alias("_swy"),
        )
        centers = (
            centers.join(upd, "grp", "left")
            .select(
                "grp",
                "n",
                F.coalesce(
                    F.expr(
                        portable.floor_scaled_sql(
                            "cast(_swx as double) / cast(_sw as double) * cast(1000000 as double)", 0
                        )
                    ),
                    F.col("mxq"),
                ).alias("mxq"),
                F.coalesce(
                    F.expr(
                        portable.floor_scaled_sql(
                            "cast(_swy as double) / cast(_sw as double) * cast(1000000 as double)", 0
                        )
                    ),
                    F.col("myq"),
                ).alias("myq"),
            )
        )
    return centers.select(
        F.col("grp").alias(group_col),
        "n",
        F.col("mxq").alias("mx_e6"),
        F.col("myq").alias("my_e6"),
    )


def quadrat_test(
    points: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Quadrat-count test of complete spatial randomness: chi² dispersion
    index over the full res-grid (all 4^res quadrats, EMPTY ones
    included — omitting them is the classic quadrat-analysis mistake) and
    the variance-mean ratio. Exact-integer identities make both one IEEE
    division of bigints: with m quadrats and n points,
    chi² = (m·ΣO² − n²)/n and VMR = chi²/(m−1).

    One cell assignment + one combinable agg; the occupied-cell table is
    4^res-bounded. Returns (m_quadrats, n_points, sum_sq, chi2_e6,
    vmr_e6)."""
    m = (1 << res) * (1 << res)
    cells = points.select(
        F.expr(portable.cell_id_sql(lat_col, lon_col, res)).alias("cell")
    ).groupBy("cell").agg(F.count("*").cast("long").alias("o"))
    agg = cells.agg(
        F.count("*").cast("long").alias("_occ"),
        F.sum("o").cast("long").alias("n_points"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("sum_sq"),
    )
    chi2 = f"cast({m} * sum_sq - n_points * n_points as double) / cast(n_points as double)"
    return agg.select(
        F.lit(m).cast("long").alias("m_quadrats"),
        "n_points",
        "sum_sq",
        F.expr(portable.floor_scaled_sql(chi2, 6)).alias("chi2_e6"),
        F.expr(
            portable.floor_scaled_sql(f"({chi2}) / cast({m - 1} as double)", 6)
        ).alias("vmr_e6"),
    )


def emerging_hotspots(
    values: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    cell_col: str = "cell",
    bucket_col: str = "b",
    value_col: str = "x",
) -> DataFrame:
    """Emerging-hot-spot analysis (the ESRI space-time-cube composite):
    Getis-Ord G*ᵢ per time bucket over the densified (cell × bucket)
    grid, then a Mann-Kendall trend on each cell's G* z-SERIES, combined
    into a category (intensifying/emerging × hot/cold).

    Determinism: every distributed sum is integer-exact (counts, and the
    binary-weight neighbor lags of counts), per-bucket scalars broadcast,
    G* z quantizes to e6 BEFORE the trend test (undefined G* — constant
    bucket — coalesces to the neutral 0, documented), and the MK stage
    inherits :func:`mann_kendall`'s exact integers. The hot/cold side
    comes from the exact bigint SUM of the quantized z-series (same sign
    as the mean, no integer division — Spark ``div`` truncates while
    DuckDB ``//`` floors on negatives). Plan: one densify join + one
    adjacency join + one (bucket) scalar agg + the MK sweep — all
    bounded by cells × buckets.

    Returns (cell, s_stat, var18, z_e4, trend, sum_gz_e6, category)."""
    n = n_buckets
    grid = (
        values.select(cell_col).distinct()
        .select(F.col(cell_col), F.explode(F.expr(f"sequence(0, {n - 1})")).alias("_b"))
    )
    x = values.select(
        F.col(cell_col), F.col(bucket_col).alias("_b"), F.col(value_col).cast("long").alias("_x")
    )
    dense = grid.join(x, [cell_col, "_b"], "left").select(
        cell_col, "_b", F.coalesce("_x", F.lit(0)).alias("_x")
    )
    scal = dense.groupBy("_b").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sx2"),
    )
    xj = dense.select(
        F.col(cell_col).alias("neighbor"), "_b", F.col("_x").alias("_xj")
    )
    nbr = (
        weights.join(xj, "neighbor")
        .groupBy(cell_col, "_b")
        .agg(
            F.sum("_xj").cast("long").alias("_nlag"),
            F.count("*").cast("long").alias("_nw"),
        )
    )
    z6 = (
        dense.join(nbr, [cell_col, "_b"], "left")
        .join(F.broadcast(scal), "_b")
        .select(
            cell_col,
            "_b",
            (F.col("_x") + F.coalesce(F.col("_nlag"), F.lit(0)).cast("double")).alias("lagv"),
            (F.lit(1.0) + F.coalesce(F.col("_nw"), F.lit(0)).cast("double")).alias("wi"),
            "_n", "_sx", "_sx2",
        )
        .select(
            cell_col,
            "_b",
            F.expr(portable.floor_scaled_sql(ehs_gz_sql(), 6)).alias("gz_e6"),
        )
    )
    mk = mann_kendall(z6, n, key_col=cell_col, bucket_col="_b", value_col="gz_e6")
    mg = z6.groupBy(cell_col).agg(F.sum("gz_e6").cast("long").alias("sum_gz_e6"))
    return mk.join(mg, cell_col).withColumn(
        "category", F.expr(ehs_category_sql())
    )


def ehs_gz_sql() -> str:
    """The shared (Spark == DuckDB) G*ᵢ z-score expression over columns
    ``lagv`` (x_i + Σ neighbor x, double), ``wi`` (1 + neighbor count,
    double) and the per-bucket scalars ``_n``/``_sx``/``_sx2`` (exact
    bigints): identical IEEE operation tree on exact-integer inputs ⇒
    bit-identical doubles cross-engine. Guarded NULL-free: undefined G*
    (singleton bucket, saturated Wᵢ, constant values) is the neutral 0."""
    mean = "(cast(_sx as double) / cast(_n as double))"
    s = f"sqrt(cast(_sx2 as double) / cast(_n as double) - ({mean}) * ({mean}))"
    den = f"(({s}) * sqrt((cast(_n as double) * wi - wi * wi) / (cast(_n as double) - 1)))"
    return (
        f"CASE WHEN _n > 1 AND wi < cast(_n as double) AND ({den}) > 0 "
        f"THEN (lagv - ({mean}) * wi) / ({den}) ELSE cast(0 as double) END"
    )


def ehs_category_sql() -> str:
    """ESRI-style composite label from the MK ``trend`` and the exact
    z-series sum — shared verbatim by the operator and the oracle."""
    return (
        "CASE WHEN trend = 'increasing' AND sum_gz_e6 > 0 THEN 'intensifying hot' "
        "WHEN trend = 'increasing' THEN 'emerging hot' "
        "WHEN trend = 'decreasing' AND sum_gz_e6 < 0 THEN 'intensifying cold' "
        "WHEN trend = 'decreasing' THEN 'emerging cold' "
        "ELSE 'no pattern' END"
    )


def knox_test(
    points: DataFrame,
    delta_d_m: float,
    delta_t_s: int,
    key_col: str = "pid",
    ts_us_col: str = "t_us",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Knox space-time interaction test (`[R] SURVEY.md §2.I
    AutocorrelationProcess` family — the epidemiology/crime-analysis
    companion of emerging-hotspots): over all unordered point pairs,
    count those close in space (haversine ≤ delta_d_m), close in time
    (|Δt| ≤ delta_t_s), and close in BOTH (the Knox statistic X), and
    compare X against its expectation under the permutation null
    ns·nt/C(n,2) — X/E > 1 means events cluster in space *and* time
    together (outbreaks), not merely in each margin.

    Scale shape (10^12 events): space pairs come from the distributed
    cell-cover near join (cell equi-join, never all-pairs); time pairs
    from a Δt-width bucket join covering buckets {b−1, b, b+1} (each
    true pair appears in exactly the cover its ends span — cost is
    proportional to the real time-pair density, no global sort, no
    single-partition window); X filters the already-materialized space
    pairs by one bigint comparison. Three combinable count aggregates,
    one broadcast-sized scalar combine.

    Engine-determinism: timestamps are exact epoch micros, all counts
    exact bigints, and the expectation/ratio derive by composed exact
    bigint floor-divisions (division-first composition keeps every
    intermediate < 2^63; the composed floor is the documented semantic —
    both engines evaluate the identical expression text). Returns ONE row
    (n, ns, nt, x_obs, expected_e6, ratio_e6) — counts of UNORDERED
    pairs; ratio_e6 is NULL when the expectation is zero."""
    from gaia_spark.operators.knn import near_join_cells

    dt_us = int(delta_t_s) * 1_000_000
    pts = points.select(
        F.col(key_col).alias("pid"),
        F.col(ts_us_col).cast("long").alias("t_us"),
        lat,
        lon,
    )
    sites = pts.select(
        F.col("pid").alias("site_id"), "lat", "lon"
    )
    tvals = pts.select(F.col("pid").alias("site_id"), F.col("t_us").alias("t2"))
    sp = (
        near_join_cells(
            pts, sites, float(delta_d_m), point_key="pid", site_key="site_id"
        )
        .where(F.col("pid") != F.col("site_id"))
        .join(tvals, "site_id")
    )
    space_agg = sp.agg(
        F.count("*").cast("long").alias("ns2"),
        F.sum(
            F.when(F.abs(F.col("t_us") - F.col("t2")) <= dt_us, 1).otherwise(0)
        ).cast("long").alias("x2"),
    )
    b0 = F.floor(F.col("t_us") / dt_us).cast("long")
    a = pts.select(
        F.col("pid").alias("_pa"),
        F.col("t_us").alias("_ta"),
        F.explode(F.sequence(b0 - 1, b0 + 1)).alias("_b"),
    )
    b = pts.select(
        F.col("pid").alias("_pb"),
        F.col("t_us").alias("_tb"),
        F.floor(F.col("t_us") / dt_us).cast("long").alias("_b"),
    )
    time_agg = (
        a.join(b, "_b")
        .where(
            (F.col("_pa") != F.col("_pb"))
            & (F.abs(F.col("_ta") - F.col("_tb")) <= dt_us)
        )
        .agg(F.count("*").cast("long").alias("nt2"))
    )
    n_agg = pts.agg(F.count("*").cast("long").alias("n"))
    d = portable.SPARK
    e1 = portable.bigint_div("ns2 * 1000000", "n * (n - 1)", d)
    expected = portable.bigint_div(f"({e1}) * nt2", "2", d)
    ratio = portable.bigint_div("x2 * 500000000000", "expected_e6", d)
    return (
        space_agg.crossJoin(F.broadcast(time_agg))
        .crossJoin(F.broadcast(n_agg))
        .select(
            "n",
            F.expr(f"{portable.bigint_div('ns2', '2', d)}").alias("ns"),
            F.expr(f"{portable.bigint_div('nt2', '2', d)}").alias("nt"),
            F.expr(f"{portable.bigint_div('x2', '2', d)}").alias("x_obs"),
            F.expr(f"CASE WHEN n > 1 THEN {expected} ELSE NULL END").alias(
                "expected_e6"
            ),
            "ns2", "nt2", "x2",
        )
        .select(
            "n", "ns", "nt", "x_obs", "expected_e6",
            F.when(F.col("expected_e6") > 0, F.expr(ratio))
            .cast("long")
            .alias("ratio_e6"),
        )
    )


def morans_i_bivariate(
    values: DataFrame,
    weights: DataFrame,
    cell_col: str = "cell",
    x_col: str = "x_int",
    y_col: str = "y_int",
) -> DataFrame:
    """Global bivariate Moran's I (GeoDa's I_xy; `[R] SURVEY.md §2.I
    AutocorrelationProcess` family): spatial cross-correlation between
    variable x at a cell and variable y at its NEIGHBORS —
    I_xy = Σ w_ij·z_x,i·z_y,j / (S0 · sd_x · sd_y), the lead indicator
    for "does density here predict quality next door".

    Both value columns must be INTEGER-valued (e.g. per-cell counts).
    Like :func:`gearys_c`, no float mean enters a distributed sum: the
    centered numerator expands by the moment identity
    n²·Σw z_x,i z_y,j = n²·Σw x_i y_j − n·Sx·Σw y_j − n·Sy·Σw x_i
    + S0·Sx·Sy (exact bigint), the variance terms use n·Σ(v−v̄)² =
    n·Σv² − Sv² (exact bigint), and I_xy = NUM / (S0·sqrt(Dx·Dy))
    is ONE IEEE expression over exact integers — bit-identical under any
    partitioning or engine. Plan: one adjacency self-join + two
    combinable aggregations. Returns (n_cells, n_links, moran_bv_e6)."""
    v = values.select(
        F.col(cell_col),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    vj = v.select(
        F.col(cell_col).alias("neighbor"), F.col("y").alias("y_j")
    )
    link = (
        weights.join(v.withColumnRenamed("x", "x_i"), cell_col)
        .join(vj, "neighbor")
        .agg(
            F.sum(F.col("x_i") * F.col("y_j")).cast("long").alias("_sxy"),
            F.sum("x_i").cast("long").alias("_swx"),
            F.sum("y_j").cast("long").alias("_swy"),
            F.count("*").cast("long").alias("n_links"),
        )
    )
    mom = v.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("_syy"),
    )
    num = (
        "(n_cells * n_cells * _sxy - n_cells * _sx * _swy"
        " - n_cells * _sy * _swx + n_links * _sx * _sy)"
    )
    dx = "(n_cells * _sxx - _sx * _sx)"
    dy = "(n_cells * _syy - _sy * _sy)"
    ratio = (
        f"cast({num} as double) / "
        f"(cast(n_links as double) * sqrt(cast({dx} as double) * cast({dy} as double)))"
    )
    return link.crossJoin(mom).select(
        "n_cells",
        "n_links",
        F.expr(
            f"CASE WHEN n_links > 0 AND {dx} > 0 AND {dy} > 0 THEN "
            f"{portable.floor_scaled_sql(ratio, 6)} ELSE NULL END"
        ).alias("moran_bv_e6"),
    )


def theil_sen(
    values: DataFrame,
    n_buckets: int,
    key_col: str = "cell",
    bucket_col: str = "b",
    value_col: str = "x",
) -> DataFrame:
    """Per-key Theil–Sen trend slope over a regular time-bucket series —
    the robust (median-of-pairwise-slopes) companion of
    :func:`mann_kendall`: MK answers "is there a trend", Theil–Sen
    answers "how steep", immune to outlier buckets.

    Same densified pairwise sweep as MK (missing buckets = 0; exactly
    C(n_buckets, 2) rows per key, a bounded constant factor on the key
    table). Exactness: bucket gaps are integers in 1..n_buckets−1, so
    every slope (x_j−x_i)/(j−i) scales to an EXACT bigint by
    L = lcm(1..n_buckets−1); the median is exact integer selection on the
    scaled slopes (row_number ranks — ties are interchangeable equal
    values, so both middle VALUES are partitioning-independent), and the
    reported slope derives by one exact floor division. Returns
    (key, n_pairs, med2_scaled, slope_e6) where med2_scaled = lower +
    upper middle of the L-scaled slopes and slope_e6 =
    floor(med2·10⁶ / (2L)) in value-units per bucket."""
    import math

    n = n_buckets
    lcm = math.lcm(*range(1, n))
    grid = (
        values.select(key_col).distinct()
        .select(F.col(key_col), F.explode(F.expr(f"sequence(0, {n - 1})")).alias("_b"))
    )
    x = values.select(
        F.col(key_col),
        F.col(bucket_col).cast("long").alias("_b"),
        F.col(value_col).cast("long").alias("_x"),
    )
    dense = grid.join(x, [key_col, "_b"], "left").select(
        key_col, "_b", F.coalesce("_x", F.lit(0)).cast("long").alias("_x")
    )
    a = dense.select(key_col, F.col("_b").alias("_i"), F.col("_x").alias("_xi"))
    bb = dense.select(key_col, F.col("_b").alias("_j"), F.col("_x").alias("_xj"))
    slopes = (
        a.join(bb, key_col)
        .where(F.col("_j") > F.col("_i"))
        .select(
            key_col,
            (
                (F.col("_xj") - F.col("_xi"))
                * F.expr(f"{lcm} div (_j - _i)")
            ).cast("long").alias("_s"),
        )
    )
    m = n * (n - 1) // 2
    lo, hi = (m + 1) // 2, m // 2 + 1
    w = Window.partitionBy(key_col).orderBy(F.col("_s").asc())
    ranked = slopes.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.where(F.col("_rk").isin(lo, hi))
        .groupBy(key_col)
        .agg(
            F.lit(m).cast("long").alias("n_pairs"),
            # lo == hi for odd m: count the single middle twice
            F.when(F.lit(lo == hi), F.sum("_s") * 2)
            .otherwise(F.sum("_s"))
            .cast("long")
            .alias("med2_scaled"),
        )
        .select(
            key_col,
            "n_pairs",
            "med2_scaled",
            # bigint_div floors only for non-negative numerators; offset by
            # K·2L (K = 10^13 covers per-bucket |x| up to ~10^6 without
            # overflowing int64) so negative slopes floor identically
            # cross-engine
            F.expr(
                theil_sen_slope_sql("med2_scaled", lcm, portable.SPARK)
            ).alias("slope_e6"),
        )
    )


def theil_sen_slope_sql(med2: str, lcm: int, dialect: str) -> str:
    """slope_e6 = floor(med2·10⁶ / (2·lcm)) for possibly-NEGATIVE med2 —
    shared verbatim with the oracle (offset floor-division)."""
    k = 10_000_000_000_000
    return (
        f"({portable.bigint_div(f'({med2}) * 1000000 + {k} * {2 * lcm}', str(2 * lcm), dialect)}"
        f" - {k})"
    )
