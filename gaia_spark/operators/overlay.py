"""Line–line intersection overlay: all crossing points between two
polyline layers — the vector OVERLAY primitive (`[R] SURVEY.md §2.C
IntersectsProcess` for line layers, materializing the intersection
GEOMETRY, not just the predicate): road/river crossings, route conflict
detection, network noding.

Scale shape (100 TB): segments explode from chains IN-PLAN (zip_with
over consecutive vertices), each segment scatters onto the grid cells of
its exact bbox (sequence/explode, no pad), and the ONLY shuffle is the
cell equi-join between the two covers. Pair de-duplication across shared
cells is ownership-based and exact: a candidate pair is emitted only by
the single cell that CONTAINS the computed intersection point (which lies
in both segments' bboxes, hence in both covers) — no distinct pass.

Geometry model: planar degree-space segment intersection (the engine's
documented vertex-ops convention, same as snap/feature predicates);
collinear overlapping segments have no transversal crossing point and are
deliberately not reported (d == 0). Segments are assumed not to straddle
the antimeridian (vertices in [-180, 180], bbox taken literally).

Engine-determinism: one shared closed-form SQL string for d/t/u and the
intersection point, evaluated verbatim by the DuckDB oracle — identical
IEEE doubles, outputs quantized e6/e9."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable as P
from gaia_spark.operators.spatial_join import edges_sql

# --- shared intersection formulas (evaluated verbatim by the oracle) ---------


def seg_d_sql(y1: str, x1: str, y2: str, x2: str, y3: str, x3: str, y4: str, x4: str) -> str:
    """Cross-product denominator; 0 iff the segments are parallel."""
    return f"(({x2} - {x1}) * ({y4} - {y3}) - ({y2} - {y1}) * ({x4} - {x3}))"


def seg_tn_sql(y1: str, x1: str, x3: str, y3: str, y4: str, x4: str) -> str:
    return f"(({x3} - {x1}) * ({y4} - {y3}) - ({y3} - {y1}) * ({x4} - {x3}))"


def seg_un_sql(y1: str, x1: str, y2: str, x2: str, y3: str, x3: str) -> str:
    return f"(({x3} - {x1}) * ({y2} - {y1}) - ({y3} - {y1}) * ({x2} - {x1}))"


def seg_point_sql(t: str, y1: str, x1: str, y2: str, x2: str) -> tuple[str, str]:
    """(lat, lon) at parameter ``t`` along segment 1 — snap_point_sql twin."""
    return (f"({y1} + {t} * ({y2} - {y1}))", f"({x1} + {t} * ({x2} - {x1}))")


def chain_segments(
    lines: DataFrame, line_key: str, vertices_col: str = "vertices"
) -> DataFrame:
    """Explode a vertex-array chain layer to (line_key, seg_idx, s{y1,x1,y2,x2})."""
    return lines.select(
        F.col(line_key),
        F.posexplode(F.expr(edges_sql(vertices_col))).alias("seg_idx", "s"),
    )


def _bbox_cover(segs: DataFrame, keys: list[str], res: int) -> DataFrame:
    """Exact-bbox cell cover of each segment (same floor family as
    portable.cell_id_sql, so the cell of any point ON the segment is
    guaranteed covered)."""
    n = 1 << res
    cell_h, cell_w = 180.0 / n, 360.0 / n
    b = segs.select(
        *keys,
        "s",
        F.least(F.expr("s.y1"), F.expr("s.y2")).alias("_la0"),
        F.greatest(F.expr("s.y1"), F.expr("s.y2")).alias("_la1"),
        F.least(F.expr("s.x1"), F.expr("s.x2")).alias("_lo0"),
        F.greatest(F.expr("s.x1"), F.expr("s.x2")).alias("_lo1"),
    )
    clamp = lambda col: F.least(F.lit(n - 1), F.greatest(F.lit(0), col))  # noqa: E731
    b = (
        b.withColumn("_y0", clamp(F.floor((F.lit(90.0) - F.col("_la1")) / F.lit(cell_h)).cast("long")))
        .withColumn("_y1", clamp(F.floor((F.lit(90.0) - F.col("_la0")) / F.lit(cell_h)).cast("long")))
        .withColumn("_x0", clamp(F.floor((F.col("_lo0") + F.lit(180.0)) / F.lit(cell_w)).cast("long")))
        .withColumn("_x1", clamp(F.floor((F.col("_lo1") + F.lit(180.0)) / F.lit(cell_w)).cast("long")))
    )
    return (
        b.withColumn("_yy", F.explode(F.expr("sequence(_y0, _y1)")))
        .withColumn("_xx", F.explode(F.expr("sequence(_x0, _x1)")))
        .select(*keys, "s", (F.col("_yy") * n + F.col("_xx")).alias("cell"))
    )


def line_intersections(
    lines_a: DataFrame,
    lines_b: DataFrame,
    res: int = 5,
    key_a: str = "line_a",
    key_b: str = "line_b",
    vertices_col: str = "vertices",
) -> DataFrame:
    """All transversal intersection points between two chain layers.
    Returns (key_a, seg_a, key_b, seg_b, t_e6, u_e6, lat_e6, lon_e6) —
    one row per crossing segment pair."""
    for k in ("cell", "s", "seg_idx"):
        for df, nm in ((lines_a, key_a), (lines_b, key_b)):
            if k in df.columns:
                raise ValueError(f"reserved column {k!r} present in {nm} layer")
    ca = _bbox_cover(chain_segments(lines_a, key_a), [key_a, "seg_idx"], res).select(
        key_a, F.col("seg_idx").alias("seg_a"), F.col("s").alias("sa"), "cell"
    )
    cb = _bbox_cover(chain_segments(lines_b, key_b), [key_b, "seg_idx"], res).select(
        key_b, F.col("seg_idx").alias("seg_b"), F.col("s").alias("sb"), "cell"
    )
    a = ["sa.y1", "sa.x1", "sa.y2", "sa.x2"]
    bq = ["sb.y1", "sb.x1", "sb.y2", "sb.x2"]
    d = seg_d_sql(*a, *bq)
    tn = seg_tn_sql(a[0], a[1], bq[1], bq[0], bq[2], bq[3])
    un = seg_un_sql(a[0], a[1], a[2], a[3], bq[0], bq[1])
    iy, ix = seg_point_sql("_t", *a)
    cand = (
        ca.join(cb, "cell")
        .withColumn("_d", F.expr(d))
        .where(F.col("_d") != 0)
        .withColumn("_t", F.expr(tn) / F.col("_d"))
        .withColumn("_u", F.expr(un) / F.col("_d"))
        .where((F.col("_t") >= 0) & (F.col("_t") <= 1) & (F.col("_u") >= 0) & (F.col("_u") <= 1))
        .withColumn("_iy", F.expr(iy))
        .withColumn("_ix", F.expr(ix))
        # ownership dedup: only the cell containing the crossing point reports
        .where(F.expr(P.cell_id_sql("_iy", "_ix", res)) == F.col("cell"))
    )
    return cand.select(
        key_a,
        "seg_a",
        key_b,
        "seg_b",
        F.expr(P.floor_scaled_sql("_t", 6)).alias("t_e6"),
        F.expr(P.floor_scaled_sql("_u", 6)).alias("u_e6"),
        F.expr(P.floor_scaled_sql("_iy", 6)).alias("lat_e6"),
        F.expr(P.floor_scaled_sql("_ix", 6)).alias("lon_e6"),
    )


def network_topology(
    lines_a: DataFrame,
    lines_b: DataFrame,
    res: int = 5,
    line_key: str = "line_id",
    vertices_col: str = "vertices",
) -> tuple[DataFrame, DataFrame]:
    """Planarize a line layer into a node-edge network: split every
    segment at its transversal crossings, then census the topology.

    ``lines_a``/``lines_b`` must be two INDEPENDENTLY CONSTRUCTED
    DataFrames of the same layer (fresh plans, so the crossing self-join
    passes Spark's ambiguity check — the caller rebuilds its source twice,
    which costs one extra scan and zero shuffles).

    Returns ``(edges, nodes)``:
      edges — (line_id, seg_idx, t0_e6, t1_e6, len_m_e0) one row per
        planar edge between consecutive cut points along a segment;
      nodes — (lat_e6, lon_e6, degree) with degree = incident edge-ends.

    The GIS noding/polygonize-input step (``[R] SURVEY.md §2.C overlay``
    family). Scale shape: crossings come from the cell-bucketed
    line_intersections (never all-pairs); cut points per segment are
    bounded by its crossing count; the only added shuffles are the
    per-segment cut window and the node-degree groupBy. Everything is
    e6-quantized before any grouping, so node identity is exact."""
    xs = line_intersections(
        lines_a.withColumnRenamed(line_key, "_na"),
        lines_b.withColumnRenamed(line_key, "_nb"),
        res=res, key_a="_na", key_b="_nb", vertices_col=vertices_col,
    ).filter(F.col("_na") < F.col("_nb"))
    cuts_a = xs.select(
        F.col("_na").alias(line_key), F.col("seg_a").alias("seg_idx"),
        F.col("t_e6").alias("t"), "lat_e6", "lon_e6",
    )
    cuts_b = xs.select(
        F.col("_nb").alias(line_key), F.col("seg_b").alias("seg_idx"),
        F.col("u_e6").alias("t"), "lat_e6", "lon_e6",
    )
    segs = chain_segments(
        lines_a.withColumnRenamed(line_key, "_nk"), "_nk", vertices_col
    )
    ends = segs.select(
        F.col("_nk").alias(line_key),
        "seg_idx",
        F.explode(
            F.expr(
                "array(struct(cast(0 as bigint) AS t, "
                f"{P.floor_scaled_sql('s.y1', 6)} AS lat_e6, "
                f"{P.floor_scaled_sql('s.x1', 6)} AS lon_e6), "
                "struct(cast(1000000 as bigint) AS t, "
                f"{P.floor_scaled_sql('s.y2', 6)} AS lat_e6, "
                f"{P.floor_scaled_sql('s.x2', 6)} AS lon_e6))"
            )
        ).alias("_e"),
    ).select(line_key, "seg_idx", "_e.t", "_e.lat_e6", "_e.lon_e6")
    cuts = cuts_a.unionByName(cuts_b).unionByName(ends).distinct()

    w = Window.partitionBy(line_key, "seg_idx").orderBy("t")
    nxt = (
        cuts.withColumn("_nt", F.lead("t").over(w))
        .withColumn("_nlat", F.lead("lat_e6").over(w))
        .withColumn("_nlon", F.lead("lon_e6").over(w))
        .filter(F.col("_nt").isNotNull())
    )
    hav = P.haversine_m_sql(
        "(cast(lat_e6 as double) / cast(1000000 as double))",
        "(cast(lon_e6 as double) / cast(1000000 as double))",
        "(cast(_nlat as double) / cast(1000000 as double))",
        "(cast(_nlon as double) / cast(1000000 as double))",
    )
    edges = nxt.select(
        line_key,
        "seg_idx",
        F.col("t").alias("t0_e6"),
        F.col("_nt").alias("t1_e6"),
        F.expr(P.floor_scaled_sql(hav, 0)).alias("len_m_e0"),
        "lat_e6", "lon_e6",
        F.col("_nlat").alias("lat2_e6"), F.col("_nlon").alias("lon2_e6"),
    )
    incid = edges.select("lat_e6", "lon_e6").unionAll(
        edges.select(
            F.col("lat2_e6").alias("lat_e6"), F.col("lon2_e6").alias("lon_e6")
        )
    )
    nodes = incid.groupBy("lat_e6", "lon_e6").agg(
        F.count("*").cast("long").alias("degree")
    )
    return (
        edges.select(line_key, "seg_idx", "t0_e6", "t1_e6", "len_m_e0"),
        nodes,
    )
