"""Polygon dissolve — GIS union-by-attribute via interior-edge cancellation.

Role: the reference's dissolve/union family (`[R] SURVEY.md §2.F set ops` +
`§2.E geometry derivation`): merge every feature sharing a group key into
one (multi)polygon and report its area, outer-boundary length, and number
of disjoint parts — without ever materializing the union geometry.

The classic identity: in a planar partition, an edge shared by two
features of the same group is interior and cancels; an edge used once is
the dissolved outline. So dissolve = explode edges → canonicalize
(undirected) → count per (group, edge) → keep count==1. This is exact
whenever shared boundaries match vertex-for-vertex (meshes, admin
partitions, grid quadrats — the planar-partition precondition,
documented), and it never runs a geometric union.

Scale shape (100 TB): edges explode IN-PLAN (zip_with over the ring, one
Generate), the only shuffles are a hash agg on (group, edge-key) — whose
cardinality is total edge count, map-side combinable — and the per-group
rollup. Areas/lengths are quantized to fixed-point PER FEATURE/EDGE before
summing, so group sums are integer math: order-independent, hence
identical across partitionings and engines (a raw double sum would make
the hash check flaky). Part counting reuses min-label pointer-doubling
components over the shared-edge adjacency graph (O(log diameter) rounds).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable as P
from gaia_spark.operators.scalar_geo import ring_area_sphere_m2_sql


def _edge_structs_sql(vertices: str) -> str:
    """Consecutive vertex pairs of the closed ring as structs (JVM)."""
    return (
        f"zip_with(slice({vertices}, 1, size({vertices}) - 1), "
        f"slice({vertices}, 2, size({vertices}) - 1), "
        "(a, b) -> struct(a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2))"
    )


def _canonical_edges(
    feats: DataFrame, group_col: str, id_col: str, vertices_col: str
) -> DataFrame:
    """One row per ring edge with an undirected e9-quantized endpoint key
    (lexicographic endpoint order) and the edge length in fixed-point mm
    (e3) — integers from here on, so all downstream sums are exact."""
    e = feats.select(
        group_col, id_col, F.explode(F.expr(_edge_structs_sql(vertices_col))).alias("e")
    )
    q = lambda x: P.floor_scaled_sql(x, 9)  # noqa: E731
    swap = (
        "(e.lat1 < e.lat2) OR (e.lat1 = e.lat2 AND e.lon1 <= e.lon2)"
    )
    return e.select(
        group_col,
        id_col,
        F.expr(f"CASE WHEN {swap} THEN {q('e.lat1')} ELSE {q('e.lat2')} END").alias("ka"),
        F.expr(f"CASE WHEN {swap} THEN {q('e.lon1')} ELSE {q('e.lon2')} END").alias("ko"),
        F.expr(f"CASE WHEN {swap} THEN {q('e.lat2')} ELSE {q('e.lat1')} END").alias("kb"),
        F.expr(f"CASE WHEN {swap} THEN {q('e.lon2')} ELSE {q('e.lon1')} END").alias("kp"),
        F.expr(
            P.floor_scaled_sql(P.haversine_m_sql("e.lat1", "e.lon1", "e.lat2", "e.lon2"), 3)
        ).alias("len_e3"),
    )


def dissolve_rings(
    feats: DataFrame,
    group_col: str = "group_id",
    id_col: str = "feature_id",
    vertices_col: str = "vertices",
    area_scale: int = 3,
) -> DataFrame:
    """Dissolve ring features by ``group_col``. Returns one row per group:
    (group_col, n_features, area_m2_eK, boundary_m_e3) where area is the
    spherical-shoelace sum of member rings (additive under partition,
    fixed-point at 10^-area_scale per feature before the integer sum) and
    boundary is the total length of edges used exactly once in the group."""
    area_q = P.floor_scaled_sql(ring_area_sphere_m2_sql(vertices_col), area_scale)
    areas = feats.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_features"),
        F.sum(F.expr(area_q)).cast("long").alias(f"area_m2_e{area_scale}"),
    )
    ek = (
        _canonical_edges(feats, group_col, id_col, vertices_col)
        .groupBy(group_col, "ka", "ko", "kb", "kp")
        .agg(F.count("*").alias("cnt"), F.min("len_e3").alias("len_e3"))
    )
    outline = ek.where("cnt = 1").groupBy(group_col).agg(
        F.sum("len_e3").cast("long").alias("boundary_m_e3")
    )
    return areas.join(outline, group_col, "left").select(
        group_col,
        "n_features",
        f"area_m2_e{area_scale}",
        F.coalesce("boundary_m_e3", F.lit(0)).cast("long").alias("boundary_m_e3"),
    )


def dissolve_parts(
    feats: DataFrame,
    group_col: str = "group_id",
    id_col: str = "feature_id",
    vertices_col: str = "vertices",
) -> DataFrame:
    """Disjoint-part count of each dissolved group: features sharing an
    edge (within the group) are connected; parts = connected components of
    that graph, via the pointer-doubling min-label propagation. Returns
    (group_col, n_parts)."""
    from gaia_spark.operators.stats import min_label_components

    ce = _canonical_edges(feats, group_col, id_col, vertices_col)
    shared = (
        ce.groupBy(group_col, "ka", "ko", "kb", "kp")
        .agg(F.min(id_col).alias("a"), F.max(id_col).alias("b"), F.count("*").alias("cnt"))
        .where("cnt = 2 AND a != b")
    )
    sym = shared.select(F.col("a").alias("cell"), F.col("b").alias("neighbor")).unionAll(
        shared.select(F.col("b").alias("cell"), F.col("a").alias("neighbor"))
    )
    nodes = feats.select(F.col(id_col).alias("cell"), F.col(group_col)).distinct()
    labels = min_label_components(nodes.select("cell"), sym)
    return (
        nodes.join(labels, "cell")
        .groupBy(group_col)
        .agg(F.countDistinct("label").cast("long").alias("n_parts"))
    )
