"""Deterministic k-means document clustering over embedding columns.

The training-data-curation clustering step (corpus domain discovery,
cluster-balanced sampling, SemDeDup-style cluster-then-dedup): Lloyd's
algorithm made ENGINE-DETERMINISTIC so the full iteration is value-hash
oracle-checkable, unlike the `pyspark.ml` KMeans behind
:func:`gaia_spark.operators.simsearch.ivf_index` (seeded sampling +
float-sum centroids — rows-only checkable).

Determinism contract (the pagerank/median_center pattern):

- embeddings quantize to e6 BIGINTS once, up front;
- assignment is an EXACT integer argmin — Σ(xᵢ−cᵢ)² of e6 ints stays in
  int64 (unit-scale coordinates ⇒ |e6| ≤ ~1e7, per-term diff² ≤ 4e14,
  ×64 dims ≤ 2.6e16 ≪ 2⁶³) with (dist, cid) lexicographic tie-break;
- recentering floor-divides exact bigint sums with a +OFF shift (Spark
  ``div`` truncates, DuckDB ``//`` floors — equal on non-negatives), and
  centers RE-QUANTIZE to e6 every round, absorbing any cross-engine
  summation-order difference before it can compound.

Scale shape: points persist once; per round ONE broadcast (k·dim bigint
literals) map-side cross join + ONE combinable (id) argmin agg + ONE
combinable (cid, dim) recenter agg. No driver collect, no Python.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable
from gaia_spark.session import iter_checkpoint

KM_OFF = 10**8  # recenter shift: > max |e6 coordinate|, keeps div == floor


def _quantize(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        id_col,
        F.expr(
            f"transform({vec_col}, t -> cast(floor(cast(t as double) * 1000000 + 0.5)"
            " as bigint))"
        ).alias("x"),
    )


def _assign(pts: DataFrame, centers: DataFrame, id_col: str) -> DataFrame:
    """Exact-integer nearest-center assignment: (id, cid, dist_e12)."""
    d = (
        "aggregate(zip_with(x, c, (p, q) -> (p - q) * (p - q)), "
        "cast(0 as bigint), (acc, t) -> acc + t)"
    )
    return (
        pts.crossJoin(F.broadcast(centers))
        .withColumn("_d", F.expr(d))
        .groupBy(id_col)
        .agg(F.min(F.struct("_d", "cid")).alias("_m"))
        .select(id_col, F.col("_m.cid").alias("cid"), F.col("_m._d").alias("dist_e12"))
    )


def _recenter(assign: DataFrame, pts: DataFrame, id_col: str) -> DataFrame:
    """Per-cluster per-dimension exact mean, re-quantized to e6 bigints."""
    e = assign.join(pts, id_col).select(
        "cid", F.posexplode("x").alias("pos", "_xv")
    )
    m = e.groupBy("cid", "pos").agg(
        F.sum("_xv").cast("long").alias("_s"), F.count("*").cast("long").alias("_n")
    )
    cv = m.select(
        "cid", "pos",
        F.expr(f"((_s + _n * {KM_OFF}) div _n) - {KM_OFF}").alias("_cv"),
    )
    return cv.groupBy("cid").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, _cv))), t -> t._cv)")
        .alias("c")
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``n_rounds`` Lloyd's iterations from md5-ordered seeds (the k rows
    with the smallest md5(id) — deterministic, engine-independent);
    returns the trained CODEBOOK (cid, c) with e6-bigint center arrays —
    the piece product quantization reuses per subspace."""
    pts = iter_checkpoint(_quantize(emb, id_col, vec_col))
    h = portable.md5_int60(f"cast({id_col} as string)", portable.SPARK)
    w = Window.orderBy("_h", id_col)
    centers = (
        pts.select(F.expr(h).alias("_h"), id_col, "x")
        .orderBy("_h", id_col)
        .limit(k)
        .select((F.row_number().over(w) - 1).cast("int").alias("cid"), F.col("x").alias("c"))
    )
    for _ in range(n_rounds):
        a = _assign(pts, centers, id_col)
        centers = iter_checkpoint(_recenter(a, pts, id_col), release=centers)
    return centers


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`kmeans_fit` + a final exact-integer assignment. A cluster
    that empties mid-run simply drops out (its cid disappears; documented,
    mirrored exactly by the oracle). Returns (id, cid, dist_e12) — dist in
    (e6)² integer units."""
    centers = kmeans_fit(emb, k, n_rounds, id_col, vec_col)
    pts = _quantize(emb, id_col, vec_col)
    return _assign(pts, centers, id_col)


def semdedup(
    emb: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-then-dedup — the k-means
    clusters act as the candidate generator (the all-pairs cosine sweep is
    restricted to WITHIN-cluster pairs, the same cost cap as the LSH
    buckets in cosine_near_dup_pairs), near-duplicate pairs
    (cos ≥ threshold) link into connected components (pointer-doubling
    min-label), and each semantic group keeps its min-id representative.

    Returns (id, cid, grp, keep) — grp = min id of the near-dup
    component (its own id for singletons; "group" is a reserved word in
    both SQL dialects), keep = 1 for the survivor.
    All three stages reuse oracle-proven deterministic machinery, so the
    full composition is value-hash checkable end to end."""
    from gaia_spark.operators.simsearch import DOT, NORM2
    from gaia_spark.operators.stats import min_label_components

    assign = kmeans_assign(emb, k, n_rounds, id_col, vec_col).select(id_col, "cid")
    av = assign.join(emb.select(id_col, vec_col), id_col)
    a = av.select("cid", F.col(id_col).alias("a"), F.col(vec_col).alias("_ea"))
    b = av.select("cid", F.col(id_col).alias("b"), F.col(vec_col).alias("_eb"))
    dot = DOT.format(a="_ea", b="_eb")
    na = NORM2.format(a="_ea")
    nb = NORM2.format(a="_eb")
    pairs = (
        a.join(b, "cid")
        .where(F.col("a") < F.col("b"))
        .withColumn("_cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
        .where(F.col("_cos") >= F.lit(float(threshold)))
        .select("a", "b")
    )
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    comp = min_label_components(
        assign.select(F.col(id_col).alias("_n")),
        sym.select(F.col("a").alias("_n"), F.col("b").alias("_nbr")),
        node_col="_n",
        nbr_col="_nbr",
    )
    return (
        assign.join(comp.withColumnRenamed("_n", id_col), id_col)
        .select(
            id_col,
            "cid",
            F.col("label").alias("grp"),
            (F.col("label") == F.col(id_col)).cast("int").alias("keep"),
        )
    )


# --- DuckDB oracle twin (lives here so query tranches can share it
# without importing each other - tranche-to-tranche imports recurse
# through gaia_spark.queries and hit the circular-import trap) --------

def kmeans_oracle_ctes(k: int = 8, dim: int = 64, rounds: int = 3) -> str:
    """CTE chain ending in ``asg`` = (vec_id, cid, d) — the final k-means
    assignment; shared by the q_kmeans_docs and q_semdedup oracles."""
    h = portable.md5_int60("cast(vec_id as string)", portable.DUCK)
    parts = [
        f"""pts AS (SELECT vec_id, i,
           cast(floor(cast(embedding[i] as double) * 1000000 + 0.5) as bigint) AS xv
           FROM embeddings, generate_series(1, {dim}) g(i)),
    seeds AS (SELECT vec_id, cast(row_number() OVER (ORDER BY _h, vec_id) - 1 as int) AS cid
              FROM (SELECT vec_id, {h} AS _h FROM embeddings)
              ORDER BY _h, vec_id LIMIT {k}),
    c0 AS (SELECT s.cid, p.i, p.xv AS cv FROM seeds s JOIN pts p USING (vec_id))"""
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""a{r} AS (SELECT p.vec_id, c.cid,
             cast(sum((p.xv - c.cv) * (p.xv - c.cv)) as bigint) AS d
             FROM pts p JOIN {prev} c ON p.i = c.i GROUP BY 1, 2),
    s{r} AS (SELECT vec_id, cid FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
              FROM a{r}) WHERE rn = 1),
    c{r} AS (SELECT s.cid, p.i,
             cast(((sum(p.xv) + count(*) * {KM_OFF}) // count(*)) - {KM_OFF} as bigint) AS cv
             FROM s{r} s JOIN pts p USING (vec_id) GROUP BY 1, 2)"""
        )
        prev = f"c{r}"
    fr = rounds + 1
    parts.append(
        f"""a{fr} AS (SELECT p.vec_id, c.cid,
              cast(sum((p.xv - c.cv) * (p.xv - c.cv)) as bigint) AS d
              FROM pts p JOIN {prev} c ON p.i = c.i GROUP BY 1, 2),
    asg AS (SELECT vec_id, cid, d FROM
    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a{fr})
    WHERE rn = 1)"""
    )
    return ",\n    ".join(parts)
