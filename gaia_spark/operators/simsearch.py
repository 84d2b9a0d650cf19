"""Similarity search over embedding columns (array<float>).

Beyond the reference — training-data-pipeline tier: brute-force cosine
top-k as the exact baseline, plus a deterministic random-hyperplane LSH
bucketing as the scale path (bucket first, brute-force within buckets).

The dot/norm math runs JVM-side via higher-order functions (zip_with +
aggregate) — no Python in the scoring loop; the LSH plane signs are
md5-derived so Spark, numpy, and the DuckDB oracle all agree bit-for-bit.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable as P

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)
NORM2 = (
    "aggregate({a}, cast(0.0 as double), "
    "(acc, v) -> acc + cast(v as double) * cast(v as double))"
)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query side over
    the vector table — one map-only stage + per-query top-k window.
    Ties break by vec_id ascending. Self-matches are excluded."""
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    dot = DOT.format(a=vec_col, b="_qvec")
    na = NORM2.format(a=vec_col)
    nb = NORM2.format(a="_qvec")
    scored = (
        vectors.join(F.broadcast(q), F.col(id_col) != F.col("_qid"))
        .withColumn("cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.col("rank"),
            F.expr(P.floor_scaled_sql("cos", 6)).alias("cos_e6"),
        )
    )


def hyperplane_signs(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic ±1 plane matrix: sign(p,d) = +1 iff md5(f"{p},{d}")'s
    first 60 bits are odd — reproducible in SQL as md5_int60 % 2."""
    m = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = int(hashlib.md5(f"{p},{d}".encode()).hexdigest()[:15], 16)
            m[p, d] = 1.0 if h % 2 == 1 else -1.0
    return m


def lsh_bucket_sql(vec_col: str, n_planes: int, dim: int, dialect: str) -> str:
    """Bucket id = Σ_p 2^p · [Σ_d sign(p,d)·v_d > 0] as ONE SQL expression —
    higher-order functions in Spark, list lambdas in DuckDB."""
    terms = []
    for p in range(n_planes):
        if dialect == P.SPARK:
            dot = (
                f"aggregate(zip_with({vec_col}, array({_signs_sql(p, dim)}), "
                f"(x, y) -> cast(x as double) * cast(y as double)), "
                f"cast(0.0 as double), (acc, v) -> acc + v)"
            )
        else:
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> cast({vec_col}[i] as double) * cast(([{_signs_sql(p, dim)}])[i] as double)))"
            )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _signs_sql(p: int, dim: int) -> str:
    # integer ±1 literals: bare 1.0 parses as DECIMAL in Spark SQL
    signs = hyperplane_signs(p + 1, dim)[p]
    return ", ".join("1" if s > 0 else "-1" for s in signs)


def lsh_buckets(
    vectors: DataFrame, n_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its hyperplane-sign bucket (scale path for ANN:
    candidate set = same-bucket vectors, then exact cosine within)."""
    return vectors.select(
        F.col(id_col),
        F.expr(lsh_bucket_sql(vec_col, n_planes, dim, P.SPARK)).alias("bucket"),
    )


def ann_topk_lsh(
    vectors: DataFrame, queries: DataFrame, k: int = 5,
    n_planes: int = 6, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding", query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to same-LSH-bucket pairs.
    Fewer planes → bigger buckets → better recall, more compute."""
    vb = lsh_buckets(vectors, n_planes, dim, id_col, vec_col)
    qb = lsh_buckets(
        queries.withColumnRenamed(query_id_col, id_col), n_planes, dim, id_col, vec_col
    ).withColumnRenamed(id_col, "_qid")
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"))
    cand = (
        vectors.join(vb, id_col)
        .join(F.broadcast(qb), "bucket")
        .join(F.broadcast(q), "_qid")
        .where(F.col(id_col) != F.col("_qid"))
    )
    dot = DOT.format(a=vec_col, b="_qvec")
    na = NORM2.format(a=vec_col)
    nb = NORM2.format(a="_qvec")
    scored = cand.withColumn("cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col), F.col(id_col), "rank",
            F.expr(P.floor_scaled_sql("cos", 6)).alias("cos_e6"),
        )
    )


def ivf_index(
    vectors: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """IVF coarse quantizer: pyspark.ml KMeans over the embedding column.

    Returns (assigned_df, centers) — assigned_df adds a ``list_id`` per
    vector; ``centers`` is the ndarray of centroids (small, driver-held;
    on a cluster it ships inside the closure/broadcast). The scale shape:
    the big vector table is clustered ONCE (one ML fit + one map), queries
    probe only the nearest ``nprobe`` lists.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = vectors.withColumn("_fv", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_fv", predictionCol="list_id")
    model = km.fit(feats)
    assigned = model.transform(feats).drop("_fv")
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centers


def ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    index=None,
) -> DataFrame:
    """IVF ANN: exact cosine restricted to the ``nprobe`` centroid lists
    nearest each query (the FAISS IVF-flat shape, DataFrame-native).

    Recall/compute trade via (n_lists, nprobe); candidate fraction is about
    nprobe/n_lists of the table per query versus all-pairs brute force.

    ``index``: pass a prebuilt ``(assigned_df, centers)`` pair from
    :func:`ivf_index` to skip the KMeans fit entirely — at scale the
    quantizer is built once and reused across query batches (persist
    ``assigned`` and store ``centers`` alongside); when omitted the index
    is built inline (convenience path for one-shot queries).
    """
    assigned, centers = (
        index if index is not None else ivf_index(vectors, n_lists, id_col, vec_col, seed)
    )
    # per-query nearest-nprobe lists: tiny (queries × n_lists), driver-free —
    # centroid array rides into the plan as literals
    c_norm = centers / np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)
    probe_structs = ", ".join(
        f"struct({i} AS list_id, array({', '.join(repr(float(x)) for x in c_norm[i])}) AS c)"
        for i in range(len(centers))
    )
    qdot = (
        "aggregate(zip_with(p.c, _qvec, (x, y) -> x * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"))
    probes = q.select(
        "_qid", "_qvec",
        F.explode(
            F.expr(
                f"slice(reverse(array_sort(transform(array({probe_structs}), "
                f"p -> struct({qdot} AS s, p.list_id AS list_id)))), 1, {nprobe})"
            )
        ).alias("_p"),
    ).select("_qid", "_qvec", F.col("_p.list_id").alias("list_id"))

    cand = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col(id_col) != F.col("_qid"))
    )
    dot = DOT.format(a=vec_col, b="_qvec")
    na = NORM2.format(a=vec_col)
    nb = NORM2.format(a="_qvec")
    scored = cand.withColumn("cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col), F.col(id_col), "rank",
            F.expr(P.floor_scaled_sql("cos", 6)).alias("cos_e6"),
        )
    )


def ann_topk_ivf_det(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 3,
    n_rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN on the engine's own deterministic coarse quantizer
    (:func:`gaia_spark.operators.clustering.kmeans_fit`: md5-ordered seeds,
    exact-integer assignment, e6 re-quantized rounds) instead of
    pyspark.ml KMeans — which makes the whole index CROSS-ENGINE
    REPLAYABLE: probe selection is an exact bigint argmin, so the DuckDB
    oracle rebuilds the identical lists and the query graduates from
    rows-only to hash-checked. Same FAISS IVF-flat plan shape as
    :func:`ann_topk_ivf`: candidates = nprobe nearest lists per query,
    exact cosine refine, top-k."""
    from gaia_spark.operators.clustering import _assign, _quantize, kmeans_fit

    centers = kmeans_fit(vectors, k=n_lists, n_rounds=n_rounds, id_col=id_col, vec_col=vec_col)
    pts = _quantize(vectors, id_col, vec_col)
    assigned = _assign(pts, centers, id_col).select(id_col, "cid")
    qpts = _quantize(
        queries.withColumnRenamed(query_id_col, id_col), id_col, vec_col
    ).withColumnRenamed(id_col, "_qid")
    d = (
        "aggregate(zip_with(x, c, (p, q) -> (p - q) * (p - q)), "
        "cast(0 as bigint), (acc, t) -> acc + t)"
    )
    wq = Window.partitionBy("_qid").orderBy(F.asc("_d"), F.asc("cid"))
    probes = (
        qpts.crossJoin(F.broadcast(centers))
        .withColumn("_d", F.expr(d))
        .withColumn("_pr", F.row_number().over(wq))
        .where(F.col("_pr") <= nprobe)
        .select("_qid", "cid")
    )
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"))
    cand = (
        vectors.join(assigned, id_col)
        .join(F.broadcast(probes), "cid")
        .join(F.broadcast(q), "_qid")
        .where(F.col(id_col) != F.col("_qid"))
    )
    dot = DOT.format(a=vec_col, b="_qvec")
    na = NORM2.format(a=vec_col)
    nb = NORM2.format(a="_qvec")
    scored = cand.withColumn("cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col), F.col(id_col), "rank",
            F.expr(P.floor_scaled_sql("cos", 6)).alias("cos_e6"),
        )
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    n_planes: int | None = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b, cos ≥ threshold).

    ``n_planes`` set (the scale path): the self-join is restricted to pairs
    sharing an LSH bucket — md5-derived planes make even this approximate
    candidate set cross-engine deterministic, so it stays oracle-checkable.
    ``n_planes=None``: exact all-pairs witness (test scale only).
    """
    a = vectors.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_ea"))
    b = vectors.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_eb"))
    if n_planes is not None:
        ba = lsh_buckets(vectors, n_planes, dim, id_col, vec_col).withColumnRenamed(id_col, "a")
        bb = ba.withColumnRenamed("a", "b")
        pairs = (
            ba.join(bb, "bucket")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .join(a, "a")
            .join(b, "b")
        )
    else:
        pairs = a.crossJoin(b).where(F.col("a") < F.col("b"))
    dot = DOT.format(a="_ea", b="_eb")
    na = NORM2.format(a="_ea")
    nb = NORM2.format(a="_eb")
    return (
        pairs.withColumn("cos", F.expr(f"{dot} / sqrt({na}) / sqrt({nb})"))
        .where(F.col("cos") >= F.lit(float(threshold)))
        .select("a", "b", F.expr(P.floor_scaled_sql("cos", 6)).alias("cos_e6"))
    )


# --- product quantization (PQ codes + ADC scoring) ----------------------------


def pq_codes(
    emb: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 8,
    n_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al. 2011): split each ``dim``-vector
    into ``m`` subvectors, train a ``k``-centroid codebook per subspace
    with the DETERMINISTIC Lloyd's machinery (exact-integer argmin, md5
    seeds, e6 re-quantized centers — so even the codes are value-hash
    oracle-checkable, unlike any float KMeans), and encode every vector as
    its m nearest-centroid ids.

    Scale shape: codebooks are m separate kmeans_fit runs over SLICED
    columns (each: per round one broadcast k·(dim/m) cross join + two
    combinable aggs); encoding is one broadcast argmin per subspace. The
    codebook (m·k·(dim/m) bigints) always broadcasts; codes compress each
    vector to m smallints — the structure that lets a 100 TB embedding
    table be scanned for ANN at ~1/32 the bytes.

    Returns (codes, codebooks): codes = (id, m, code, dist_e12) — one row
    per (vector, subspace); codebooks = (m, cid, c)."""
    from gaia_spark.operators.clustering import _assign, _quantize, kmeans_fit

    sd = dim // m
    assert sd * m == dim, "dim must split evenly into m subspaces"
    codes = None
    books = None
    for j in range(m):
        sub = emb.select(
            id_col, F.expr(f"slice({vec_col}, {j * sd + 1}, {sd})").alias(vec_col)
        )
        cb = kmeans_fit(sub, k, n_rounds, id_col, vec_col)
        cj = _assign(_quantize(sub, id_col, vec_col), cb, id_col).select(
            id_col,
            F.lit(j).cast("int").alias("m"),
            F.col("cid").alias("code"),
            "dist_e12",
        )
        bj = cb.select(F.lit(j).cast("int").alias("m"), "cid", "c")
        codes = cj if codes is None else codes.unionByName(cj)
        books = bj if books is None else books.unionByName(bj)
    return codes, books


def pq_adc_topk(
    emb: DataFrame,
    query_id: int,
    topk: int = 10,
    dim: int = 64,
    m: int = 8,
    k: int = 8,
    n_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: the query
    stays exact while every database vector is approximated by its
    centroids — score(v) = Σ_j ‖q_j − codebook_j[code_j(v)]‖², computed as
    a (m·k)-row distance-table broadcast joined to the codes on (m, code)
    and ONE combinable per-vector sum. Everything is exact e6² integer
    arithmetic end to end (query quantizes through the same e6 floor), so
    the ranking — ties broken by id — is bit-identical cross-engine.
    Returns (id, adc_e12, rank) for the topk nearest."""
    from pyspark.sql import Window

    codes, books = pq_codes(emb, dim, m, k, n_rounds, id_col, vec_col)
    sd = dim // m
    qsub = None
    for j in range(m):
        qj = emb.where(F.col(id_col) == query_id).select(
            F.lit(j).cast("int").alias("m"),
            F.expr(
                f"transform(slice({vec_col}, {j * sd + 1}, {sd}), "
                "t -> cast(floor(cast(t as double) * 1000000 + 0.5) as bigint))"
            ).alias("q"),
        )
        qsub = qj if qsub is None else qsub.unionByName(qj)
    d = (
        "aggregate(zip_with(q, c, (p, w) -> (p - w) * (p - w)), "
        "cast(0 as bigint), (acc, t) -> acc + t)"
    )
    dtable = (
        books.join(qsub, "m")
        .withColumn("_dj", F.expr(d))
        .select("m", F.col("cid").alias("code"), "_dj")
    )
    scored = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .groupBy(id_col)
        .agg(F.sum("_dj").cast("long").alias("adc_e12"))
    )
    w = Window.orderBy("adc_e12", id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(id_col, "adc_e12", F.col("rank").cast("int").alias("rank"))
    )
