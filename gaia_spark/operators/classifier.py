"""In-engine quality-classifier training: deterministic full-batch
logistic regression over hashed text features.

The modern training-data pipelines (CCNet → FineWeb/DCLM lineage) filter
documents with a LEARNED quality classifier, not just heuristics — a small
linear model over hashed bag-of-n-gram features. This module trains that
model INSIDE the engine as a fixed number of full-batch gradient-descent
rounds, made engine-deterministic the same way PageRank/k-means were:

- features are exact integer counts over ``n_buckets`` md5-hashed bigram
  buckets (the DSIR feature space);
- weights live as e6-quantized BIGINTS; the per-doc logit is an EXACT
  integer dot product (Σ x_b·w_b, int64-safe: counts ≤ doc length,
  weights bounded by lr·rounds);
- the only float per round is σ(z) = 1/(1+exp(−z)), immediately floored
  to e6 BEFORE it enters the gradient sum (order-independent integer
  aggregation; the ln-at-e4 precedent applied to exp);
- the weight update w −= lr·Σ(x·err)/N floor-divides exact bigints with a
  +OFF shift (Spark ``div`` truncates, DuckDB ``//`` floors — equal on
  non-negatives), re-quantizing every round so cross-engine noise can
  never compound.

Scale shape (100 TB): per round ONE broadcast join (weights: n_buckets
rows) + ONE per-doc combinable agg (logits) + ONE equi-join of features to
per-doc errors + ONE per-bucket combinable agg (gradient). Features
materialize once (bucket counts, not raw grams). Nothing collects to the
driver; the weight table is always broadcast-size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable as P
from gaia_spark.session import iter_checkpoint

LR_OFF = 10**15  # update shift: > max |gradient|/N at e6, keeps div == floor

# σ(z) with z reconstructed from the exact e6 logit — ONE shared string so
# the IEEE op order is identical in both engines
SIGMOID_E6 = (
    "cast(floor((cast(1 as double) / (cast(1 as double) "
    "+ exp(0 - (cast(z_i as double) / cast(1000000 as double))))) "
    "* 1000000 + 0.5) as bigint)"
)


def _features(
    docs: DataFrame, n_buckets: int, id_col: str, text_col: str, label_expr: str
) -> tuple[DataFrame, DataFrame]:
    """(feats = (id, _b, x), labels = (id, y)) — hashed-bigram bucket
    counts and the 0/1 label."""
    from gaia_spark.functions.text import shingles_sql

    grams = shingles_sql(text_col, P.SPARK, 2)
    b = f"({P.md5_int60('g', P.SPARK)} % {n_buckets})"
    feats = (
        docs.select(F.col(id_col), F.explode(F.expr(grams)).alias("g"))
        .select(id_col, F.expr(b).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("long").alias("x"))
    )
    labels = docs.select(
        id_col, F.expr(label_expr).cast("long").alias("y")
    )
    return feats, labels


def logreg_train(
    docs: DataFrame,
    label_expr: str,
    n_buckets: int = 64,
    n_rounds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train the quality classifier: ``n_rounds`` full-batch GD rounds from
    w = 0 (so round 1 is exactly σ = 0.5 everywhere — fully integer), lr=1.
    Returns the weight table (_b, w_e6)."""
    feats, labels = _features(docs, n_buckets, id_col, text_col, label_expr)
    feats = iter_checkpoint(feats.join(labels, id_col))
    n = docs.count()  # driver scalar: one long (every doc has >=1 gram)
    w = feats.select("_b").distinct().withColumn("w_e6", F.lit(0).cast("long"))
    w = iter_checkpoint(w)
    for _ in range(n_rounds):
        z = (
            feats.join(F.broadcast(w), "_b")
            .groupBy(id_col, "y")
            .agg(F.sum(F.col("x") * F.col("w_e6")).cast("long").alias("z_i"))
        )
        err = z.select(
            id_col,
            (F.expr(SIGMOID_E6) - F.col("y") * 1_000_000).cast("long").alias("e_e6"),
        )
        g = (
            feats.join(err, id_col)
            .groupBy("_b")
            .agg(F.sum(F.col("x") * F.col("e_e6")).cast("long").alias("g"))
        )
        w = iter_checkpoint(
            w.join(g, "_b")
            .select(
                "_b",
                (
                    F.col("w_e6")
                    - (F.expr(f"(g + cast({LR_OFF} as bigint) * {n}) div {n}")
                       - F.lit(LR_OFF))
                ).cast("long").alias("w_e6"),
            ),
            release=w,
        )
    return w


def logreg_score(
    docs: DataFrame,
    w: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_expr: str = "0",
) -> DataFrame:
    """Score every document under a trained weight table: exact integer
    logit, e6 sigmoid, predicted label at the 0.5 cut. Returns
    (id, z_i, score_e6, pred)."""
    feats, _ = _features(docs, n_buckets, id_col, text_col, label_expr)
    z = (
        feats.join(F.broadcast(w), "_b")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w_e6")).cast("long").alias("z_i"))
    )
    return z.select(
        id_col,
        "z_i",
        F.expr(SIGMOID_E6).alias("score_e6"),
        (F.expr(SIGMOID_E6) >= 500_000).cast("int").alias("pred"),
    )


def logit_expr_sql(weights: dict[int, int], n_buckets: int, text_col: str) -> str:
    """Per-ROW exact-integer logit under a FROZEN weight table: the
    n_buckets e6 weights ride as a map literal inside the expression (the
    IVF-centers-as-plan-literals precedent — bounded driver data), and the
    hashed-bigram features are folded in ONE aggregate over the gram array.
    No explode, no join, no per-doc aggregation ⇒ STATELESS, so the same
    expression scores a structured stream unchanged."""
    from gaia_spark.functions.text import shingles_sql

    grams = shingles_sql(text_col, P.SPARK, 2)
    entries = ", ".join(
        f"{b}, cast({w} as bigint)" for b, w in sorted(weights.items())
    )
    wmap = f"map({entries})" if entries else "map(-1, cast(0 as bigint))"
    b = f"({P.md5_int60('g', P.SPARK)} % {n_buckets})"
    return (
        f"aggregate({grams}, cast(0 as bigint), "
        f"(acc, g) -> acc + coalesce(element_at({wmap}, cast({b} as int)), cast(0 as bigint)))"
    )


def stream_logreg_score(
    docs,
    weights: dict[int, int],
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Score a STREAM of documents under a trained classifier: per-row
    integer logit via :func:`logit_expr_sql` (weights frozen as a plan
    literal), e6 sigmoid, 0.5-cut prediction. Stateless — no watermark
    needed; micro-batch output rows are byte-identical to
    :func:`logreg_score` on the same input (pytest-asserted parity).
    Returns (id, z_i, score_e6, pred)."""
    z = docs.select(
        id_col, F.expr(logit_expr_sql(weights, n_buckets, text_col)).alias("z_i")
    )
    return z.select(
        id_col,
        "z_i",
        F.expr(SIGMOID_E6).alias("score_e6"),
        (F.expr(SIGMOID_E6) >= 500_000).cast("int").alias("pred"),
    )
