"""Link-graph analytics: PageRank over the host graph of a web corpus.

Role: the web-scale companion of the engine's iterative tier (`[R]
SURVEY.md §2.I ClusterProcess` pointer-doubling components are the other
member): host authority scores drive crawl prioritization and quality
priors for training-data selection.

Scale shape (100 TB): classic power iteration as pure DataFrame ops —
each round is ONE join (ranks onto edges by src) + ONE groupBy(dst) agg
(map-side combinable) + a broadcast of two scalars (node count, dangling
mass); lineage is cut per round via iter_checkpoint (a reliable checkpoint
once the session has a checkpoint directory). No Python, no adjacency
collection; a hot dst (everyone links to one host) is an agg skew handled
by partial aggregation, not a join skew.

Engine-determinism: ranks are re-quantized to fixed-point 10^-12 BETWEEN
iterations (the MinHash determinism lesson applied to iterative float
algorithms). Per-round float summation error (≤ ~1e-16 for corpus-scale
in-degrees) is absorbed by the quantization step, so Spark and any
replaying engine (the DuckDB oracle chains the same k CTE rounds) produce
bit-identical ranks at every iteration — the approximation is the
documented semantic, not a fudge."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable as P


def rank_update_sql(contrib: str, dangling: str, n: str, damping: float) -> str:
    """One PageRank update, shared verbatim with the oracle:
    (1-d)/n + d · (contrib + dangling/n), then fixed-point e12."""
    d = f"cast({damping} as double)"
    raw = (
        f"((cast(1 as double) - {d}) / {n} + {d} * (({contrib}) + ({dangling}) / {n}))"
    )
    return f"(cast({P.floor_scaled_sql(raw, 12)} as double) / cast(1000000000000 as double))"


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list (deduplicated edges expected).
    Nodes = union of srcs and dsts; dangling nodes (no out-edges) donate
    their mass uniformly. Returns (node, rank) after ``iters`` rounds from
    the uniform start, rank re-quantized to e12 each round."""
    from gaia_spark.session import iter_checkpoint

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").cast("double").alias("out_deg"))
    base = nodes.join(deg, nodes["node"] == deg["src"], "left").select(
        "node", F.coalesce("out_deg", F.lit(None)).alias("out_deg")
    )
    n = base.count()  # one scalar; the only driver-side value
    n_sql = f"cast({n} as double)"

    ranks = iter_checkpoint(base.withColumn("rank", F.lit(1.0) / F.lit(float(n))))
    for _ in range(iters):
        _prev = ranks
        dangling = (
            ranks.where(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            e.join(ranks.where(F.col("out_deg").isNotNull()), e["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("_contrib"))
        )
        ranks = (
            ranks.select("node", "out_deg")
            .join(contrib, F.col("node") == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                F.expr(
                    rank_update_sql("coalesce(_contrib, cast(0 as double))", "_dm", n_sql, damping)
                ).alias("rank"),
            )
        )
        ranks = iter_checkpoint(ranks, release=_prev)
    return ranks.select("node", "rank")


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    iters: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    source_col: str = "node",
) -> DataFrame:
    """Multi-source shortest paths by ``iters`` Bellman–Ford relaxation
    rounds (distance to the NEAREST source; paths longer than ``iters``
    hops stay undiscovered — the caller picks iters ≥ graph diameter for
    the exact fixpoint).

    Scale shape (100 TB): each round is ONE equi-join (frontier onto edges
    by src) + ONE combinable groupBy(node) min — the PageRank plan with a
    (min, +) semiring instead of (sum, ·); unreached nodes are simply
    ABSENT (no infinity sentinels shuffling around), and lineage is cut
    per round via iter_checkpoint.

    Engine-determinism needs NO quantization trick here: ``min`` is
    order-independent, and the kept value is the double computed along one
    specific relaxation chain — identical in any engine that replays the
    same round structure (the oracle chains the same k CTE rounds).
    Negative weights are rejected (they'd make the truncated iteration
    semantically murky)."""
    from gaia_spark.session import iter_checkpoint

    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).withColumn(
        # JVM-side precondition (codegen'd, no Python): fails the job on
        # the first negative weight instead of silently mis-relaxing
        "w", F.when(F.col("w") >= 0, F.col("w")).otherwise(F.expr("raise_error('shortest_paths: negative edge weight')"))
    )
    dist = sources.select(
        F.col(source_col).alias("node"), F.lit(0.0).alias("dist")
    ).distinct()
    dist = iter_checkpoint(dist)
    for _ in range(iters):
        _prev = dist
        relaxed = (
            e.join(dist, e["src"] == dist["node"])
            .select("dst", (F.col("dist") + F.col("w")).alias("dist"))
            .withColumnRenamed("dst", "node")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = iter_checkpoint(dist, release=_prev)
    return dist


def quant12_sql(expr: str) -> str:
    """Fixed-point e12 re-quantization (the PageRank determinism trick as a
    reusable expression): absorbs per-round float-summation order noise so
    iterative float algorithms are bit-identical cross-engine."""
    return (
        f"(cast({P.floor_scaled_sql(expr, 12)} as bigint) / cast(1000000000000 as double))"
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities over a directed edge list (Kleinberg 1999),
    MAX-normalized: each half-round divides by the maximum score instead
    of the L2 norm — max is order-independent (no float-sum in the
    normalizer), which together with e12 re-quantization after every
    half-round makes the whole iteration bit-identical cross-engine (the
    documented semantic, same as :func:`pagerank`).

    Scale shape: each half-round is ONE equi-join (scores onto edges) +
    ONE combinable groupBy sum + a broadcast max scalar; lineage cut per
    round. Precondition: at least one edge (an empty graph has no max to
    normalize by). Returns (node, hub, auth)."""
    from gaia_spark.session import iter_checkpoint

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("hub", F.lit(1.0))
    hub = iter_checkpoint(hub)
    auth = None
    for _ in range(iters):
        _prev_hub, _prev_auth = hub, auth
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("_raw"))
        )
        auth = (
            nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left")
            .select(
                "node",
                F.expr(quant12_sql("coalesce(_raw, cast(0 as double))")).alias("_q"),
            )
        )
        amax = auth.agg(F.max("_q").alias("_m"))
        auth = (
            auth.crossJoin(F.broadcast(amax))
            .select("node", F.expr(quant12_sql("_q / _m")).alias("auth"))
        )
        auth = iter_checkpoint(auth, release=_prev_auth)
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("_raw"))
        )
        hub = (
            nodes.join(h_raw, nodes["node"] == h_raw["src"], "left")
            .select(
                "node",
                F.expr(quant12_sql("coalesce(_raw, cast(0 as double))")).alias("_q"),
            )
        )
        hmax = hub.agg(F.max("_q").alias("_m"))
        hub = (
            hub.crossJoin(F.broadcast(hmax))
            .select("node", F.expr(quant12_sql("_q / _m")).alias("hub"))
        )
        hub = iter_checkpoint(hub, release=_prev_hub)
    return hub.join(auth, "node").select("node", "hub", "auth")


def cocitation_pairs(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_in_degree: int | None = None,
) -> DataFrame:
    """Co-citation strength: for every ordered-canonical pair (a < b) of
    source nodes, how many targets both link to (A→C ∧ B→C). The classic
    link-graph similarity signal (sibling-host detection, related-page
    ranking).

    Scale shape: ONE self equi-join on the target key — cost Σ_t
    in_deg(t)², the same quadratic-in-hot-key shape as the MinHash band
    self-join, guarded the same way: ``max_in_degree=`` drops targets
    linked by more than that many sources (broadcast anti-join on the
    tiny hot set; a target half the web links to says nothing about
    pairwise similarity anyway — the drop is the documented semantic, not
    a fudge). Returns (a, b, n_common)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    if max_in_degree is not None:
        hot = (
            e.groupBy("dst")
            .agg(F.count("*").alias("_in"))
            .where(F.col("_in") > max_in_degree)
            .select("dst")
        )
        e = e.join(F.broadcast(hot), "dst", "left_anti")
    a = e.select(F.col("src").alias("a"), "dst")
    b = e.select(F.col("src").alias("b"), "dst")
    return (
        a.join(b, "dst")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation — the
    standard scalable formulation (Cohen / Suri-Vassilvitskii "Counting
    triangles and the curse of the last reducer"): orient every undirected
    edge from the (degree, node)-smaller endpoint to the larger, so each
    triangle has exactly ONE node with two out-edges and is counted once.
    Wedge fan-out is bounded by max OUT-degree, which degree ordering caps
    near sqrt(m) even for hub-dominated web graphs — a high-in-degree host
    contributes no wedges.

    Plan: undirected dedup (one hash agg) + degree agg + TWO equi-joins
    (wedge build on the pivot, wedge close on the (b, c) edge) + one
    explode/agg for per-node attribution. All integers — hash-exact.
    Returns (node, n_tri) for nodes in ≥1 triangle."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    o1 = oriented.select("a", F.col("b").alias("w1"), F.col("db").alias("d1"))
    o2 = oriented.select("a", F.col("b").alias("w2"), F.col("db").alias("d2"))
    wedges = o1.join(o2, "a").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tris = wedges.join(closing, ["w1", "w2"])
    return (
        tris.select(F.explode(F.array("a", "w1", "w2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )


def resolve_redirects(
    edges: DataFrame,
    max_hops_log2: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Redirect-chain resolution: follow each source's redirect edge until a
    terminal URL (no outgoing redirect) or ``2**max_hops_log2`` hops — the
    crawl-frontier normalization step that collapses 301/302 chains onto
    their canonical landing page (runs after :func:`gaia_spark.functions.
    web.canonical_url_sql`, before exact dedup). Multiple out-edges per
    source (conflicting crawl snapshots) resolve deterministically to
    min(dst).

    Scale shape (10^12-edge redirect graph): pointer doubling on the jump
    table — round k maps every unresolved source 2^k hops forward by ONE
    self equi-join (compose the table with itself), so a hop cap of H
    costs log2(H) shuffles, never a per-hop scan. Lineage is cut per round
    (iter_checkpoint). Redirect cycles (a→b→a) and over-long chains never
    settle: they surface as ``resolved = false`` with the exact position
    after H hops — the crawler's give-up verdict, not an error.

    Engine-determinism: composition is pure key lookups on exact strings +
    bigint hop addition — the DuckDB oracle replays it as a recursive CTE
    walking ONE hop at a time to the same cap (derivation disagreement:
    O(log) doubling vs O(H) walk, one answer). Returns
    (src, final, n_hops, resolved)."""
    from gaia_spark.session import iter_checkpoint

    h = 1 << max_hops_log2
    e = (
        edges.groupBy(F.col(src_col).alias("src"))
        .agg(F.min(dst_col).alias("dst"))
    )
    srcs = e.select(F.col("src").alias("_s"))
    # M0: one hop; done iff the landing node has no out-edge
    m = (
        e.join(srcs.withColumnRenamed("_s", "dst").withColumn("_has", F.lit(1)),
               "dst", "left")
        .select(
            "src",
            F.col("dst").alias("cur"),
            F.lit(1).cast("long").alias("hops"),
            F.col("_has").isNull().alias("done"),
        )
    )
    for _ in range(max_hops_log2):
        m = iter_checkpoint(m)
        jump = m.select(
            F.col("src").alias("cur"),
            F.col("cur").alias("_jcur"),
            F.col("hops").alias("_jhops"),
            F.col("done").alias("_jdone"),
        )
        m = (
            m.join(jump, "cur", "left")
            .select(
                "src",
                F.when(F.col("done") | F.col("_jcur").isNull(), F.col("cur"))
                .otherwise(F.col("_jcur"))
                .alias("cur"),
                F.when(F.col("done") | F.col("_jcur").isNull(), F.col("hops"))
                .otherwise(F.col("hops") + F.col("_jhops"))
                .alias("hops"),
                (F.col("done") | F.col("_jcur").isNull() | F.col("_jdone"))
                .alias("done"),
            )
        )
    # doubling can overshoot the cap only on unsettled (cyclic) rows, where
    # hops == 2^k exactly by induction; clamp defensively and rename
    return m.select(
        "src",
        F.col("cur").alias("final"),
        F.least(F.col("hops"), F.lit(h).cast("long")).alias("n_hops"),
        F.col("done").alias("resolved"),
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over every directed realization of
    the undirected edge set — positive when hubs link to hubs (social
    graphs), negative when hubs link to leaves (the classic web shape).

    Plan: undirected dedup (one hash agg) + one degree aggregate + two
    key equi-joins to attach endpoint degrees + ONE combinable moment
    aggregate; both orientations contribute by symmetry (Σx = Σy), so
    no second pass. All moments are exact bigints and the coefficient is
    ONE shared IEEE expression over them — bit-identical cross-engine.
    Returns (n_nodes, n_edges, assortativity_e6; NULL when degenerate —
    fewer than 2 edges or zero degree variance)."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = und.join(du, "u").join(dv, "v")
    mom = ed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("_sx"),
        F.sum(
            F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
        ).cast("long").alias("_sxx"),
        F.sum(F.lit(2) * F.col("du") * F.col("dv")).cast("long").alias("_sxy"),
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    # M = 2m directed pairs; var term V = M*Sxx - Sx^2 (x and y symmetric)
    v = "(2 * m * _sxx - _sx * _sx)"
    r = f"cast(2 * m * _sxy - _sx * _sx as double) / cast({v} as double)"
    return mom.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.expr(
            f"CASE WHEN m >= 2 AND {v} > 0 THEN "
            f"{P.floor_scaled_sql(r, 6)} ELSE NULL END"
        ).alias("assortativity_e6"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where every
    node keeps degree ≥ k — the classic link-spam / hub-community filter
    (a page farm's periphery peels away; the dense core survives).
    Computed by iterative peeling: drop all nodes with degree < k,
    recompute degrees on the induced subgraph, repeat to fixpoint.

    Scale shape: each round is ONE combinable degree aggregate + two
    semi-joins filtering the edge list; lineage is cut per round; a
    scan-based convergence check (edge count stable) ends the loop.
    Rounds are bounded by the peel depth — raises RuntimeError past
    ``max_rounds`` (the loud-bound convention of flow_accumulation_peel).

    Engine-determinism: pure integer degree thresholds on exact keys —
    the DuckDB oracle replays the peel as a fixed-round recursive CTE
    (extra rounds after convergence are no-ops, so any round count ≥ the
    peel depth yields the identical set). Returns (node, core_deg)."""
    from gaia_spark.session import iter_checkpoint

    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e = iter_checkpoint(e)
    n_edges = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        e2 = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        e2 = iter_checkpoint(e2, release=e)
        n2 = e2.count()
        e = e2
        if n2 == n_edges:
            break
        n_edges = n2
    else:
        raise RuntimeError(f"k_core did not converge within {max_rounds} rounds")
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("core_deg"))
    )
