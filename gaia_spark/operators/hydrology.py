"""Raster hydrology: D8 flow direction, flow accumulation, watersheds.

The terrain-flow family every raster GIS ships (GRASS r.watershed, ArcGIS
Flow Direction / Flow Accumulation, `[R] SURVEY.md §2.J` RasterMathProcess
terrain variants, beside :func:`gaia_spark.operators.raster.slope_aspect`).

Scale + determinism design:

- **Flow direction** reuses the focal scatter shape (each pixel contributes
  its value to the 9 windows it neighbors — in-plan explode, ONE combinable
  pivot aggregate, longitude wraps, no join, no Python). The D8 argmax is
  EXACT-INTEGER: steepest descent compares drop/distance across orthogonal
  (d=1) and diagonal (d=√2) neighbors, and for non-negative drops
  Δo/1 > Δd/√2 ⟺ 2·Δo² > Δd² — so the winner is chosen by bigint
  comparisons on e4-quantized values (< 2⁵² by construction), with the
  fixed ESRI compass order (E,SE,S,SW,W,NW,N,NE → 1,2,4,8,16,32,64,128)
  breaking exact ties. No float enters the decision ⇒ the graph is
  bit-identical cross-engine and under any partitioning.
- **Flow accumulation / watersheds** run on the resulting FUNCTIONAL graph
  (strictly-downhill ⇒ acyclic). The transitive closure is built by path
  doubling in the linear-output form: keep S_k(v) = f^(2^k)(v) (one row per
  node, sinks self-absorbed) and the prefix set P_k = {(u, f^j(u)), j ≤ 2^k};
  then P_{k+1} = P_k ∪ (S_k ⋈ P_k) — intermediate row count equals the
  OUTPUT closure size (never the Σ|path|² blowup of naive R∘R), and the
  loop converges in ⌈log₂ max-path⌉ rounds with `iter_checkpoint` lineage
  cuts. acc(v) = in-count of the closure; basin(v) = the absorbed S(v).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gaia_spark.functions import portable
from gaia_spark.synth import TILE_PX, band_f32_sql, tile_px_center_sql

# (compass, dr, dc, esri_code, slope-square multiplier: 2 orthogonal / 1 diagonal)
D8 = [
    ("e", 0, 1, 1, 2),
    ("se", 1, 1, 2, 1),
    ("s", 1, 0, 4, 2),
    ("sw", 1, -1, 8, 1),
    ("w", 0, -1, 16, 2),
    ("nw", -1, -1, 32, 1),
    ("n", -1, 0, 64, 2),
    ("ne", -1, 1, 128, 1),
]


def d8_key_sql(name: str) -> str:
    """Squared-slope ranking key for one neighbor over columns ``v_c`` /
    ``v_<name>`` (e4 bigints): 2Δ² (orthogonal) or Δ² (diagonal) when the
    drop is strictly positive, −1 otherwise — exact bigint arithmetic."""
    mult = next(m for nm, _, _, _, m in D8 if nm == name)
    d = f"(v_c - v_{name})"
    return f"(CASE WHEN v_c > v_{name} THEN {mult} * {d} * {d} ELSE cast(-1 as bigint) END)"


def d8_dir_sql(dialect: str) -> str:
    """ESRI D8 code over the key columns ``k_e .. k_ne``: 0 for pits/flats,
    else the first compass (fixed priority order) attaining the maximum.
    first-index-of-max does the priority tie-break in ONE compact
    expression — the naive ``CASE WHEN k = greatest(8 keys)`` chain inlines
    to ~72 nested CASEs and blows janino's 64 KB method limit (observed:
    whole-stage codegen fallback on the zoom-2 grid). Dialect twins (array
    vs list builtins) compare the SAME exact-integer key columns, so the
    result is engine-identical."""
    codes = ", ".join(str(code) for _, _, _, code, _ in D8)
    ks = ", ".join(f"k_{nm}" for nm, *_ in D8)
    if dialect == portable.SPARK:
        return (
            f"(CASE WHEN array_max(array({ks})) <= 0 THEN 0 "
            f"ELSE element_at(array({codes}), "
            f"cast(array_position(array({ks}), array_max(array({ks}))) as int)) END)"
        )
    return (
        f"(CASE WHEN list_max([{ks}]) <= 0 THEN 0 "
        f"ELSE ([{codes}])[list_position([{ks}], list_max([{ks}]))] END)"
    )


def d8_step_sql(axis: int) -> str:
    """dr (axis=0) / dc (axis=1) decoded from the ESRI ``dir`` code."""
    pairs = " ".join(
        f"WHEN dir = {code} THEN {dr if axis == 0 else dc}"
        for _, dr, dc, code, _ in D8
    )
    return f"(CASE {pairs} ELSE 0 END)"


def d8_pivot_cte(n_t: int) -> str:
    """Shared DuckDB oracle CTE chain for the synth raster at ``n_t`` tiles
    per axis: rebuild the zoom's global pixel grid, scatter each pixel onto
    its 9 windows, pivot to v_c/v_<compass>, rank with the shared
    exact-integer D8 keys and decode the ESRI dir."""
    px = TILE_PX
    n_px = n_t * px
    c_lat, c_lon = tile_px_center_sql(n_t, px)
    v = band_f32_sql(0)
    vcols = ", ".join(
        f"max(CASE WHEN orr = {dr} AND occ = {dc} THEN v_e4 END) AS v_{nm}"
        for nm, dr, dc, _, _ in D8
    )
    kcols = ", ".join(f"{d8_key_sql(nm)} AS k_{nm}" for nm, *_ in D8)
    return f"""
    g AS (SELECT r, c FROM generate_series(0, {n_px - 1}) t1(r),
                           generate_series(0, {n_px - 1}) t2(c)),
    pxg AS (SELECT r, c, {portable.idiv_sql('r', px)} AS ty, r % {px} AS i,
                   {portable.idiv_sql('c', px)} AS tx, c % {px} AS j FROM g),
    pc AS (SELECT r, c, {c_lat} AS plat, {c_lon} AS plon FROM pxg),
    pv AS (SELECT r, c, {portable.floor_scaled_sql(v, 4)} AS v_e4 FROM pc),
    offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
    scat AS (SELECT r + dr AS tr, (c + dc + {n_px}) % {n_px} AS tc,
                    -dr AS orr, -dc AS occ, v_e4
             FROM pv CROSS JOIN offs
             WHERE r + dr >= 0 AND r + dr < {n_px}),
    win AS (SELECT tr, tc, count(*) AS _n,
                   max(CASE WHEN orr = 0 AND occ = 0 THEN v_e4 END) AS v_c,
                   {vcols}
            FROM scat GROUP BY tr, tc),
    kk AS (SELECT cast(tr as bigint) AS r, cast(tc as bigint) AS c, {kcols}
           FROM win WHERE _n = 9),
    dd AS (SELECT r, c, cast({d8_dir_sql(portable.DUCK)} as int) AS dir FROM kk)
    """


def flow_direction(raster: DataFrame, zoom: int, band: int = 0) -> DataFrame:
    """D8 steepest-descent direction per INTERIOR pixel of the global grid
    (all 8 neighbors present; poles excluded, longitude wraps). Returns
    (r, c, dir) with dir ∈ {0 (pit/flat), 1, 2, 4, …, 128}."""
    from gaia_spark.operators.raster import pixels_of

    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(portable.floor_scaled_sql("v", 4)).alias("v_e4"),
    )
    scat = (
        decoded.withColumn("_dr", F.explode(F.expr("array(-1, 0, 1)")))
        .withColumn("_dc", F.explode(F.expr("array(-1, 0, 1)")))
        .select(
            (F.col("r") + F.col("_dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_dc"), F.lit(n_px)).alias("tc"),
            # source sits at offset (-_dr, -_dc) from the target window
            (-F.col("_dr")).alias("_or"),
            (-F.col("_dc")).alias("_oc"),
            "v_e4",
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
    )
    win = scat.groupBy(F.col("tr").alias("r"), F.col("tc").alias("c")).agg(
        F.count("*").alias("_n"),
        F.max(F.when((F.col("_or") == 0) & (F.col("_oc") == 0), F.col("v_e4"))).alias("v_c"),
        *[
            F.max(
                F.when((F.col("_or") == dr) & (F.col("_oc") == dc), F.col("v_e4"))
            ).alias(f"v_{nm}")
            for nm, dr, dc, _, _ in D8
        ],
    )
    keys = win.where(F.col("_n") == 9).select(
        "r", "c", *[F.expr(d8_key_sql(nm)).alias(f"k_{nm}") for nm, *_ in D8]
    )
    return keys.select("r", "c", F.expr(d8_dir_sql(portable.SPARK)).cast("int").alias("dir"))


def flow_accumulation(
    dirs: DataFrame,
    zoom: int,
    max_rounds: int = 17,
    max_closure_rows: int = 50_000_000,
) -> DataFrame:
    """Upstream contributing-cell count + watershed basin per pixel of a
    :func:`flow_direction` output: acc = |{u ≠ v : v on u's flow path}|,
    basin = the path's terminal sink (a pit, or a pixel whose D8 target
    left the interior grid). Path-doubling closure — see module docstring;
    converges (early exit) when the closure stops growing, ≤ ``max_rounds``
    rounds ≥ ⌈log₂ max-path-length⌉. Returns (r, c, acc, basin).

    **Scale bound (explicit, not silent):** the closure P holds one row
    per (node, reachable-downstream-node) pair — O(Σ path length), which
    is O(cells × avg path length) and blows up on long-drainage DEMs
    (continental rivers). The per-round growth is already counted for the
    convergence test, so the bound is enforced for free: the loop refuses
    once the closure exceeds ``max_closure_rows`` (default 50M ≈ a few GB
    shuffled per round) and points at :func:`flow_accumulation_peel`,
    whose O(cells)/round rake-and-compress state never materializes the
    closure — the 100-TB path (bit-identical output, A/B-proven)."""
    import shutil
    import tempfile

    from gaia_spark.session import iter_checkpoint, sever_lineage

    nodes, edges, sinks = _edges_sinks(dirs, zoom)
    scratch = tempfile.mkdtemp(prefix="gaia_facc_")
    try:
        s = edges.unionByName(sinks.withColumn("nxt", F.col("v")))
        p = iter_checkpoint(edges)
        n_p = p.count()
        for _round in range(max_rounds):
            # S is one row per NODE (bounded); P is the growing closure. Always
            # broadcast S — without the hint AQE happily broadcasts a
            # tens-of-MB P (it is under the threshold) and the per-round
            # blockify of the closure OOMs a small driver.
            hop = (
                F.broadcast(s.alias("s"))
                .join(p.alias("p"), F.col("s.nxt") == F.col("p.v"))
                .select(F.col("s.v").alias("v"), F.col("p.nxt").alias("nxt"))
            )
            p2 = iter_checkpoint(p.unionByName(hop).distinct(), release=p)
            s = iter_checkpoint(
                s.alias("a")
                .join(F.broadcast(s.alias("b")), F.col("a.nxt") == F.col("b.v"))
                .select(F.col("a.v").alias("v"), F.col("b.nxt").alias("nxt")),
                release=s,
            )
            n_p2 = p2.count()
            p = p2
            if n_p2 > max_closure_rows:
                raise RuntimeError(
                    f"flow_accumulation: transitive-closure intermediate reached "
                    f"{n_p2} rows (> max_closure_rows={max_closure_rows}) at "
                    f"doubling round {_round + 1} — the closure is O(sum of path "
                    "lengths) and does not scale to long-drainage DEMs; use "
                    "flow_accumulation_peel (O(cells)/round, bit-identical "
                    "output) or raise the bound"
                )
            if n_p2 == n_p:
                break
            n_p = n_p2
            # both S∘S and S⋈P reference their predecessors twice per round —
            # sever the retained object graph periodically (session.sever_lineage)
            if (_round + 1) % 3 == 0:
                p = sever_lineage(p, f"{scratch}/p_{_round}")
                s = sever_lineage(s, f"{scratch}/s_{_round}")
        acc = p.groupBy(F.col("nxt").alias("v")).agg(F.count("*").cast("long").alias("acc"))
        return iter_checkpoint(
            nodes.select("v", "r", "c")
            .join(acc, "v", "left")
            .join(s.withColumnRenamed("nxt", "basin"), "v")
            .select("r", "c", F.coalesce("acc", F.lit(0)).cast("long").alias("acc"), "basin"),
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _edges_sinks(dirs: DataFrame, zoom: int):
    """Shared graph build for the accumulation paths and strahler_order:
    the checkpointed node table, the interior edge list (v, nxt) and the
    sink set."""
    from gaia_spark.session import iter_checkpoint

    n_px = TILE_PX * (1 << zoom)
    # materialize the node table once: its downstream consumers (targets,
    # edge semi-join, sink anti-join, final join) would otherwise each
    # replay the full flow_direction plan (pixels_of + pivot + argmax)
    nodes = iter_checkpoint(
        dirs.select((F.col("r") * n_px + F.col("c")).alias("v"), "r", "c", "dir")
    )
    tgt = nodes.where(F.col("dir") > 0).select(
        "v",
        (
            (F.col("r") + F.expr(d8_step_sql(0))) * n_px
            + F.pmod(F.col("c") + F.expr(d8_step_sql(1)), F.lit(n_px))
        ).alias("nxt"),
    )
    # flow leaving the interior grid terminates: keep edges inside the node set
    edges = tgt.join(
        nodes.select(F.col("v").alias("nxt")), "nxt", "left_semi"
    ).select("v", "nxt")
    sinks = nodes.select("v").join(edges.select("v"), "v", "left_anti")
    return nodes, edges, sinks


def _basins(
    edges: DataFrame,
    sinks: DataFrame,
    max_rounds: int,
    scratch: str | None = None,
) -> DataFrame:
    """Terminal sink per node by successor pointer doubling: S_{k+1} =
    S_k ∘ S_k with sinks self-absorbed — one row per node per round,
    ⌈log₂ max-path⌉ rounds. The self-join references S twice per round, so
    the retained object graph is severed every 3 rounds (session.
    sever_lineage). Returns (v, basin)."""
    import shutil
    import tempfile

    from gaia_spark.session import iter_checkpoint, sever_lineage

    own = scratch is None
    scratch = scratch or tempfile.mkdtemp(prefix="gaia_basins_")
    try:
        s = iter_checkpoint(edges.unionByName(sinks.withColumn("nxt", F.col("v"))))
        sink_set = sinks.select(F.col("v").alias("nxt"))
        n_settled = s.join(sink_set, "nxt", "left_semi").count()
        n_all = s.count()
        rounds = 0
        while n_settled < n_all:
            rounds += 1
            s = iter_checkpoint(
                s.alias("a")
                .join(F.broadcast(s.alias("b")), F.col("a.nxt") == F.col("b.v"))
                .select(F.col("a.v").alias("v"), F.col("b.nxt").alias("nxt")),
                release=s,
            )
            if rounds % 3 == 0:
                s = sever_lineage(s, f"{scratch}/basins_{rounds}")
            n_settled = s.join(sink_set, "nxt", "left_semi").count()
        return iter_checkpoint(s.withColumnRenamed("nxt", "basin"))
    finally:
        if own:
            shutil.rmtree(scratch, ignore_errors=True)


def flow_accumulation_peel(
    dirs: DataFrame,
    zoom: int,
    max_rounds: int = 200,
    stats: list | None = None,
    scratch_dir: str | None = None,
    sever_every: int = 3,
) -> DataFrame:
    """Scale-safe flow accumulation: rake-and-compress tree contraction
    whose per-round state is **O(cells)** — the fix for the closure path's
    O(Σ path-length) intermediate (see :func:`flow_accumulation`), which is
    fine on tile fixtures but reaches 10¹⁰⁺ rows on continental DEMs where
    main-stem flow paths run 10⁴–10⁵ cells.

    The D8 graph is a functional forest (strictly-downhill ⇒ acyclic;
    edges point downstream = toward the root sink). acc(v) = subtree
    size − 1 in that forest. Tree contraction:

    - **Rake** (the verdict's "peel in-degree-0 cells"): nodes with no
      remaining upstream are finished — their acc is known; they push
      their subtree size downstream and leave the active set. Rake alone
      is Kahn peeling with O(longest-flow-path) rounds; valleys make that
      10⁴⁺ on real DEMs, hence:
    - **Compress**: an active node v with exactly ONE active upstream c is
      a chain link; an independent set of links (deterministic md5-parity
      coin, never two adjacent) is removed per round. v's answer becomes
      the pending promise subtree(v) = subtree(c) + off with
      off = w(v) + carry(c→v), and the bypass edge c→parent(v) carries
      carry(c→v) + w(v) + carry(v→parent) so downstream totals stay exact.
      Rake+compress contracts any forest in O(log n) expected rounds.

    Pending promises form dependency chains of depth ≤ #rounds, resolved
    afterwards by the same bounded iteration. Every per-round table
    (active, pushes, pending, done) is ≤ one row per cell — asserted by
    ``stats`` (per-round row counts appended for the bounded-intermediate
    pytest). Exact bigint weights throughout ⇒ bit-identical to the
    closure path and the recursive-CTE oracle under any partitioning.

    **Lineage hygiene (measured, not theoretical):** a per-round plan that
    references its predecessor ≥3× makes the RETAINED object graph grow
    ~3× per round even through localCheckpoint/checkpoint — on this
    engine's JVM that turned round 13 of a 4-row join into 142 s. The fix
    is the standard production pattern for long iterative chains: every
    ``sever_every`` rounds the active state takes a parquet write/read
    roundtrip (a genuinely fresh plan), and per-round done/pending
    increments are appended to parquet instead of ever-growing unions.
    ``scratch_dir`` must be shared storage on a real cluster (defaults to
    a local tempdir); it is deleted after the result materializes.
    Returns (r, c, acc, basin)."""
    import shutil
    import tempfile

    from gaia_spark.session import iter_checkpoint, read_parquet, release_checkpoint, sever_lineage

    spark = dirs.sparkSession
    scratch = scratch_dir or tempfile.mkdtemp(prefix="gaia_peel_")
    try:
        nodes, edges, sinks = _edges_sinks(dirs, zoom)
        bit = f"({portable.md5_int60('cast(v as string)', portable.SPARK)}) % 2"
        active = iter_checkpoint(
            edges.unionByName(sinks.withColumn("nxt", F.lit(None).cast("long"))).select(
                "v",
                "nxt",
                F.lit(1).cast("long").alias("w"),
                F.lit(0).cast("long").alias("carry"),
                F.expr(bit).cast("int").alias("bit"),
            ),
        )
        window_cps: list[DataFrame] = [active]
        pend_total = 0
        n_active = active.count()
        rounds = 0
        while n_active > 0 and rounds < max_rounds:
            rounds += 1
            # --- rake: in-degree-0 nodes finish and push subtree size downstream
            indeg = active.groupBy(F.col("nxt").alias("v")).agg(F.count("*").alias("_ind"))
            a = iter_checkpoint(active.join(indeg, "v", "left"))
            window_cps.append(a)
            leaves = a.where(F.col("_ind").isNull())
            leaves.select("v", F.col("w").alias("sub")).write.mode("append").parquet(
                f"{scratch}/done"
            )
            push = (
                leaves.where(F.col("nxt").isNotNull())
                .groupBy(F.col("nxt").alias("v"))
                .agg(F.sum(F.col("w") + F.col("carry")).alias("_add"))
            )
            raked = (
                a.where(F.col("_ind").isNotNull())
                .join(push, "v", "left")
                .select(
                    "v",
                    "nxt",
                    (F.col("w") + F.coalesce(F.col("_add"), F.lit(0))).alias("w"),
                    "carry",
                    "bit",
                )
            )
            # --- compress: TWO passes per round, one per coin parity — each
            # pass removes an independent set of unary chain links (parity-bit
            # nodes whose parent is not itself a selected unary link), and the
            # second pass (opposite parity, in-degrees recomputed) roughly
            # halves the round count vs a single pass (compression removes
            # ~7-13%/round one-sided on terrain grids; rake never creates new
            # work for compress, so rake→compress(1)→compress(0) is exact)
            n_pend = 0
            state = raked
            for parity in (1, 0):
                ind2 = state.groupBy(F.col("nxt").alias("v")).agg(F.count("*").alias("_i2"))
                r2 = iter_checkpoint(
                    state.join(ind2, "v", "left").withColumn(
                        "_unary", F.coalesce(F.col("_i2"), F.lit(0)) == 1
                    ),
                )
                window_cps.append(r2)
                sel = (
                    r2.alias("x")
                    .join(
                        r2.select(
                            F.col("v").alias("nxt"),
                            F.col("_unary").alias("_pu"),
                            F.col("bit").alias("_pb"),
                        ).alias("y"),
                        "nxt",
                        "left",
                    )
                    .where(
                        F.col("_unary")
                        & (F.col("bit") == parity)
                        & ~(F.coalesce(F.col("_pu"), F.lit(False)) & (F.col("_pb") == parity))
                    )
                    .select(
                        F.col("v").alias("sv"),
                        F.col("nxt").alias("snxt"),
                        F.col("w").alias("sw"),
                        F.col("carry").alias("scarry"),
                    )
                )
                j = iter_checkpoint(r2.join(sel, r2["nxt"] == sel["sv"], "left"))
                window_cps.append(j)
                new_pending = j.where(F.col("sv").isNotNull()).select(
                    F.col("sv").alias("v"),
                    j["v"].alias("dep"),
                    (F.col("sw") + F.col("carry")).alias("off"),
                )
                new_pending.write.mode("append").parquet(f"{scratch}/pending")
                state = j.join(
                    j.where(F.col("sv").isNotNull()).select(F.col("sv").alias("v")),
                    "v",
                    "left_anti",
                ).select(
                    "v",
                    # child of a compressed node: inherit its nxt VERBATIM (NULL when
                    # the compressed node was a sink — the child becomes the sink;
                    # a coalesce here would leave it pointing at the removed node)
                    F.when(F.col("sv").isNotNull(), F.col("snxt")).otherwise(F.col("nxt")).alias("nxt"),
                    "w",
                    F.when(
                        F.col("sv").isNotNull(),
                        F.col("carry") + F.col("sw") + F.col("scarry"),
                    )
                    .otherwise(F.col("carry"))
                    .alias("carry"),
                    "bit",
                )
                n_pend += new_pending.count()
            active = state
            pend_total += n_pend
            n_active = n_active - leaves.count() - n_pend
            if rounds % sever_every == 0 and n_active > 0:
                active = sever_lineage(active, f"{scratch}/active_{rounds}")
                for frame in window_cps:
                    release_checkpoint(frame)
                window_cps = []
            if stats is not None:
                stats.append({"round": rounds, "active": n_active, "pending": pend_total})
        if n_active > 0:
            stuck = [tuple(r) for r in active.limit(10).collect()]
            raise RuntimeError(
                f"flow_accumulation_peel: {n_active} active after {max_rounds} "
                f"rounds; first rows (v, nxt, w, carry, bit): {stuck}"
            )
        done = read_parquet(spark, f"{scratch}/done")
        # --- resolve pending promises: dep chains have depth <= #rounds
        sub = done
        if pend_total:
            pending = read_parquet(spark, f"{scratch}/pending")
            unresolved = iter_checkpoint(pending.select("v", F.col("dep").alias("ptr"), "off"))
            pmap = pending.select(
                F.col("v").alias("ptr"), F.col("dep").alias("_pdep"), F.col("off").alias("_poff")
            )
            n_un = unresolved.count()
            guard = 0
            _prev_sub = None
            while n_un > 0:
                guard += 1
                if guard > max_rounds:
                    raise RuntimeError("flow_accumulation_peel: pending chain too deep")
                hit = unresolved.join(
                    done.select(F.col("v").alias("ptr"), "sub"), "ptr"
                ).select("v", (F.col("off") + F.col("sub")).alias("sub"))
                sub = iter_checkpoint(
                    sub.unionByName(hit.select("v", "sub")), release=_prev_sub
                )
                _prev_sub = sub
                unresolved = iter_checkpoint(
                    unresolved.join(pmap, "ptr")
                    .select("v", F.col("_pdep").alias("ptr"), (F.col("off") + F.col("_poff")).alias("off")),
                    release=unresolved,
                )
                n_un = unresolved.count()
        basins = _basins(edges, sinks, max_rounds, scratch=scratch)
        out = iter_checkpoint(
            nodes.select("v", "r", "c")
            .join(sub, "v")
            .join(basins, "v")
            .select("r", "c", (F.col("sub") - 1).cast("long").alias("acc"), "basin"),
        )
        for frame in window_cps:
            release_checkpoint(frame)
        return out
    finally:
        if scratch_dir is None:
            shutil.rmtree(scratch, ignore_errors=True)


def cost_distance(
    raster: DataFrame,
    zoom: int,
    band: int = 0,
    iters: int = 6,
    source_mod: int = 1021,
    cost_shift: float = 150.0,
) -> DataFrame:
    """ArcGIS-style Cost Distance: the accumulated least-cost travel
    distance from the nearest source cell, where moving between adjacent
    cells costs the mean of their two cost-surface values times the step
    length (1 orthogonal, √2 diagonal).

    Composition of two proven pieces: the focal 8-offset scatter builds the
    bidirectional edge list ((src, dst, w) — scatter each pixel's e4 cost
    to its neighbor targets, ONE equi-join attaches the target's own cost;
    no pair enumeration beyond the 8 in-plan offsets), and
    :func:`gaia_spark.operators.graph.shortest_paths` runs ``iters``
    Bellman–Ford (min, +) rounds from the multi-source frontier. Cells
    farther than ``iters`` steps stay absent (documented truncation — the
    caller picks iters for the horizon it needs; each round is one
    equi-join + one combinable min at any scale).

    Cost surface = band value + ``cost_shift`` (must make every cell
    positive; negative costs are rejected by shortest_paths). Sources are
    the cells with (r·n+c) ≡ 0 mod ``source_mod``. Determinism: edge
    weights are doubles built from exact e4 bigints by ONE shared
    expression; min keeps the value of one specific relaxation chain, so
    the truncated iteration is bit-identical cross-engine. Returns
    (r, c, dist_e6)."""
    from gaia_spark.operators.graph import shortest_paths
    from gaia_spark.operators.raster import pixels_of
    from gaia_spark.synth import TILE_PX

    n_px = TILE_PX * (1 << zoom)
    pp = TILE_PX * TILE_PX
    px = pixels_of(raster.where((F.col("zoom") == zoom) & (F.col("band") == band)))
    t = portable.idiv_sql("pixel_id", pp)
    cost = portable.floor_scaled_sql(f"(v + cast({int(cost_shift)} as double))", 4)
    decoded = px.select(
        F.expr(
            f"(({t}) % 65536) * {TILE_PX} + {portable.idiv_sql(f'pixel_id % {pp}', TILE_PX)}"
        ).alias("r"),
        F.expr(
            f"(({portable.idiv_sql(t, 65536)}) % 65536) * {TILE_PX} + pixel_id % {TILE_PX}"
        ).alias("c"),
        F.expr(cost).alias("c_e4"),
    ).withColumn("node", F.col("r") * n_px + F.col("c"))
    offs = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)]
    arr = "array(" + ", ".join(
        f"struct({dr} AS dr, {dc} AS dc, {2 if dr == 0 or dc == 0 else 1} AS m)"
        for dr, dc in offs
    ) + ")"
    # step length: m=2 → 1.0, m=1 → √2 (the d8 orthogonal/diagonal flag)
    w = (
        "(cast(_cs + c_e4 as double) / cast(20000 as double)) * "
        "(CASE WHEN _m = 2 THEN cast(1 as double) ELSE sqrt(cast(2 as double)) END)"
    )
    edges = (
        decoded.withColumn("_o", F.explode(F.expr(arr)))
        .select(
            F.col("node").alias("src"),
            (F.col("r") + F.col("_o.dr")).alias("tr"),
            F.pmod(F.col("c") + F.col("_o.dc"), F.lit(n_px)).alias("tc"),
            F.col("c_e4").alias("_cs"),
            F.col("_o.m").alias("_m"),
        )
        .where((F.col("tr") >= 0) & (F.col("tr") < n_px))
        .join(
            decoded.select(F.col("r").alias("tr"), F.col("c").alias("tc"), "c_e4", "node"),
            ["tr", "tc"],
        )
        .select("src", F.col("node").alias("dst"), F.expr(w).alias("w"))
    )
    srcs = decoded.where(F.col("node") % source_mod == 0).select("node")
    d = shortest_paths(edges, srcs, iters=iters)
    return d.select(
        F.expr(f"node div {n_px}").cast("long").alias("r"),
        (F.col("node") % n_px).cast("long").alias("c"),
        F.expr(portable.floor_scaled_sql("dist", 6)).alias("dist_e6"),
    )


def isochrones(
    raster: DataFrame,
    zoom: int,
    breaks_m: list[float],
    band: int = 0,
    iters: int = 6,
    source_mod: int = 1021,
) -> DataFrame:
    """Isochrone bands over a :func:`cost_distance` surface: every reached
    cell falls in band ``#{breaks ≤ dist}`` (0 .. len(breaks)), compared on
    the exact e6-quantized distances so band edges never flip cross-engine;
    one combinable count per band. Returns (band, n_cells, min_e6,
    max_e6) — the service-area summary ArcGIS draws as rings."""
    import math

    d = cost_distance(raster, zoom, band, iters, source_mod)
    bq = [math.floor(b * 1_000_000 + 0.5) for b in sorted(breaks_m)]
    cls = "(" + " + ".join(f"CASE WHEN dist_e6 >= {b} THEN 1 ELSE 0 END" for b in bq) + ")"
    return (
        d.withColumn("band", F.expr(cls).cast("long"))
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.min("dist_e6").cast("long").alias("min_e6"),
            F.max("dist_e6").cast("long").alias("max_e6"),
        )
    )


def strahler_order(
    dirs: DataFrame,
    zoom: int,
    max_rounds: int = 64,
) -> DataFrame:
    """Strahler stream order over the D8 drainage forest: leaves are order
    1; an interior cell takes its children's maximum order, +1 when two or
    more children attain that maximum — the stream-network hierarchy
    metric downstream of :func:`flow_direction`.

    Algorithm: iterative finalize-by-readiness (a cell finalizes once all
    upstream children have), the topological-peel discipline of
    flow_accumulation_peel: per round ONE child→parent join + one
    combinable aggregate over a state table of O(cells) rows, lineage cut
    every round, loud raise after ``max_rounds`` unconverged rounds.
    Round count = drainage-tree height (12 on the zoom-0 fixture); heights
    at continental scale are bounded by main-stem length, the same bound
    the peel path documents. Returns (r, c, strahler)."""
    nodes, edges, _ = _edges_sinks(dirs, zoom)
    from gaia_spark.session import iter_checkpoint

    n_ch = edges.groupBy(F.col("nxt").alias("v")).agg(
        F.count("*").alias("n_children")
    )
    state = iter_checkpoint(
        nodes.join(n_ch, "v", "left").select(
            "v",
            F.lit(1).alias("ord"),
            F.when(F.col("n_children").isNull(), 1).otherwise(0).alias("fin"),
            F.coalesce("n_children", F.lit(0)).alias("n_children"),
        ),
    )
    for _ in range(max_rounds):
        if state.where(F.col("fin") == 0).limit(1).count() == 0:
            break
        # reports from FINALIZED children to their parent
        rep = (
            state.where(F.col("fin") == 1)
            .join(edges, "v")
            .groupBy(F.col("nxt").alias("v"))
            .agg(
                F.count("*").alias("_n_rep"),
                F.expr(
                    "slice(reverse(array_sort(collect_list(ord))), 1, 2)"
                ).alias("_top2"),
            )
        )
        new_ord = (
            "CASE WHEN size(_top2) >= 2 AND _top2[0] = _top2[1] "
            "THEN _top2[0] + 1 ELSE _top2[0] END"
        )
        prev = state
        state = iter_checkpoint(
            state.join(rep, "v", "left").select(
                "v",
                F.expr(
                    f"CASE WHEN fin = 1 THEN ord "
                    f"WHEN _n_rep IS NOT NULL AND _n_rep = n_children "
                    f"THEN {new_ord} ELSE ord END"
                ).alias("ord"),
                F.expr(
                    "CASE WHEN fin = 1 OR (_n_rep IS NOT NULL "
                    "AND _n_rep = n_children) THEN 1 ELSE 0 END"
                ).alias("fin"),
                "n_children",
            ),
            release=prev,
        )
    else:
        n_left = state.where(F.col("fin") == 0).count()
        raise RuntimeError(
            f"strahler_order: {n_left} cells unfinalized after "
            f"{max_rounds} rounds — cyclic dirs or raise max_rounds"
        )
    return state.join(nodes, "v").select(
        "r", "c", F.col("ord").cast("int").alias("strahler")
    )
