"""Declarative JSON pipeline (E1') + spark-submit job (E3') tests."""

from gaia_spark.plans.pipeline import build_pipeline, run_pipeline_spec
from gaia_spark.sources.icelite import IceTable


def test_pipeline_spec_end_to_end(spark, tmp_path):
    spec = {
        "source": {"kind": "pages_synth", "n": 500, "partitions": 2},
        "steps": [
            {"op": "geoparse"},
            {"op": "filter", "filters": [["lang", "in", ["en", "es", "de", "fr", "zh"]]]},
            {"op": "cell", "res": 6},
            {"op": "within", "zones": "synth16"},
            {"op": "agg_count", "by": ["zone_id"], "alias": "n"},
        ],
        "sink": {"kind": "icelite", "path": str(tmp_path / "zc")},
    }
    df = run_pipeline_spec(spark, spec)
    assert df.count() > 0
    assert IceTable(str(tmp_path / "zc")).read(spark).count() == df.count()


def test_pipeline_matches_fluent_api(spark):
    from gaia_spark.engine import Engine
    from gaia_spark.operators.spatial_join import ZoneIndex
    from gaia_spark.synth import synth_pages, synth_zones_pdf

    spec = {
        "source": {"kind": "pages_synth", "n": 400, "partitions": 2},
        "steps": [{"op": "geoparse"}, {"op": "within", "zones": "synth16"},
                  {"op": "agg_count", "by": ["zone_id"], "alias": "n"}],
    }
    a = {(r.zone_id, r.n) for r in build_pipeline(spark, spec).collect()}
    eng = Engine(spark)
    idx = ZoneIndex.build(synth_zones_pdf(16))
    b = {
        (r.zone_id, r.n)
        for r in eng.frame(synth_pages(spark, 400, 2)).geoparse()
        .join_zones(idx, "within").df.groupBy("zone_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert a == b


def test_unknown_op_rejected(spark):
    import pytest

    with pytest.raises(ValueError, match="unknown op"):
        build_pipeline(spark, {"source": {"kind": "pages_synth", "n": 10}, "steps": [{"op": "nope"}]})


def test_spark_submit_job_resumable(spark, tmp_path, monkeypatch):
    """Run the jobs/spatial_join.py main() in-process (same code path that
    spark-submit executes) and resume after an injected kill."""
    import jobs.spatial_join as job

    out = str(tmp_path / "out")
    argv = [
        "--pages", "synth:300", "--zones", "synth16",
        "--output", out, "--job-id", "t-job",
    ]
    job.main(argv)
    n1 = IceTable(out).read(spark).count()
    assert n1 > 0
    # rerun: everything skipped, output unchanged
    job.main(argv)
    assert IceTable(out).read(spark).count() == n1


def test_pipeline_feature_join_matches_direct(spark, tmp_path):
    """Declarative feature_within spec ≡ direct feature_spatial_join call."""
    import pyspark.sql.functions as F

    from gaia_spark.operators.feature_join import feature_spatial_join
    from gaia_spark.operators.spatial_join import ZoneIndex
    from gaia_spark.plans.pipeline import build_pipeline
    from gaia_spark.synth import synth_zones_pdf

    ring = (
        "array(struct(_a AS lat, _b AS lon), struct(_a AS lat, _d AS lon), "
        "struct(_c AS lat, _d AS lon), struct(_c AS lat, _b AS lon), "
        "struct(_a AS lat, _b AS lon))"
    )
    feats = (
        spark.range(1, 2500)
        .select(
            F.col("id").alias("feature_id"),
            F.expr("((id * 7919) % 14000) / cast(100 as double) - 70.0").alias("_x"),
            F.expr("((id * 104729) % 33000) / cast(100 as double) - 165.0").alias("_y"),
        )
        .selectExpr("feature_id", "_x - 0.3 AS _a", "_x + 0.3 AS _c", "_y - 0.4 AS _b", "_y + 0.4 AS _d")
        .select("feature_id", F.expr(ring).alias("vertices"))
    )
    path = str(tmp_path / "feats")
    feats.write.parquet(path)

    spec = {
        "source": {"kind": "parquet", "path": path},
        "steps": [{"op": "feature_intersects", "zones": "synth16"}],
    }
    via_spec = {
        (r.feature_id, r.zone_id) for r in build_pipeline(spark, spec).collect()
    }
    idx = ZoneIndex.build(synth_zones_pdf(16))
    direct = {
        (r.feature_id, r.zone_id)
        for r in feature_spatial_join(
            spark.read.parquet(path), idx, "intersects", feature_key="feature_id"
        ).collect()
    }
    assert via_spec == direct and len(direct) > 0


def test_pipeline_feature_distance_and_near(spark, tmp_path):
    """feature_distance / feature_near / near pipeline ops == direct calls."""
    import pyspark.sql.functions as F

    from gaia_spark.operators.feature_distance import (
        feature_distance_nearest,
        feature_near_join,
    )
    from gaia_spark.operators.spatial_join import ZoneIndex
    from gaia_spark.plans.pipeline import build_pipeline
    from gaia_spark.synth import synth_zones_pdf

    ring = (
        "array(struct(_a AS lat, _b AS lon), struct(_a AS lat, _d AS lon), "
        "struct(_c AS lat, _d AS lon), struct(_c AS lat, _b AS lon), "
        "struct(_a AS lat, _b AS lon))"
    )
    feats = (
        spark.range(1, 400)
        .select(
            F.col("id").alias("feature_id"),
            F.expr("((id * 7919) % 14000) / cast(100 as double) - 70.0").alias("_x"),
            F.expr("((id * 104729) % 33000) / cast(100 as double) - 165.0").alias("_y"),
        )
        .selectExpr("feature_id", "_x - 0.3 AS _a", "_x + 0.3 AS _c", "_y - 0.4 AS _b", "_y + 0.4 AS _d")
        .select("feature_id", F.expr(ring).alias("vertices"))
    )
    path = str(tmp_path / "feats")
    feats.write.parquet(path)
    idx = ZoneIndex.build(synth_zones_pdf(16))

    spec_d = {
        "source": {"kind": "parquet", "path": path},
        "steps": [{"op": "feature_distance", "zones": "synth16"}],
    }
    via = {(r.feature_id, r.zone_id, round(r.dist_m, 6))
           for r in build_pipeline(spark, spec_d).collect()}
    direct = {(r.feature_id, r.zone_id, round(r.dist_m, 6))
              for r in feature_distance_nearest(
                  spark.read.parquet(path), idx, feature_key="feature_id").collect()}
    assert via == direct and len(via) > 0

    spec_n = {
        "source": {"kind": "parquet", "path": path},
        "steps": [{"op": "feature_near", "zones": "synth16", "radius_m": 500000.0}],
    }
    via_n = {(r.feature_id, r.zone_id) for r in build_pipeline(spark, spec_n).collect()}
    direct_n = {(r.feature_id, r.zone_id)
                for r in feature_near_join(
                    spark.read.parquet(path), idx, 500000.0, feature_key="feature_id").collect()}
    assert via_n == direct_n and len(via_n) > 0


def test_corpus_clean_job_end_to_end(spark, tmp_path):
    """jobs/corpus_clean.py main() in-process: quality gate + scrub + dedup
    + packing manifest land through the resumable commit path; rerun is a
    no-op; the minhash variant never KEEPS more docs."""
    import jobs.corpus_clean as job

    out = str(tmp_path / "clean")
    argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out, "--job-id", "t-clean",
        "--quality-min", "0.3",
    ]
    job.main(argv)
    got = IceTable(out).read(spark)
    n1 = got.count()
    assert n1 > 0
    cols = set(got.columns)
    assert {"doc_id", "source", "n_tokens", "tok_start", "bin_first", "bin_last"} <= cols
    # spans are internally consistent
    bad = got.where("bin_first > bin_last + 1 OR tok_start < 0").count()
    assert bad == 0
    # rerun: all units skipped, output unchanged
    job.main(argv)
    assert IceTable(out).read(spark).count() == n1

    out2 = str(tmp_path / "clean_mh")
    job.main([
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out2, "--job-id", "t-clean-mh",
        "--quality-min", "0.3", "--minhash",
    ])
    assert 0 < IceTable(out2).read(spark).count() <= n1
