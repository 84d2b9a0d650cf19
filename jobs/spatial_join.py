"""spark-submit batch entry (SURVEY.md §3.2 E3', BASELINE.json:14).

Usage:
    spark-submit --py-files gaia_spark.zip jobs/spatial_join.py \
        --pages /data/pages --zones synth16 --output /data/out \
        --job-id crawl-2025-01 [--predicate within] [--cell-res N]

Resumable: pages are processed one lang unit at a time, each unit one atomic
append to the output table whose manifest records (job_id, unit); on
restart, units with a committed record are skipped (exactly-once).
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True, help="pages parquet dir, or synth:<n>")
    p.add_argument("--zones", default="synth16")
    p.add_argument("--output", required=True)
    p.add_argument("--job-id", default="spatial-join")
    p.add_argument("--predicate", default="within")
    p.add_argument("--cell-res", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join
    from gaia_spark.plans.pipeline import _zones
    from gaia_spark.session import get_session, read_parquet
    from gaia_spark.sources.icelite import IceTable
    from gaia_spark.sources.lineage import ResumableJob
    from gaia_spark.synth import LANGS, synth_pages

    spark = get_session(app_name=args.job_id)
    idx = ZoneIndex.build(_zones(args.zones), args.cell_res)

    def load_pages():
        if args.pages.startswith("synth:"):
            return synth_pages(spark, int(args.pages.split(":", 1)[1]))
        return read_parquet(spark, args.pages)

    def process(spark_, unit: str):
        pages = load_pages().where(F.col("lang") == unit)
        joined = spatial_join(geoparse(pages), idx, args.predicate, point_key="url")
        return joined.select("url", "lat", "lon", "zone_id")

    job = ResumableJob(spark, args.job_id, IceTable(args.output))
    stats = job.run(list(LANGS), process)
    print(f"done: {stats}")


if __name__ == "__main__":
    main()
