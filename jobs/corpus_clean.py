"""spark-submit batch entry: the training-data corpus pipeline, resumable.

Usage:
    spark-submit --py-files gaia_spark.zip jobs/corpus_clean.py \
        --documents /data/documents --output /data/clean \
        --job-id clean-2025-01 [--context-len 512] [--minhash] [--quality-min 0.5]

Per unit (= source stratum, the natural crawl partition), the pipeline is:
quality gate → PII scrub → exact dedup (earliest doc_id survives; optional
MinHash-LSH near-dup pass) → token counts → sequence-packing spans.
Each unit is one atomic append through ResumableJob, its manifest the unit's
lineage record — on restart, done units are skipped, the same exactly-once
contract as jobs/spatial_join.py.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--documents", required=True, help="documents parquet dir")
    p.add_argument("--output", required=True)
    p.add_argument("--job-id", default="corpus-clean")
    p.add_argument("--context-len", type=int, default=512)
    p.add_argument("--quality-min", type=float, default=0.5)
    p.add_argument("--minhash", action="store_true", help="add MinHash near-dup pass")
    args = p.parse_args(argv)

    import pyspark.sql.functions as F

    from gaia_spark.functions import portable as P
    from gaia_spark.functions import text as T
    from gaia_spark.operators.dedup import (
        dedup_keep_canonical,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from gaia_spark.operators.prefix import pack_token_spans
    from gaia_spark.session import get_session, read_parquet
    from gaia_spark.sources.icelite import IceTable
    from gaia_spark.sources.lineage import ResumableJob

    spark = get_session(app_name=args.job_id)

    docs_all = read_parquet(spark, args.documents)
    units = sorted(r.source for r in docs_all.select("source").distinct().collect())

    def process(spark_, unit: str):
        d = docs_all.where(F.col("source") == unit)
        d = d.withColumn(
            "quality", F.expr(T.quality_score_sql("text", P.SPARK))
        ).where(F.col("quality") >= args.quality_min)
        d = d.withColumn("text", F.expr(T.pii_scrub_sql("text", P.SPARK)))
        d = exact_dedup(d)
        if args.minhash:
            pairs = minhash_lsh_pairs(d, max_band_count=10_000)
            d = dedup_keep_canonical(d, pairs)
        d = d.withColumn(
            "n_tokens", F.expr(T.token_count_sql("text", P.SPARK)).cast("long")
        )
        packed = pack_token_spans(
            d, "n_tokens", context_len=args.context_len, part_col=None
        )
        return packed.select(
            "doc_id", "source", "text", "n_tokens", "tok_start", "bin_first", "bin_last"
        )

    job = ResumableJob(spark, args.job_id, IceTable(args.output))
    stats = job.run(units, process)
    print(f"done: {stats}")


if __name__ == "__main__":
    main()
