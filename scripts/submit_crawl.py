"""spark-submit entry point: one full crawl over a pages corpus.

The north-rule packaging contract: the engine ships as a zip on
``--py-files`` and this script is the application — no repo checkout
on the executors, everything resolves from the shipped archive.

    python scripts/package.py                       # build dist/hepcrawl_spark.zip
    spark-submit --master local[8] \
        --py-files dist/hepcrawl_spark.zip \
        scripts/submit_crawl.py \
        --sf-dir /root/testdata/sf0.001 \
        --checkpoint /tmp/crawl-ckpt --out /tmp/crawl-records

Prints one JSON summary line (records/errors/scheduled/rounds +
manifest path).  tests/test_submit.py runs this end-to-end through a
real ``spark-submit`` subprocess.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-rounds", type=int, default=4)
    ap.add_argument("--job-id", default="submit-crawl")
    ap.add_argument("--seeds", choices=["corpus", "infn", "mit"],
                    default="corpus")
    # The ONE place the wall clock may set a seed year: resolved per
    # job at submit time and recorded in the summary, so a resumed or
    # re-run job can pass the same value explicitly.  The seedgen
    # library itself requires an explicit year (reproducibility).
    ap.add_argument("--seed-year",
                    default=str(__import__("datetime").date.today().year))
    args = ap.parse_args()

    # spark-submit owns the session; the imports below must resolve
    # from the --py-files archive
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.frontier.rounds import (
        CrawlConfig,
        make_seeds,
        run_crawl,
    )

    spark = (
        SparkSession.builder.appName("hepcrawl-submit-crawl")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".docs.example.com"))
    pages = docs.select(
        F.concat(F.lit("http://"), host, F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(F.lit("<html><head><title>Doc "),
                     F.col("doc_id").cast("string"),
                     F.lit("</title></head><body><p>"), F.col("text"),
                     F.lit("</p></body></html>")),
            "UTF-8",
        ).alias("html"),
        F.lit("html-generic").alias("format"),
    )
    # make_seeds routes source → format via SOURCE_FORMATS (unknown
    # sources pass through as the format tag itself)
    if args.seeds == "infn":
        from hepcrawl_spark.sources.seedgen import infn_seeds

        seeds = infn_seeds(spark, year=args.seed_year)
    elif args.seeds == "mit":
        from hepcrawl_spark.sources.seedgen import mit_seeds

        seeds = mit_seeds(spark, year=args.seed_year)
    else:
        seeds = make_seeds(
            spark,
            [(r.url, "html-generic", 0)
             for r in pages.select("url").orderBy("url").collect()],
        )
    store = RoundStore(spark, args.checkpoint)
    summary = run_crawl(
        spark, seeds, pages, store=store,
        config=CrawlConfig(seen_mode="exact", max_rounds=args.max_rounds,
                           job_id=args.job_id),
    )
    records = store.all_records()
    n_out = 0
    if records is not None:
        records.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
    summary["records_written"] = n_out
    summary["seed_year"] = args.seed_year
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
