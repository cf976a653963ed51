"""spark-submit entry point for the crawl scheduler.

Usage (cluster):
    tools/submit.sh --seeds s3://.../seeds.parquet --robots .../robots.parquet \
        --docs .../documents_spans.parquet --state-dir .../state --rounds 10

The master/deploy-mode come from spark-submit; this script only declares
the job. Local smoke: tools/submit.sh --local ... (uses local[4]).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from cc_dbp_spark.operators import filters, frontier


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--robots", required=True)
    ap.add_argument("--docs", required=True)
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--out", required=True, help="output dir for schedule/emitted/audit")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--budget-s", type=float, default=10.0)
    ap.add_argument("--filter", choices=filters.FILTER_KINDS, default="bloom")
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("cc-dbp-spark-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    cfg = frontier.CrawlConfig(
        round_budget_s=args.budget_s,
        max_rounds=args.rounds,
        filter_kind=args.filter,
    )
    driver = frontier.CrawlDriver(
        spark,
        robots=spark.read.parquet(args.robots),
        docs=spark.read.parquet(args.docs),
        cfg=cfg,
        state_dir=args.state_dir,
    )
    out = driver.run(spark.read.parquet(args.seeds), resume=args.resume)
    for name in ("schedule", "emitted", "audit"):
        out[name].write.mode("overwrite").parquet(f"{args.out}/{name}")
    n = out["schedule"].count()
    print(f"crawl done: {n} urls scheduled across <= {args.rounds} rounds")
    spark.stop()


if __name__ == "__main__":
    main()
