"""spark-submit entry point: run the crawl loop against a warehouse.

Usage (cluster):
    spark-submit --py-files engine.zip jobs/crawl.py \
        --warehouse /data/wh --rounds 10 --budget 50 --batch-size 100000 \
        [--bloom] [--synth-pages 1000000 --synth-hosts 1000]   # bootstrap

On first run with --synth-pages the warehouse is bootstrapped with the
deterministic synthetic web; subsequent runs resume from the last committed
checkpoint (kill-safe, north_rule).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--budget", type=int, default=5)
    ap.add_argument("--batch-size", type=int, default=1000)
    ap.add_argument("--bloom", action="store_true")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="merge-on-read maintenance interval: rounds between "
                         "compactions of the frontier/url_metadata bases "
                         "(1 = compact every round)")
    ap.add_argument("--synth-pages", type=int, default=0)
    ap.add_argument("--synth-hosts", type=int, default=100)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    # real-network crawl: seeds from --seeds-file, fetch over HTTP
    ap.add_argument("--http", action="store_true",
                    help="fetch over real HTTP (operators/httpfetch.py) "
                         "instead of the synthetic-web join")
    ap.add_argument("--seeds-file", default=None,
                    help="newline-delimited seed URLs (bootstraps a fresh "
                         "warehouse without a synthetic web; implies --http)")
    args = ap.parse_args()

    from adavnceseo_crawler_spark import synth
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop
    from adavnceseo_crawler_spark.session import get_spark

    spark = get_spark(
        "crawl", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    http_mode = args.http or args.seeds_file is not None
    cfg = CrawlConfig(
        politeness_budget=args.budget,
        batch_size=args.batch_size,
        max_rounds=args.rounds,
        use_bloom=args.bloom,
        fetch_mode="http" if http_mode else "synthetic",
        compact_every=args.compact_every,
    )
    cat = SnapshotCatalog(spark, args.warehouse)

    if not cat.exists("checkpoint"):
        if args.seeds_file:
            from adavnceseo_crawler_spark import schemas

            from pyspark.sql import functions as F

            # trim + drop blanks: a trailing space would survive
            # canonicalization inside the path and yield a wrong canonical url
            seeds = (
                spark.read.text(args.seeds_file)
                .select(F.trim("value").alias("url"))
                .filter(F.length("url") > 0)
            )
            loop.bootstrap(
                spark, cat, cfg, seeds, None,
                spark.createDataFrame([], schemas.ROBOTS),
            )
        elif args.synth_pages:
            n, h = args.synth_pages, args.synth_hosts
            loop.bootstrap(
                spark,
                cat,
                cfg,
                synth.gen_seeds(spark, n, h),
                synth.gen_pages(spark, n, h, partitions=max(32, n // 50000)),
                synth.gen_robots(spark, h),
            )
        else:
            raise SystemExit(
                "fresh warehouse: pass --synth-pages or --seeds-file to bootstrap"
            )

    stats = loop.run_crawl(spark, cat, cfg, max_rounds=args.rounds)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
