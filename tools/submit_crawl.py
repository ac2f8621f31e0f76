"""spark-submit entry point for the crawl engine.

The north rule requires the pipeline to be submitted via
``spark-submit --py-files``; this is that driver script. It builds (or
reads) a page corpus, runs the engine to frontier exhaustion with
checkpointing, and prints a one-line JSON summary.

Package & submit:

    cd /root/repo && zip -r /tmp/ant_spark.zip ant_spark
    spark-submit --master 'local[8]' --py-files /tmp/ant_spark.zip \
        tools/submit_crawl.py --pages /data/pages --checkpoint /data/ckpt

On a real cluster swap the master URL; the script has no other
local-mode assumptions (state lives under --checkpoint, which would be an
Iceberg warehouse path in production).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python tools/submit_crawl.py` support; under spark-submit the
# --py-files zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="parquet dir of the page corpus")
    ap.add_argument("--robots", default=None, help="parquet dir of robots rows")
    ap.add_argument("--seeds", default=None, help="comma-separated seed URLs")
    ap.add_argument("--gen-pages", type=int, default=0,
                    help="generate a synthetic graph of N pages instead")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-rounds", type=int, default=None)
    ap.add_argument("--ordering", default="partitioned", choices=["bfs", "partitioned"])
    ap.add_argument("--dedupe", default="exact")
    ap.add_argument("--state-backend", default="auto",
                    choices=["auto", "parquet", "bucketed"])
    ap.add_argument("--ua", default="antbot")
    ap.add_argument("--warc", default=None,
                    help="read the page corpus from WARC file(s)/glob "
                         "instead of parquet (Common Crawl segments)")
    ap.add_argument("--pages-table-path", default=None,
                    help="stage the corpus as a url-bucketed table here and "
                         "run the zero-Exchange fetch join (100 TB mode)")
    ap.add_argument("--fetch-buckets", type=int, default=32)
    ap.add_argument("--render", default="off", choices=["off", "fake"],
                    help="S4 render seam: 'fake' plugs the document.write "
                         "kernel (a real CDP renderer is any bytes->bytes "
                         "callable on CrawlConfig.render_fn)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ant_spark import schemas
    from ant_spark.engine import CrawlConfig, Engine

    # spark-submit provides master/executors/--conf; layer the engine's
    # SQL-level tuning (AQE, runtime bloom, Arrow, advisory partition size)
    # on top — all runtime-settable confs, overridable via --conf.
    from ant_spark.session import ENGINE_CONF

    builder = SparkSession.builder.appName("ant_spark_crawl")
    for k, v in ENGINE_CONF.items():
        if k.startswith("spark.sql.") or k == "spark.ui.showConsoleProgress":
            builder = builder.config(k, v)
    spark = builder.getOrCreate()

    if args.gen_pages:
        from ant_spark.sources.webgraph import GraphConfig, generate

        cfg = GraphConfig(n_pages=args.gen_pages, n_hosts=max(8, args.gen_pages // 400))
        pages_pdf, robots_pdf, seeds = generate(cfg)
        pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
        robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    elif args.warc:
        from ant_spark.sources.warc import read_warc, warc_to_pages

        pages = warc_to_pages(read_warc(spark, args.warc))
        robots = spark.read.parquet(args.robots) if args.robots else None
        seeds = (args.seeds or "").split(",") if args.seeds else []
    else:
        if not args.pages:
            raise SystemExit("--pages, --warc or --gen-pages required")
        pages = spark.read.parquet(args.pages)
        robots = spark.read.parquet(args.robots) if args.robots else None
        seeds = (args.seeds or "").split(",") if args.seeds else []

    extra = {}
    if args.pages_table_path:
        Engine.create_pages_table(
            spark, pages, "ant_submit_pages", args.pages_table_path,
            buckets=args.fetch_buckets,
        )
        extra = {"pages_table": "ant_submit_pages",
                 "fetch_buckets": args.fetch_buckets}
    if args.render == "fake":
        from ant_spark.operators.render import fake_js_renderer

        extra["render_fn"] = fake_js_renderer

    ccfg = CrawlConfig(
        ua=args.ua,
        ordering=args.ordering,
        dedupe=args.dedupe,
        state_backend=args.state_backend,
        max_rounds=args.max_rounds,
        checkpoint_dir=args.checkpoint,
        **extra,
    )
    t0 = time.time()
    res = Engine(spark, pages, robots, ccfg).run(seeds, resume=args.resume)
    print(
        json.dumps(
            {
                "rounds": res.rounds,
                "pages_fetched": res.pages_fetched,
                "urls_enqueued": res.urls_enqueued,
                "crawl_wall_sec": res.crawl_wall_sec,
                "total_wall_sec": round(time.time() - t0, 2),
                "urls_per_sec": round(
                    res.pages_fetched / res.crawl_wall_sec, 1
                ) if res.crawl_wall_sec else 0,
                "state_dir": res.state_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
