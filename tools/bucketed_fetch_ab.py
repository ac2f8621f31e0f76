"""A/B: plain vs url-bucketed pages side for the engine's FETCH join.

The fetch join (admitted frontier LEFT OUTER ⋈ pages on url) is the
engine's biggest join — the pages side carries the html. A left outer join
can only build its right side, so locally the small PAGES side is
broadcast; at a 100 TB corpus it does not broadcast and a plain equi-join
SHUFFLES THE HTML every round. The cluster-scale answer is storage
bucketing: the corpus lives in a table CLUSTERED BY (url)
(Engine.create_pages_table; Iceberg bucket(N, url) analogue) and each
round's admitted frontier is staged into the same bucketing — the join
becomes a storage-partitioned SMJ with ZERO Exchanges; the html-bearing
scan is read in place.

This tool runs the REAL engine both ways with broadcast disabled (the
honest 10^10-scale plan shape) on an every-page-seeded wide crawl and
reports, per variant: round wall-clock and the Exchange count of the
engine's own fetch-join plan (ANT_SPARK_EXPLAIN_FETCH hook). A/B runs
alternate within ONE session; the first pair is warm-up.

Expected: bucketed fetch plans show Exchanges=0 (both sides bucketed
scans, SortMergeJoin) while the plain variant shuffles both sides.

Usage: python tools/bucketed_fetch_ab.py [n_pages] (default 240000)
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["ANT_SPARK_EXPLAIN_FETCH"] = "1"
os.environ["ANT_SPARK_EXPLAIN_DEDUPE"] = "1"


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000

    from ant_spark import schemas
    from ant_spark.engine import Engine, CrawlConfig
    from ant_spark.session import get_spark
    from ant_spark.sources.webgraph import GraphConfig, generate

    spark = get_spark(
        app_name="bucketed_fetch_ab",
        master="local[32]",
        extra_conf={
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    cfg = GraphConfig(
        n_pages=n_pages, n_hosts=max(32, n_pages // 400), fanout=12,
        crawl_delay_hosts=0, robots_disallow_hosts=0, flaky_every=0,
        dangling_every=0,
    )
    pages_pdf, _, _ = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES).persist()
    pages.count()
    del pages_pdf
    seeds_df = pages.select("url")

    # one-time corpus bucketing (Iceberg table-write analogue) — timed but
    # amortized over every subsequent round/crawl
    tbl_dir = tempfile.mkdtemp(prefix="fetch_ab_pages_")
    t0 = time.time()
    Engine.create_pages_table(
        spark, pages, "fetch_ab_pages", os.path.join(tbl_dir, "t"), buckets=32
    )
    t_bucket = time.time() - t0
    print(f"create_pages_table({n_pages} pages, 32 buckets): {t_bucket:.1f}s")

    variants = {
        "plain": CrawlConfig(max_rounds=2),
        "bucketed": CrawlConfig(
            max_rounds=2, pages_table="fetch_ab_pages", fetch_buckets=32
        ),
        # the full 100 TB shape: BOTH big joins storage-partitioned — the
        # fetch join (url-bucketed pages + staged frontier) AND the dedupe
        # anti-join (url_hash-bucketed seen + staged candidates) must show
        # zero Exchanges in the same engine round.
        "bucketed_both": CrawlConfig(
            max_rounds=2, pages_table="fetch_ab_pages", fetch_buckets=32,
            state_backend="bucketed",
        ),
    }
    results = {}
    fetch_sets = {}
    for name in ("plain", "bucketed", "plain", "bucketed", "bucketed_both"):
        eng = Engine(spark, pages, None, variants[name])
        buf = io.StringIO()
        t0 = time.time()
        with redirect_stdout(buf):
            res = eng.run(seeds_df)
        wall = time.time() - t0
        out = buf.getvalue()
        exchanges = [
            int(m) for m in re.findall(r"\[fetch-plan[^\n]*Exchanges=(\d+)", out)
        ]
        dd_exchanges = [
            int(m) for m in re.findall(r"\[dedupe-plan[^\n]*Exchanges=(\d+)", out)
        ]
        r = results.setdefault(
            name, {"walls": [], "crawl_walls": [], "exchanges": [],
                   "dedupe_exchanges": []}
        )
        r["exchanges"].extend(exchanges)  # every run's plan evidence
        r["dedupe_exchanges"].extend(dd_exchanges)
        r["walls"].append(round(wall, 2))
        r["crawl_walls"].append(res.crawl_wall_sec)
        r["urls_per_sec"] = round(res.pages_fetched / res.crawl_wall_sec, 1)
        r["pages"] = res.pages_fetched
        fetch_sets[name] = res.pages_fetched
        print(
            f"{name}: wall={wall:.1f}s crawl_wall={res.crawl_wall_sec}s "
            f"fetch-join Exchanges/round={exchanges} "
            f"dedupe Exchanges/round={dd_exchanges}",
            flush=True,
        )

    print("RESULT " + json.dumps(
        {"n_pages": n_pages, "bucket_write_sec": round(t_bucket, 1),
         "variants": results}
    ))
    same = len(set(fetch_sets.values())) == 1
    ok_plan = all(x == 0 for x in results["bucketed"]["exchanges"])
    ok_plain = any(x > 0 for x in results["plain"]["exchanges"])
    both = results["bucketed_both"]
    ok_both = (
        all(x == 0 for x in both["exchanges"])
        and all(x == 0 for x in both["dedupe_exchanges"])
        and len(both["dedupe_exchanges"]) > 0
    )
    if not same:
        print(f"FAIL: fetch counts differ {fetch_sets}")
    print(
        "PASS: bucketed fetch join is Exchange-free in the engine (plain "
        "SMJ shuffles as expected) and the combined bucketed_both round "
        "runs BOTH big joins (fetch + dedupe) with zero Exchanges"
        if (ok_plan and ok_plain and ok_both and same)
        else "FAIL: unexpected plan shape"
    )
    sys.exit(0 if (ok_plan and ok_plain and ok_both and same) else 1)


if __name__ == "__main__":
    main()
