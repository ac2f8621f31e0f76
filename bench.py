"""Benchmark harness — prints ONE JSON line.

Headline: sustained URLs-crawled/sec of the full BSP engine on a
deterministic synthetic web graph scaled to the SF, plus wall-clock of the
representative operator queries over $SPARK_GRAFT_SF_DIR tables.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_CRAWL_PAGES  (override crawl-graph size).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    import __spark_entry__ as entrymod
    from ant_spark import schemas
    from ant_spark.engine import CrawlConfig, Engine
    from ant_spark.session import get_spark
    from ant_spark.sources.webgraph import GraphConfig, generate

    spark = get_spark(
        app_name="ant_spark_bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(8, cpus))},
    )

    timings: dict[str, float] = {}

    # --- headline: crawl throughput -------------------------------------
    n_pages = int(os.environ.get("BENCH_CRAWL_PAGES", str(max(2000, int(200_000 * sf)))))
    cfg = GraphConfig(
        n_pages=n_pages,
        n_hosts=max(16, n_pages // 400),
        fanout=8,
        crawl_delay_hosts=0,  # throughput mode: no politeness throttling
        robots_disallow_hosts=2,
        flaky_every=0,
    )
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES).persist()
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    pages.count()  # materialize the simulated web before the clock starts

    # JIT/codegen warm-up through the full round path (same discipline as
    # tools/bench_scaling.py: first-run compilation noise is not part of
    # sustained throughput — a real crawl runs thousands of warm rounds).
    from ant_spark.sources.webgraph import example_site

    wp, wr, ws = example_site()
    Engine(
        spark,
        spark.createDataFrame(wp, schema=schemas.PAGES),
        spark.createDataFrame(wr, schema=schemas.ROBOTS),
        CrawlConfig(max_rounds=3),
    ).run(ws)

    t0 = time.time()
    res = Engine(
        spark,
        pages,
        robots,
        CrawlConfig(ordering="partitioned", max_rounds=64),
    ).run(seeds)
    crawl_sec = time.time() - t0
    timings["crawl"] = round(crawl_sec, 3)
    urls_per_sec = res.pages_fetched / crawl_sec if crawl_sec > 0 else 0.0

    # --- cluster-scale round shape, first-class benched: the SAME crawl
    # through pages_table + state_backend='bucketed' — BOTH big joins
    # (fetch and seen anti-join) storage-partitioned: only the frontier and
    # the links are shuffled, never the pages or seen table
    # (tools/explain_audit.py check 10 is the plan proof; this records its
    # wall-clock round-over-round so a regression in the 100 TB mode shows
    # up in BENCH_r{N}). One-time corpus staging cost reported separately.
    import tempfile

    pt_dir = tempfile.mkdtemp(prefix="ant_bench_pages_")
    t0 = time.time()
    Engine.create_pages_table(
        spark, pages, "ant_bench_pages", os.path.join(pt_dir, "tbl"), buckets=32
    )
    pages_table_sec = time.time() - t0
    t0 = time.time()
    res_b = Engine(
        spark,
        pages,
        robots,
        CrawlConfig(
            ordering="partitioned",
            max_rounds=64,
            pages_table="ant_bench_pages",
            fetch_buckets=32,
            state_backend="bucketed",
        ),
    ).run(seeds)
    crawl_b_sec = time.time() - t0
    timings["crawl_bucketed"] = round(crawl_b_sec, 3)
    urls_b_per_sec = res_b.pages_fetched / crawl_b_sec if crawl_b_sec > 0 else 0.0
    spark.sql("DROP TABLE IF EXISTS ant_bench_pages")
    if res_b.pages_fetched != res.pages_fetched:
        print(
            f"WARN: bucketed crawl fetched {res_b.pages_fetched} pages "
            f"vs plain {res.pages_fetched}",
            file=sys.stderr,
        )

    # --- operator queries over the SF tables -----------------------------
    qs = entrymod.queries()
    bench_queries = [
        "crawl_dedupe_antijoin",
        "crawl_frontier_fifo",
        "crawl_politeness_budget",
        "crawl_robots_broadcast_join",
        "text_language_id",
        "text_quality_score",
        "text_token_count",
        "text_fingerprint_dups",
        "text_minhash_lsh_pairs",
        "text_simhash",
        "text_simhash_near_dup",
        "emb_cosine_topk",
        "emb_lsh_bucket",
        "emb_ivf_topk",
    ]
    for name in bench_queries:
        t = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t, 3)
    # the xxhash64 SCALE mode of LSH pair generation, under its own key so
    # round-over-round diffs of the original (md5, oracle-verified) key
    # stay apples-to-apples; same operator, hash_fn knob only.
    from ant_spark.operators.textops import minhash_candidate_pairs

    t = time.time()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    minhash_candidate_pairs(
        docs, "text", n_hashes=8, n_bands=4, k=3, hash_fn="xxhash64"
    ).write.format("noop").mode("overwrite").save()
    timings["text_minhash_lsh_pairs_xxhash64"] = round(time.time() - t, 3)

    # --- round-5 operator additions, benched under their OWN key --------
    # (VERDICT r5 #9: keep the legacy `value`/`queries` totals
    # like-for-like with BENCH_r04/r05; these queries were BENCH.md-only
    # last round — promoting them into the driver bench without skewing
    # the comparable total.)
    new_ops: dict[str, float] = {}
    for name in [
        "text_top_idf_terms",
        "text_duplicate_spans",
        "text_incremental_new",
        "graph_host_rank",
        "graph_pagerank",
        # round-6 operators
        "text_gopher_flags",
        "text_screening",
        "text_main_content",
    ]:
        t = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        new_ops[name] = round(time.time() - t, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "ant_spark_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "new_ops": new_ops,
                "new_ops_total": round(sum(new_ops.values()), 3),
                "sf": sf,
                "crawl_urls_per_sec": round(urls_per_sec, 1),
                "crawl_pages_fetched": res.pages_fetched,
                "crawl_rounds": res.rounds,
                "crawl_bucketed_urls_per_sec": round(urls_b_per_sec, 1),
                "crawl_bucketed_rounds": res_b.rounds,
                "pages_table_stage_sec": round(pages_table_sec, 3),
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
