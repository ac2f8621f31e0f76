"""Priority queue policy (SURVEY §2.10: pluggable Queue — fifo vs priority).

The five independent priority crawls run CONCURRENTLY in one Spark session
(the contract-suite pattern); the zero-Exchange plan test stays SERIAL — it
mutates global session conf (broadcast thresholds), an env flag, and
process stdout, none of which are thread-safe to share."""

import pytest
from pyspark.sql import functions as F

from ant_spark import schemas
from ant_spark.engine import CrawlConfig, Engine
from ant_spark.sources.webgraph import example_site


def _w_dequeue_order(spark):
    """With budget 1/round and priority = 'products first', products.html is
    fetched before about.html even though about was discovered first."""
    pages_pdf, robots_pdf, seeds = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)

    def prio():
        return F.when(F.col("url").contains("products"), F.lit(-1.0)).otherwise(
            F.lit(0.0)
        )

    cfg = CrawlConfig(
        max_rounds=12,
        host_rates={"example.com": 1},  # 1 fetch/round → order observable
        queue_policy="priority",
        priority_fn=prio,
    )
    res = Engine(spark, pages, robots, cfg).run(seeds)
    order = [r["url"] for r in res.fetched_log.orderBy("round").collect()]
    assert order[0] == "http://example.com/"
    assert order[1] == "http://example.com/products.html"  # jumped the queue
    assert set(order) == {
        "http://example.com/",
        "http://example.com/products.html",
        "http://example.com/about.html",
        "http://example.com/a.html",
        "http://example.com/b.html",
    }


def _w_pagerank_fed(spark):
    """The graph-signal composition end-to-end (graphops module promise):
    PageRank over the site's own link graph feeds rank_priority_fn;
    under a 1-fetch/round budget the high-rank hub (in-degree 3) and its
    child jump the queue ahead of the earlier-discovered p1/p2, while
    FIFO fetches in discovery order."""
    from ant_spark.functions.parse import make_links_udf
    from ant_spark.operators.graphops import pagerank, rank_priority_fn
    from ant_spark.sources.webgraph import example_hub_site

    pages_pdf, robots_pdf, seeds = example_hub_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)

    links_udf = make_links_udf()
    edges = pages.select(
        F.col("url").alias("src"),
        F.explode(links_udf(F.col("url"), F.col("html"))).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=3)
    prio = rank_priority_fn(ranks, key_col="url")

    base = dict(max_rounds=12, host_rates={"example.com": 1}, ordering="bfs")
    res_pr = Engine(
        spark, pages, None,
        CrawlConfig(queue_policy="priority", priority_fn=prio, **base),
    ).run(seeds)
    order_pr = [
        r["url"].rsplit("/", 1)[-1] or "/"
        for r in res_pr.fetched_log.orderBy("round").collect()
    ]
    assert order_pr == ["/", "hub.html", "x.html", "p1.html", "p2.html"]

    res_fifo = Engine(spark, pages, None, CrawlConfig(**base)).run(seeds)
    order_fifo = [
        r["url"].rsplit("/", 1)[-1] or "/"
        for r in res_fifo.fetched_log.orderBy("round").collect()
    ]
    assert order_fifo == ["/", "p1.html", "p2.html", "hub.html", "x.html"]


def _w_join_table(spark):
    """The frontier-scale composition: the SAME PageRank signal fed as a
    joined (url, priority) table (CrawlConfig.priority_join) reproduces the
    literal-map (rank_priority_fn) crawl order exactly — hub and its child
    jump the queue."""
    from ant_spark.functions.parse import make_links_udf
    from ant_spark.operators.graphops import pagerank, rank_priority_table
    from ant_spark.sources.webgraph import example_hub_site

    pages_pdf, _, seeds = example_hub_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    links_udf = make_links_udf()
    edges = pages.select(
        F.col("url").alias("src"),
        F.explode(links_udf(F.col("url"), F.col("html"))).alias("dst"),
    )
    ptab = rank_priority_table(pagerank(edges, n_iter=3))
    res = Engine(
        spark, pages, None,
        CrawlConfig(
            max_rounds=12, host_rates={"example.com": 1}, ordering="bfs",
            queue_policy="priority", priority_join=ptab,
        ),
    ).run(seeds)
    order = [
        r["url"].rsplit("/", 1)[-1] or "/"
        for r in res.fetched_log.orderBy("round").collect()
    ]
    assert order == ["/", "hub.html", "x.html", "p1.html", "p2.html"]


def _w_host_rank(spark):
    """Host-level composition end-to-end: URL edges → host_edges rollup →
    weighted PageRank → rank_priority_fn(key_col='host') — under a global
    1-fetch/round budget the crawler prefers pages on the higher-ranked
    host (c.test, in-degree 2 in the host graph) over the earlier-
    discovered b.test page."""
    import datetime as dt

    import pandas as pd

    from ant_spark.functions.htmldom import parse as hparse
    from ant_spark.functions.htmldom import text as htext
    from ant_spark.operators.graphops import host_edges, pagerank, rank_priority_fn

    site = {
        "http://a.test/": '<html><body><a href="http://b.test/1">b</a>'
                          '<a href="http://c.test/1">c</a></body></html>',
        "http://b.test/1": '<html><body><a href="http://c.test/2">c2</a>'
                           '</body></html>',
        "http://c.test/1": '<html><body><a href="http://c.test/2">c2</a>'
                           '</body></html>',
        "http://c.test/2": "<html><body>end</body></html>",
    }
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        pd.DataFrame(
            [
                {"url": u, "warc_ts": base, "html": h.encode(),
                 "text": htext(hparse(h)), "lang": "en", "status": 200,
                 "ok_after_attempt": None}
                for u, h in site.items()
            ]
        ),
        schema=schemas.PAGES,
    )
    edges = spark.createDataFrame(
        [(u, d) for u, h in site.items()
         for d in __import__("re").findall(r'href="([^"]+)"', h)],
        "src string, dst string",
    )
    ranks = pagerank(
        host_edges(edges), n_iter=3, src_col="src_host",
        dst_col="dst_host", weight_col="weight",
    )
    prio = rank_priority_fn(ranks, key_col="host")
    res = Engine(
        spark, pages, None,
        CrawlConfig(max_rounds=8, ordering="bfs", global_rate=1,
                    queue_policy="priority", priority_fn=prio),
    ).run(["http://a.test/"])
    order = [r["url"] for r in res.fetched_log.orderBy("round").collect()]
    assert order == [
        "http://a.test/", "http://c.test/1", "http://c.test/2",
        "http://b.test/1",
    ]


def _w_bulk_seed(spark):
    """Round-5 ADVICE regression: the same seed URL arriving with two
    different priority hints (merged sitemap files are not deduped by
    sitemap_seeds) must enqueue ONCE, under the max (most-important)
    hint — not two frontier rows with two seqs, double-fetched and
    double-counted in budgets."""
    pages_pdf, robots_pdf, _ = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    seeds = spark.createDataFrame(
        [("http://example.com/about.html", 0.2),
         ("http://example.com/products.html", 0.4),
         ("http://example.com/about.html", 0.9)],  # dup URL, higher hint
        "url string, priority double",
    )
    res = Engine(
        spark, pages, robots,
        CrawlConfig(max_rounds=12, queue_policy="priority",
                    host_rates={"example.com": 1}),
    ).run(seeds)
    rows = res.fetched_log.orderBy("round").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))  # the dup seed fetched exactly once
    # max hint wins: about (0.9) dequeues before products (0.4)
    assert urls[0] == "http://example.com/about.html"
    assert urls[1] == "http://example.com/products.html"
    assert set(urls) == {
        "http://example.com/",  # discovered via in-site links
        "http://example.com/about.html",
        "http://example.com/products.html",
        "http://example.com/a.html",
        "http://example.com/b.html",
    }


def test_priority_join_bucketed_zero_exchange(spark, tmp_path):
    """Corpus-scale rank path (priority_join_broadcast=False + bucketed
    state): the rank table written via Engine.create_rank_table joins the
    links as a storage-partitioned SMJ — crawl order matches the broadcast
    path exactly, and with broadcast disabled every round's dedupe+rank
    plan reads the rank and seen scans in place, bucketed, and shuffles
    only the links, once, into the tables' 8 url_hash buckets (the huge
    rank side never moves — queue.go:12-49 priority seam at
    10^10-frontier shape)."""
    import io
    import os
    from contextlib import redirect_stdout

    from ant_spark.functions.parse import make_links_udf
    from ant_spark.operators.graphops import pagerank, rank_priority_table
    from ant_spark.plan_audit import bucketed_join_problems, tagged_plans
    from ant_spark.sources.webgraph import example_hub_site

    pages_pdf, _, seeds = example_hub_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    links_udf = make_links_udf()
    edges = pages.select(
        F.col("url").alias("src"),
        F.explode(links_udf(F.col("url"), F.col("html"))).alias("dst"),
    )
    ptab = Engine.create_rank_table(
        spark, rank_priority_table(pagerank(edges, n_iter=3)),
        "t_rank_bkt", str(tmp_path / "rank_tbl"), buckets=8,
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    os.environ["ANT_SPARK_EXPLAIN_DEDUPE"] = "1"
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            res = Engine(
                spark, pages, None,
                CrawlConfig(
                    max_rounds=12, host_rates={"example.com": 1},
                    ordering="bfs", queue_policy="priority",
                    priority_join=ptab, priority_join_broadcast=False,
                    state_backend="bucketed", bucketed_switch_rows=0,
                    state_partitions=8, dedupe="exact",
                ),
            ).run(seeds)
        plans = buf.getvalue()
    finally:
        os.environ.pop("ANT_SPARK_EXPLAIN_DEDUPE")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_thr)
    order = [
        r["url"].rsplit("/", 1)[-1] or "/"
        for r in res.fetched_log.orderBy("round").collect()
    ]
    assert order == ["/", "hub.html", "x.html", "p1.html", "p2.html"]
    rounds = tagged_plans(plans, "dedupe-plan")
    assert rounds
    for plan in rounds:
        for table in ("t_rank_bkt", "ant_seen_"):
            assert bucketed_join_problems(plan, table, "url_hash", 8) == []
    assert "_pj_hash" in plans and "SortMergeJoin LeftOuter" in plans


_WORKERS = {
    "dequeue_order": _w_dequeue_order,
    "pagerank_fed": _w_pagerank_fed,
    "join_table": _w_join_table,
    "host_rank": _w_host_rank,
    "bulk_seed": _w_bulk_seed,
}


@pytest.fixture(scope="module")
def prio_runs(spark):
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_WORKERS)) as ex:
        futs = {n: ex.submit(fn, spark) for n, fn in _WORKERS.items()}
    return futs


def test_priority_dequeue_order(prio_runs):
    prio_runs["dequeue_order"].result()


def test_pagerank_fed_priority_crawl(prio_runs):
    prio_runs["pagerank_fed"].result()


def test_priority_join_table_matches_literal_map(prio_runs):
    prio_runs["join_table"].result()


def test_host_rank_priority_crawl(prio_runs):
    prio_runs["host_rank"].result()


def test_bulk_seed_duplicate_priorities_single_fetch(prio_runs):
    prio_runs["bulk_seed"].result()
