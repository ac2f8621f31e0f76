"""Per-layer probes of a traced run.

Each crawl-layer probe times calls into one layer's public functions on
inputs made from the workload's own graph and reports the median of
``REPS`` repetitions; the operator queries run on tables generated from
the seed.
Inputs are built and materialized before a probe's clock starts, and the
Spark probes write to the noop sink so that only the layer's work is
timed. UDF probes rename hosts per repetition: the URL-normalize cache in
each Python worker would otherwise answer from the previous repetition.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
import urllib.parse

from workloads import BUCKETS, make_graph, rename_hosts

# the operator queries bench.py times: 14 queries plus the 8 newer ones
OPS_QUERIES = [
    "crawl_dedupe_antijoin", "crawl_frontier_fifo", "crawl_politeness_budget",
    "crawl_robots_broadcast_join", "text_language_id", "text_quality_score",
    "text_token_count", "text_fingerprint_dups", "text_minhash_lsh_pairs",
    "text_simhash", "text_simhash_near_dup", "emb_cosine_topk", "emb_lsh_bucket",
    "emb_ivf_topk",
    "text_top_idf_terms", "text_duplicate_spans", "text_incremental_new",
    "graph_host_rank", "graph_pagerank", "text_gopher_flags", "text_screening",
    "text_main_content",
]
REPS = 2  # a traced run must end within 180 s on a loaded host
N_PARSE = 150  # pages for the single-thread Python probes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn, reps: int = REPS) -> float:
    """Median seconds of ``reps`` calls of ``fn(i)``, one span per call."""
    out = []
    for i in range(reps):
        with tracer.span(name):
            t = time.perf_counter()
            fn(i)
            out.append(time.perf_counter() - t)
    return statistics.median(out)


def _links(pages_pdf) -> list[tuple[str, int, int]]:
    """(absolute href, parent index, link index) for every page's links."""
    from ant_spark.functions.htmldom import stream_extract

    out = []
    for i, (u, h) in enumerate(zip(pages_pdf.url, pages_pdf.html)):
        _, hrefs, _ = stream_extract(h)
        out.extend((urllib.parse.urljoin(u, x), i, k) for k, x in enumerate(hrefs))
    return out


def crawl_layers(spark, wl, seed: int, work: str, tracer) -> dict:
    from pyspark.sql import functions as F

    from ant_spark.engine import Engine
    from ant_spark.functions.parse import make_parse_udf, parse_page
    from ant_spark.functions.urlnorm import (
        normalize_or_none, normalize_udf, path_of, url_hash)
    from ant_spark.operators import dedupe, politeness, robots
    from ant_spark import schemas

    pages_pdf, _, _ = rename_hosts(make_graph(wl.graph, seed), "p")
    out: dict[str, float] = {}

    # single-thread Python boundary: parse and normalize per row
    sample = list(zip(pages_pdf.url[:N_PARSE], pages_pdf.html[:N_PARSE]))
    out["parse.us_per_page"] = 1e6 / len(sample) * _timed(
        tracer, "functions.parse.parse_page",
        lambda _: [parse_page(h, u) for u, h in sample])
    links = _links(pages_pdf)
    hrefs = [h for h, _, _ in links]
    out["urlnorm.us_per_url"] = 1e6 / len(hrefs) * _timed(
        tracer, "functions.urlnorm.normalize_or_none",
        lambda _: [normalize_or_none(h) for h in hrefs])

    # Spark-side UDFs over the workload's pages and hrefs
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES).persist()
    pages.count()
    parse_udf = make_parse_udf()
    out["parse.udf_s"] = _timed(
        tracer, "functions.parse.make_parse_udf",
        lambda _: _noop(pages.select(parse_udf(F.col("url"), F.col("html")))))

    href_frames = []
    for i in range(REPS):
        df = spark.createDataFrame(
            [(h.replace(".p.test", f".p{i}.test"),) for h in hrefs], "href string"
        ).persist()
        df.count()
        href_frames.append(df)
    out["urlnorm.udf_s"] = _timed(
        tracer, "functions.urlnorm.normalize_udf",
        lambda i: _noop(href_frames[i].select(normalize_udf(F.col("href")))))

    # polite-shaped frontier: every host disallows /private with Crawl-delay 1
    frontier = pages.select(
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.monotonically_increasing_id().alias("seq"),
        url_hash(F.col("url")).alias("url_hash"),
    ).persist()
    frontier.count()
    hosts = sorted({urllib.parse.urlsplit(u).hostname for u in pages_pdf.url})
    body = "User-agent: *\nDisallow: /private\nCrawl-delay: 1\n"
    robots_df = spark.createDataFrame(
        [(h, 200, body, 1.0, None) for h in hosts], schema=schemas.ROBOTS)
    out["robots.join_s"] = _timed(
        tracer, "operators.robots.with_robots",
        lambda _: _noop(robots.with_robots(
            frontier, robots_df, "antbot", path_of(F.col("url")))))

    allowed = (
        robots.with_robots(frontier, robots_df, "antbot", path_of(F.col("url")))
        .filter("robots_allowed").drop("robots_allowed").persist()
    )
    allowed.count()
    budget = politeness.host_budget_expr(
        1.0, politeness.UNLIMITED_BUDGET, F.col("crawl_delay"))

    def split(_):
        # cap = the largest budget any row gets: floor(1 s / 1 s delay) = 1
        adm, deferred = politeness.split_by_budget(
            allowed.withColumn("_b", budget), F.col("_b"),
            order_cols=["seq"], salt=1, budget_cap=1)
        _noop(adm)
        _noop(deferred)

    out["politeness.split_s"] = _timed(tracer, "operators.politeness.split_by_budget", split)

    cands = spark.createDataFrame(
        [(normalize_or_none(h), p, k) for h, p, k in links],
        "url string, parent_seq long, link_idx int",
    ).dropna().withColumn("url_hash", url_hash(F.col("url"))).persist()
    cands.count()
    seen = frontier.select("url_hash", "url")
    out["dedupe.first_occurrence_s"] = _timed(
        tracer, "operators.dedupe.first_occurrence",
        lambda _: _noop(dedupe.first_occurrence(
            cands, ["url_hash", "url"], ["parent_seq", "link_idx"])))
    out["dedupe.exact_new_s"] = _timed(
        tracer, "operators.dedupe.exact_new",
        lambda _: _noop(dedupe.exact_new(cands, seen)))

    def stage(i):
        path = os.path.join(work, f"probe_pt{i}")
        Engine.create_pages_table(spark, pages, f"probe_pages_{i}", path, buckets=BUCKETS)
        spark.sql(f"DROP TABLE IF EXISTS probe_pages_{i}")
        shutil.rmtree(path, ignore_errors=True)

    out["engine.pages_table_s"] = _timed(tracer, "engine.create_pages_table", stage)

    for df in [pages, frontier, allowed, cands, *href_frames]:
        df.unpersist()
    return out


def _exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in the physical plan Spark
    plans for ``df`` before adaptive re-planning."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-*").split(" ")[0] in ("Exchange", "BroadcastExchange")
    )


def _canon(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rowset(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def ops_layers(spark, seed: int, work: str, tracer) -> tuple[dict, list]:
    """Run each operator query once with the cache cleared first, timing
    the build and ``collect()`` of its rows, then check the rows against
    its DuckDB oracle, order-insensitively like tools/check_oracle.py.
    One pass is all that fits in a traced run (noop-sink medians over
    several passes took about a minute more)."""
    import duckdb

    import __spark_entry__ as entry
    from opsdata import TABLES, write_tables

    data = write_tables(os.path.join(work, "ops"), seed)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    out: dict[str, float] = {}
    checks = []
    for name in OPS_QUERIES:
        spark.catalog.clearCache()
        with tracer.span(f"ops.{name}") as sp:
            df = qs[name](spark, data)
            out[f"ops.{name}.exchanges"] = _exchanges(df)
            rows = df.collect()
        out[f"ops.{name}.s"] = sp["end"] - sp["start"]
        got = _rowset([tuple(r) for r in rows], df.columns)
        with tracer.span(f"ops.{name}.oracle"):
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            want = _rowset(res.fetchall(), cols)
        ok = sorted(df.columns) == sorted(cols) and got == want
        checks.append((f"ops_oracle:{name}", ok, f"spark {len(got)} rows, oracle {len(want)}"))
    out["ops.query_s_total"] = sum(out[f"ops.{q}.s"] for q in OPS_QUERIES)
    return out, checks


def run_all(spark, wl, seed: int, work: str, tracer) -> tuple[dict, list]:
    """Every per-layer probe; returns (metrics, output checks)."""
    out = crawl_layers(spark, wl, seed, work, tracer)
    ops, checks = ops_layers(spark, seed, work, tracer)
    out.update(ops)
    return out, checks
