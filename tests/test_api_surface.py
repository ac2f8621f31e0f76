"""API-surface parity: pattern/regexp rate limits, cache freshness, scrape
spec E2E (the quotes example shape), link_selector, cuckoo dedupe mode.

The independent bodies run CONCURRENTLY in one Spark session (contract-suite
pattern; each test owns one worker future and re-raises its failure). The
WindowGroupLimit pushdown test stays SERIAL — redirect_stdout is
process-global and would swallow concurrent workers' output."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ant_spark import schemas
from ant_spark.engine import CrawlConfig, Engine
from ant_spark.sources.webgraph import example_site


def _w_rb_pattern_regexp(spark, example):
    from ant_spark.operators.politeness import rule_budget

    rows = [
        (f"http://a.test/x/{i}", i, "a.test", i) for i in range(6)
    ] + [(f"http://b.test/y/{i}", 100 + i, "b.test", 100 + i) for i in range(4)]
    fr = spark.createDataFrame(rows, "url string, url_hash long, host string, seq long")
    admitted, deferred = rule_budget(
        fr,
        [("pattern", "a.test/x/*", 2), ("regexp", "b\\.test/y", 3)],
        round_seconds=1.0,
    )
    a = sorted(r["seq"] for r in admitted.collect())
    assert a == [0, 1, 100, 101, 102]
    assert sorted(r["seq"] for r in deferred.collect()) == [2, 3, 4, 5, 103]


def _w_rb_overlapping(spark, example):
    """rule_budget reproduces the reference's serial multi-bucket
    acquisition (limiters.go:44-88): a row must fit within EVERY matching
    rule's budget, and a row deferred at rule j still consumed tokens of
    rules < j. Rows: x0,y0,x1,y1,... interleaved by seq; rule 0 (all of
    a.test, budget 5) admits seq 0-4 = x0,y0,x1,y1,x2; rule 1 (x/* only,
    budget 2) keeps x0,x1 of the survivors → x2 (seq 4) deferred."""
    from ant_spark.operators.politeness import rule_budget

    rows = []
    for i in range(10):
        sub = "x" if i % 2 == 0 else "y"
        rows.append((f"http://a.test/{sub}/{i // 2}", i, "a.test", i))
    fr = spark.createDataFrame(rows, "url string, url_hash long, host string, seq long")
    admitted, deferred = rule_budget(
        fr,
        [("regexp", "a\\.test/", 5), ("pattern", "a.test/x/*", 2)],
        round_seconds=1.0,
    )
    assert sorted(r["seq"] for r in admitted.collect()) == [0, 1, 2, 3]
    assert sorted(r["seq"] for r in deferred.collect()) == [4, 5, 6, 7, 8, 9]


def _w_rb_full_overlap(spark, example):
    """Two rules matching every row: the admitted count equals the MIN of
    the budgets (each bucket binds independently)."""
    from ant_spark.operators.politeness import rule_budget

    rows = [(f"http://a.test/p/{i}", i, "a.test", i) for i in range(20)]
    fr = spark.createDataFrame(rows, "url string, url_hash long, host string, seq long")
    admitted, deferred = rule_budget(
        fr,
        [("regexp", "a\\.test/", 7), ("regexp", "a\\.test/p", 3)],
        round_seconds=1.0,
    )
    assert sorted(r["seq"] for r in admitted.collect()) == [0, 1, 2]
    assert deferred.count() == 17


def test_rule_budget_requires_seq(spark):
    from ant_spark.operators.politeness import rule_budget

    fr = spark.createDataFrame(
        [("http://a.test/x", 1, "a.test")], "url string, url_hash long, host string"
    )
    with pytest.raises(ValueError, match="seq"):
        rule_budget(fr, [("pattern", "a.test/*", 1)], 1.0)


def test_rule_budget_capped_window_pushdown(spark):
    """The per-rule budget window carries a foldable cap (max over the
    driver-known rule budgets) so InferWindowGroupLimit prunes a skewed rule
    map-side — same trick as the engine's host-budget window."""
    import io
    from contextlib import redirect_stdout

    from ant_spark.operators.politeness import rule_budget

    rows = [(f"http://a.test/x/{i}", i, "a.test", i) for i in range(50)]
    fr = spark.createDataFrame(rows, "url string, url_hash long, host string, seq long")
    admitted, deferred = rule_budget(
        fr, [("pattern", "a.test/x/*", 4)], round_seconds=1.0
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        admitted.explain("formatted")
    # formatted explain prints each physical node twice (tree + detail)
    assert buf.getvalue().count("WindowGroupLimit") // 2 >= 2, (
        "expected map+reduce WindowGroupLimit pair in the rule-budget plan"
    )
    assert sorted(r["seq"] for r in admitted.collect()) == [0, 1, 2, 3]
    assert deferred.count() == 46


def _w_cache_freshness(spark, example):
    from ant_spark.operators.cache import fresh_only, merge_fetched

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            ("http://x/1", base),
            ("http://x/2", base + dt.timedelta(hours=3)),
        ],
        "url string, warc_ts timestamp",
    )
    now = base + dt.timedelta(hours=4)
    fresh = fresh_only(pages, F.lit(now), max_age_seconds=7200)
    assert [r["url"] for r in fresh.collect()] == ["http://x/2"]

    refetched = spark.createDataFrame(
        [("http://x/1", base + dt.timedelta(hours=5))],
        "url string, warc_ts timestamp",
    )
    merged = merge_fetched(pages, refetched)
    got = {r["url"]: r["warc_ts"] for r in merged.collect()}
    assert got["http://x/1"].hour == 5  # newest wins
    assert len(got) == 2


@pytest.fixture(scope="module")
def example(spark):
    pages_pdf, robots_pdf, seeds = example_site()
    return (
        spark.createDataFrame(pages_pdf, schema=schemas.PAGES),
        spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS),
        seeds,
    )


def _w_scrape_spec(spark, example):
    """The quotes-style extraction (reference Readme + json_test.go:12-53):
    '.project h1' over /about.html yields name=Ant."""
    pages, robots, seeds = example
    cfg = CrawlConfig(
        max_rounds=6,
        scrape_spec={"name": ".project h1", "next": "a.next@href"},
    )
    res = Engine(spark, pages, robots, cfg).run(seeds)
    assert res.extracted is not None
    data = {r["url"]: r["data"] for r in res.extracted.collect()}
    assert data["http://example.com/about.html"]["name"] == "Ant"
    assert data["http://example.com/about.html"]["next"] == "/a.html"
    assert data["http://example.com/"]["name"] == ""


def _w_link_selector(spark, example):
    """Page.Next semantics: crawl following only 'a.next' links — from /
    nothing matches, so with seed /about.html only /a.html is discovered."""
    pages, robots, _ = example
    cfg = CrawlConfig(max_rounds=6, link_selector="a.next")
    res = Engine(spark, pages, robots, cfg).run(["http://example.com/about.html"])
    urls = sorted(r["url"] for r in res.fetched_log.collect())
    assert urls == ["http://example.com/a.html", "http://example.com/about.html"]


def _w_cuckoo_drop(spark, example):
    """cuckoo_drop reproduces DedupeBF shape: crawl completes, no URL twice
    (false-positive drops possible but astronomically unlikely at 6 urls)."""
    pages, robots, seeds = example
    cfg = CrawlConfig(max_rounds=8, dedupe="cuckoo_drop", bloom_buckets=4)
    res = Engine(spark, pages, robots, cfg).run(seeds)
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert len(urls) == len(set(urls))
    assert "http://example.com/about.html" in urls


def _w_bloom_prefilter(spark, example):
    pages, robots, seeds = example
    exact = Engine(spark, pages, robots, CrawlConfig(max_rounds=8)).run(seeds)
    bloom = Engine(
        spark, pages, robots,
        CrawlConfig(max_rounds=8, dedupe="bloom_prefilter", bloom_buckets=4,
                    bloom_bits=1 << 16),
    ).run(seeds)
    assert sorted(r["url"] for r in exact.fetched_log.collect()) == sorted(
        r["url"] for r in bloom.fetched_log.collect()
    )


def _w_fetch_one(spark, example):
    from ant_spark.engine import fetch_one

    pages, _, _ = example
    row = fetch_one(spark, pages, "HTTP://EXAMPLE.COM/about.html").collect()[0]
    assert row["title"] == ""
    assert row["links"] == ["http://example.com/", "http://example.com/a.html"]


def _w_host_rate(spark, example):
    """LimitHostname(1): one fetch per round → ≥5 rounds for 5 pages."""
    pages, robots, seeds = example
    cfg = CrawlConfig(max_rounds=12, host_rates={"example.com": 1})
    res = Engine(spark, pages, robots, cfg).run(seeds)
    assert res.pages_fetched == 5
    assert res.rounds >= 5
    # FIFO order preserved under budget pressure
    seqs = [r["seq"] for r in res.fetched_log.orderBy("round").collect()]
    assert seqs == sorted(seqs)


def _w_strip_tracking_crawl(spark, example):
    """strip_tracking_params e2e: two links to the same doc differing only
    in utm/gclid params collapse to ONE fetch (the frontier-inflation
    guard); with the flag off (reference parity) both variants fetch."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def page(url, html):
        return {"url": url, "warc_ts": base, "html": html.encode(),
                "text": "", "lang": "en", "status": 200,
                "ok_after_attempt": None}

    rows = [
        page("http://t.test/", '<body><a href="/d?utm_source=a&x=1">1</a>'
                               '<a href="/d?x=1&utm_source=b">2</a>'
                               '<a href="/d?x=1&gclid=z">3</a></body>'),
        page("http://t.test/d?x=1", "<body>D</body>"),
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=schemas.PAGES)
    res = Engine(
        spark, pages, None,
        CrawlConfig(max_rounds=6, strip_tracking_params=True),
    ).run(["http://t.test/?fbclid=share"])
    urls = sorted(r["url"] for r in res.fetched_log.collect())
    assert urls == ["http://t.test/", "http://t.test/d?x=1"]  # one fetch

    # parity mode: every variant is a distinct URL (and a 404 here)
    res2 = Engine(
        spark, pages, None, CrawlConfig(max_rounds=6)
    ).run(["http://t.test/"])
    stages = {}
    for m in res2.metrics.collect():
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    assert stages["enqueued"] == 3  # three distinct tracked variants


_WORKERS = {
    "rb_pattern_regexp": _w_rb_pattern_regexp,
    "rb_overlapping": _w_rb_overlapping,
    "rb_full_overlap": _w_rb_full_overlap,
    "cache_freshness": _w_cache_freshness,
    "scrape_spec": _w_scrape_spec,
    "link_selector": _w_link_selector,
    "cuckoo_drop": _w_cuckoo_drop,
    "bloom_prefilter": _w_bloom_prefilter,
    "fetch_one": _w_fetch_one,
    "host_rate": _w_host_rate,
    "strip_tracking": _w_strip_tracking_crawl,
}


@pytest.fixture(scope="module")
def api_runs(spark, example):
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_WORKERS)) as ex:
        futs = {n: ex.submit(fn, spark, example) for n, fn in _WORKERS.items()}
    return futs


def test_rule_budget_pattern_and_regexp(api_runs):
    api_runs["rb_pattern_regexp"].result()


def test_rule_budget_overlapping_rules_exact(api_runs):
    api_runs["rb_overlapping"].result()


def test_rule_budget_full_overlap_is_min(api_runs):
    api_runs["rb_full_overlap"].result()


def test_cache_freshness_and_merge(api_runs):
    api_runs["cache_freshness"].result()


def test_scrape_spec_e2e(api_runs):
    api_runs["scrape_spec"].result()


def test_link_selector_pagination(api_runs):
    api_runs["link_selector"].result()


def test_cuckoo_drop_mode_crawls(api_runs):
    api_runs["cuckoo_drop"].result()


def test_bloom_prefilter_matches_exact(api_runs):
    api_runs["bloom_prefilter"].result()


def test_fetch_one(api_runs):
    api_runs["fetch_one"].result()


def test_host_rate_limits_rounds(api_runs):
    api_runs["host_rate"].result()


def test_strip_tracking_params_crawl(api_runs):
    api_runs["strip_tracking"].result()
