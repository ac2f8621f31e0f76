"""HTTP redirect following (operators/redirects.py): the Go http.Client
semantics the reference inherits (ant.go:36 — redirect policy lives in the
client; default = follow Location up to 10 hops, final page wins).

Independent bodies run CONCURRENTLY in one Spark session (contract-suite
pattern)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ant_spark import schemas
from ant_spark.engine import CrawlConfig, Engine

_BASE = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _page(url, html, status=200, redirect_to=None):
    return {
        "url": url, "warc_ts": _BASE, "html": html.encode(),
        "text": "", "lang": "en", "status": status,
        "ok_after_attempt": None, "redirect_to": redirect_to,
    }


# NB: StructType.add mutates in place — build a fresh copy, never
# schemas.PAGES.add(...), or every later PAGES createDataFrame breaks.
from pyspark.sql.types import StringType, StructField, StructType  # noqa: E402

_PAGES_SCHEMA = StructType(
    list(schemas.PAGES.fields) + [StructField("redirect_to", StringType(), True)]
)


def _w_resolve_chains(spark, tmp):
    """Chain collapse: 2-hop chain lands on content; relative Location
    resolves against the hop url; a cycle becomes 508; a chain landing
    outside the corpus becomes 404; direct rows keep final_url NULL."""
    from ant_spark.operators.redirects import resolve_redirects

    rows = [
        _page("http://r.test/a", "", 301, redirect_to="/b"),  # relative
        _page("http://r.test/b", "", 302, redirect_to="http://r.test/c"),
        _page("http://r.test/c", "<body>C</body>"),
        _page("http://r.test/x", "", 301, redirect_to="/y"),  # cycle
        _page("http://r.test/y", "", 301, redirect_to="/x"),
        _page("http://r.test/gone", "", 301, redirect_to="/nowhere"),
        _page("http://r.test/plain", "<body>P</body>"),
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=_PAGES_SCHEMA)
    out = {r["url"]: r for r in resolve_redirects(pages).collect()}
    assert out["http://r.test/a"]["final_url"] == "http://r.test/c"
    assert bytes(out["http://r.test/a"]["html"]) == b"<body>C</body>"
    assert out["http://r.test/a"]["status"] == 200
    assert out["http://r.test/b"]["final_url"] == "http://r.test/c"
    assert out["http://r.test/x"]["status"] == 508  # cycle: Loop Detected
    assert out["http://r.test/y"]["status"] == 508
    assert out["http://r.test/gone"]["status"] == 404  # landed off-corpus
    assert out["http://r.test/gone"]["final_url"] == "http://r.test/nowhere"
    assert out["http://r.test/plain"]["final_url"] is None
    assert out["http://r.test/plain"]["status"] == 200
    assert "redirect_to" not in resolve_redirects(pages).columns


def _site_rows():
    """/ links old (301 -> new) and, two hops later, new directly; the
    redirected page's RELATIVE link must resolve against the final url."""
    return [
        _page("http://s.test/", '<body><a href="/old.html">o</a>'
                                '<a href="/later.html">l</a></body>'),
        _page("http://s.test/old.html", "", 301, redirect_to="/new.html"),
        _page("http://s.test/new.html",
              '<body>NEW<a href="deep.html">d</a></body>'),
        _page("http://s.test/later.html",
              '<body><a href="/new.html">n</a></body>'),
        _page("http://s.test/deep.html", "<body>DEEP</body>"),
    ]


def _w_crawl_follows(spark, tmp):
    pages = spark.createDataFrame(pd.DataFrame(_site_rows()),
                                  schema=_PAGES_SCHEMA)
    res = Engine(
        spark, pages, None, CrawlConfig(max_rounds=8, ordering="bfs")
    ).run(["http://s.test/"])
    rows = {r["url"]: r for r in res.fetched_log.collect()}
    # the 301 url is logged under the REQUESTED url with the FINAL content
    assert rows["http://s.test/old.html"]["final_url"] == "http://s.test/new.html"
    assert rows["http://s.test/old.html"]["text"] == "NEWd"
    assert rows["http://s.test/old.html"]["status"] == 200
    # the relative link on the final page resolved against final_url
    assert "http://s.test/deep.html" in rows
    # redirect_seen (default): the direct link to /new.html later is NOT
    # refetched — content already logged under /old.html
    assert "http://s.test/new.html" not in rows
    assert set(rows) == {
        "http://s.test/", "http://s.test/old.html",
        "http://s.test/later.html", "http://s.test/deep.html",
    }
    stages = {}
    for m in res.metrics.collect():
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    assert stages["redirected"] == 1
    assert stages["fetched"] == 4


def _w_crawl_redirect_misses(spark, tmp):
    """`redirected` counts every followed chain, not only the 200s: one
    chain lands off the corpus (404) and one loops (508); both still carry
    final_url."""
    rows = [
        _page("http://m.test/", '<body><a href="/gone">g</a>'
                                '<a href="/x">x</a></body>'),
        _page("http://m.test/gone", "", 301, redirect_to="/nowhere"),
        _page("http://m.test/x", "", 301, redirect_to="/y"),
        _page("http://m.test/y", "", 301, redirect_to="/x"),
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=_PAGES_SCHEMA)
    res = Engine(
        spark, pages, None, CrawlConfig(max_rounds=4, ordering="bfs")
    ).run(["http://m.test/"])
    stages = {}
    for m in res.metrics.collect():
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    assert stages["redirected"] == 2
    assert stages["missing_404"] == 1  # /gone
    assert stages["perm_error"] == 1  # /x
    assert stages["fetched"] == 1  # /


def _w_crawl_parity_refetch(spark, tmp):
    """redirect_seen=False (reference byte-parity mode): the engine, like
    ant, never learns the final url — a later direct link refetches."""
    pages = spark.createDataFrame(pd.DataFrame(_site_rows()),
                                  schema=_PAGES_SCHEMA)
    res = Engine(
        spark, pages, None,
        CrawlConfig(max_rounds=8, ordering="bfs", redirect_seen=False),
    ).run(["http://s.test/"])
    urls = {r["url"] for r in res.fetched_log.collect()}
    assert "http://s.test/new.html" in urls  # refetched via the direct link
    assert "http://s.test/old.html" in urls


def _w_warc_location_e2e(spark, tmp):
    """WARC leg: a 301 record's Location header rides read_warc →
    warc_to_pages → the engine follows the chain off the archive."""
    from ant_spark.sources.warc import _record_bytes, read_warc, warc_to_pages

    recs = (
        _record_bytes(
            "http://w.test/", "2025-01-01T00:00:00Z", 200,
            b'<body><a href="/r.html">r</a></body>',
        )
        + _record_bytes(
            "http://w.test/r.html", "2025-01-01T00:00:00Z", 301, b"",
            location="/target.html",
        )
        + _record_bytes(
            "http://w.test/target.html", "2025-01-01T00:00:00Z", 200,
            b"<body>T</body>",
        )
    )
    p = tmp / "site.warc"
    p.write_bytes(recs)
    df = read_warc(spark, str(p))
    assert {
        r["url"]: r["redirect_to"] for r in df.collect()
    }["http://w.test/r.html"] == "/target.html"
    res = Engine(
        spark, warc_to_pages(df), None,
        CrawlConfig(max_rounds=6, ordering="bfs"),
    ).run(["http://w.test/"])
    rows = {r["url"]: r for r in res.fetched_log.collect()}
    assert rows["http://w.test/r.html"]["text"] == "T"
    assert rows["http://w.test/r.html"]["final_url"] == "http://w.test/target.html"


def _w_bucketed_prestaged(spark, tmp):
    """create_pages_table collapses redirect chains at staging time: the
    bucketed crawl follows them with the fetch join untouched (the stored
    corpus already carries final_url)."""
    pages = spark.createDataFrame(pd.DataFrame(_site_rows()),
                                  schema=_PAGES_SCHEMA)
    tbl = Engine.create_pages_table(
        spark, pages, "t_pages_redir", str(tmp / "tbl"), buckets=4
    )
    assert "final_url" in tbl.columns and "redirect_to" not in tbl.columns
    res = Engine(
        spark, None, None,
        CrawlConfig(max_rounds=8, ordering="bfs",
                    pages_table="t_pages_redir", fetch_buckets=4,
                    checkpoint_dir=str(tmp / "ckpt")),
    ).run(["http://s.test/"])
    rows = {r["url"]: r for r in res.fetched_log.collect()}
    assert rows["http://s.test/old.html"]["text"] == "NEWd"
    assert rows["http://s.test/old.html"]["final_url"] == "http://s.test/new.html"
    assert "http://s.test/new.html" not in rows


def _w_resume_exactly_once(spark, tmp):
    """Kill/resume with redirects ON: the seen delta carries landing urls,
    so the resumed crawl must neither refetch the landing page under its
    own url nor lose any page — and must equal an unbroken run exactly."""
    pages = spark.createDataFrame(pd.DataFrame(_site_rows()),
                                  schema=_PAGES_SCHEMA)
    ckpt = str(tmp / "ck")
    base = dict(ordering="bfs", checkpoint_dir=ckpt)
    Engine(spark, pages, None, CrawlConfig(max_rounds=2, **base)).run(
        ["http://s.test/"])
    res = Engine(spark, pages, None, CrawlConfig(max_rounds=10, **base)).run(
        ["http://s.test/"], resume=True)
    rows = res.fetched_log.collect()
    urls = [r["url"] for r in rows]
    assert sorted(set(urls)) == sorted(urls)  # exactly-once across resume
    assert "http://s.test/new.html" not in urls  # landing url stays deduped
    unbroken = Engine(
        spark, pages, None, CrawlConfig(max_rounds=10, ordering="bfs")
    ).run(["http://s.test/"])
    a = sorted((r["url"], r["seq"], r["final_url"]) for r in rows)
    b = sorted((r["url"], r["seq"], r["final_url"])
               for r in unbroken.fetched_log.collect())
    assert a == b  # resume == unbroken, final_url lineage included


_WORKERS = {
    "resolve_chains": _w_resolve_chains,
    "crawl_follows": _w_crawl_follows,
    "redirect_misses": _w_crawl_redirect_misses,
    "parity_refetch": _w_crawl_parity_refetch,
    "warc_location": _w_warc_location_e2e,
    "bucketed_prestaged": _w_bucketed_prestaged,
    "resume": _w_resume_exactly_once,
}


@pytest.fixture(scope="module")
def redir_runs(spark, tmp_path_factory):
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_WORKERS)) as ex:
        futs = {
            n: ex.submit(fn, spark, tmp_path_factory.mktemp(f"redir_{n}"))
            for n, fn in _WORKERS.items()
        }
    return futs


def test_resolve_redirect_chains(redir_runs):
    redir_runs["resolve_chains"].result()


def test_crawl_follows_redirects(redir_runs):
    redir_runs["crawl_follows"].result()


def test_redirected_counts_chains_to_misses_and_loops(redir_runs):
    redir_runs["redirect_misses"].result()


def test_redirect_seen_false_reference_parity(redir_runs):
    redir_runs["parity_refetch"].result()


def test_warc_location_header_e2e(redir_runs):
    redir_runs["warc_location"].result()


def test_bucketed_table_prestages_redirects(redir_runs):
    redir_runs["bucketed_prestaged"].result()


def test_redirect_resume_exactly_once(redir_runs):
    redir_runs["resume"].result()
