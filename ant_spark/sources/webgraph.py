"""Deterministic synthetic Common-Crawl-style web graph.

Produces the ``pages`` table of BASELINE.json's input_hint —
``(url, warc_ts, html, text, lang)`` plus ``status``/``ok_after_attempt``
retry drivers — together with per-host ``robots`` rows and a seed list.
Everything is a pure function of the config (seed-parameterized arithmetic,
no wall clock, no external data), so tests and benches regenerate identical
bytes on every run.

Shape (mirrors FIXTURES.md §1 requirements):
- power-law pages-per-host (Zipf exponent ``skew``) — the hot-host skew that
  the capped politeness window must survive at scale;
- an embedded link graph: per-host fanout tree covering every page (so BFS
  from the root visits the whole host) + binary-tree cross-host links between
  roots (so one seed reaches all hosts in O(log H) rounds);
- messy hrefs — relative, absolute-path, full, uppercase-host, dot-segment,
  unsorted-query variants (exercising page.go:116-139 resolution and
  normalize/url.go rules), plus mailto:/javascript:/invalid hrefs that must
  be dropped;
- a fraction of dangling links (404 ⇒ absent from pages, fetcher.go:157-161)
  and flaky pages (503 until attempt k, fetcher.go:63-69);
- robots.txt: some hosts disallow ``/private``, some set Crawl-delay, some
  have no robots (status 404 ⇒ allow-all, internal/robots/cache.go:159-163).

The HTML stays inside the subset handled by functions/htmldom.py; the
``text`` column is constructed analytically from the same fragments and is
asserted byte-equal to the parse-UDF output in tests (the per-row invariant).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import pandas as pd


@dataclass(frozen=True)
class GraphConfig:
    n_pages: int = 2_000
    n_hosts: int = 20
    fanout: int = 8
    skew: float = 1.2  # Zipf exponent for pages-per-host
    seed: int = 42
    dangling_every: int = 13  # every k-th page links to a missing URL
    flaky_every: int = 29  # every k-th page is 503 until attempt ok_after
    flaky_ok_after: int = 2
    private_every: int = 11  # every k-th page on robots-hosts is /private
    robots_disallow_hosts: int = 4  # first k hosts disallow /private
    crawl_delay_hosts: int = 2  # first k hosts set crawl-delay
    crawl_delay: float = 1.0
    para_min: int = 8  # words per paragraph (page weight knob)
    para_max: int = 24
    n_paras: int = 1
    rich_markup: bool = False  # wrap every 5th word in <b>/<i> (node count ~ real pages)
    base_ts: dt.datetime = field(
        default_factory=lambda: dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    )


def _mix(*xs: int) -> int:
    """Cheap deterministic 64-bit mixer (splitmix-style)."""
    h = 0x9E3779B97F4A7C15
    for x in xs:
        h ^= (x + 0x9E3779B97F4A7C15 + (h << 6) + (h >> 2)) & 0xFFFFFFFFFFFFFFFF
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 27
    return h


def host_sizes(cfg: GraphConfig) -> list[int]:
    """Zipf-ish page counts per host via largest remainder (deterministic)."""
    weights = [1.0 / (i + 1) ** cfg.skew for i in range(cfg.n_hosts)]
    total = sum(weights)
    raw = [w / total * cfg.n_pages for w in weights]
    sizes = [max(1, int(r)) for r in raw]
    short = cfg.n_pages - sum(sizes)
    i = 0
    while short > 0:
        sizes[i % cfg.n_hosts] += 1
        short -= 1
        i += 1
    while short < 0:
        j = max(range(cfg.n_hosts), key=lambda k: sizes[k])
        if sizes[j] > 1:
            sizes[j] -= 1
            short += 1
        else:  # pragma: no cover
            break
    return sizes


def reachable_public(pages_pdf, seeds: list[str]) -> set[str]:
    """Reference BFS over the generated graph: the exact set a compliant
    crawler fetches — robots-denied (/private/) pages are never fetched, so
    pages linked ONLY from them are unreachable. Uses the same extractor +
    normalizer the engine uses (plain Python, no Spark)."""
    import urllib.parse
    from collections import deque

    from ant_spark.functions.htmldom import stream_extract
    from ant_spark.functions.urlnorm import normalize_or_none

    html_by_url = dict(zip(pages_pdf.url, pages_pdf.html))
    seen: set[str] = set()
    fetched: set[str] = set()
    queue: deque[str] = deque()
    for s in seeds:
        n = normalize_or_none(s)
        if n and n not in seen:
            seen.add(n)
            queue.append(n)
    while queue:
        u = queue.popleft()  # true BFS (the SET is order-independent, but
        # depth-dependent oracles built on this must see BFS depths)
        if "/private/" in u:
            continue  # robots-denied: never fetched, links never seen
        html = html_by_url.get(u)
        if html is None:
            continue  # dangling link: 404 consumed
        fetched.add(u)
        _, hrefs, _ = stream_extract(html)
        for h in hrefs:
            n = normalize_or_none(urllib.parse.urljoin(u, h))
            if not n or n.split("://", 1)[0] not in ("http", "https"):
                continue
            if n not in seen:
                seen.add(n)
                queue.append(n)
    return fetched


def host_name(cfg: GraphConfig, h: int) -> str:
    return f"h{h}.test"


def page_path(cfg: GraphConfig, h: int, j: int) -> str:
    if j == 0:
        return "/"
    if cfg.robots_disallow_hosts and h < cfg.robots_disallow_hosts and j % cfg.private_every == 0:
        return f"/private/p{j}.html"
    return f"/p/p{j}.html"


def page_url(cfg: GraphConfig, h: int, j: int) -> str:
    return f"http://{host_name(cfg, h)}{page_path(cfg, h, j)}"


def _messy_href(cfg: GraphConfig, h: int, j: int, child_path: str, k: int) -> str:
    """A href variant that normalizes/resolves back to the canonical URL."""
    variant = _mix(cfg.seed, h, j, k) % 6
    host = host_name(cfg, h)
    if variant == 0:
        return child_path  # absolute-path reference
    if variant == 1:
        return f"http://{host}{child_path}"  # already absolute
    if variant == 2:
        return f"HTTP://{host.upper()}{child_path}"  # case-mess
    if variant == 3:
        return f"http://{host}:80{child_path}"  # default port
    if variant == 4:
        return f"{child_path}#frag{k}"  # fragment to strip
    # relative with dot segments: from /p/pJ.html, ../p/pC.html → /p/pC.html
    if child_path.startswith("/p/"):
        return f"../p/./{child_path[3:]}"
    return child_path


def _links_of(cfg: GraphConfig, sizes: list[int], h: int, j: int) -> list[tuple[str, str]]:
    """(href, anchor-text) pairs for page (h, j) — fanout tree + extras."""
    m = sizes[h]
    out: list[tuple[str, str]] = []
    for k in range(cfg.fanout):
        c = j * cfg.fanout + 1 + k
        if c >= m:
            break
        out.append((_messy_href(cfg, h, j, page_path(cfg, h, c), k), f"p{c}"))
    if j == 0:
        # binary cross-host tree from each root
        for c in (2 * h + 1, 2 * h + 2):
            if c < cfg.n_hosts:
                out.append((f"http://{host_name(cfg, c)}/", f"host {c}"))
    if cfg.dangling_every and _mix(cfg.seed, h, j, 99) % cfg.dangling_every == 0:
        out.append((f"/missing/m{j}.html", "gone"))
    if _mix(cfg.seed, h, j, 77) % 17 == 0:
        out.append(("mailto:crawler@test", "mail"))  # dropped by scheme filter
    if _mix(cfg.seed, h, j, 78) % 23 == 0:
        out.append(("javascript:void(0)", "js"))  # dropped by scheme filter
    return out


_WORDS = (
    "the quick brown fox jumps over a lazy dog while crawling pages and "
    "extracting links from markup at web scale with spark"
).split()


def _para(cfg: GraphConfig, h: int, j: int, p: int = 0) -> str:
    import random

    rng = random.Random(_mix(cfg.seed, h, j, 5, p))  # deterministic per page
    span = max(1, cfg.para_max - cfg.para_min)
    n = cfg.para_min + rng.randrange(span)
    return " ".join(rng.choices(_WORDS, k=n))


def render_page(cfg: GraphConfig, sizes: list[int], h: int, j: int) -> tuple[str, str]:
    """Returns (html, text). text is exactly what htmldom.text(parse(html))
    yields for this template — pinned by tests at every scale."""
    title = f"{host_name(cfg, h)} page {j}"
    paras = [_para(cfg, h, j, p) for p in range(cfg.n_paras)]
    links = _links_of(cfg, sizes, h, j)
    anchors = "".join(f'<li><a href="{href}">{txt}</a></li>' for href, txt in links)
    if cfg.rich_markup:
        # inline marks raise DOM node count toward real-page territory while
        # keeping extracted text identical (spaces live in text nodes).
        def mark(p_str: str) -> str:
            ws = p_str.split(" ")
            return " ".join(
                f"<b>{w}</b>" if i % 5 == 2 else (f"<i>{w}</i>" if i % 5 == 4 else w)
                for i, w in enumerate(ws)
            )

        para_html = "".join(f"<p>{mark(p)}</p>" for p in paras)
    else:
        para_html = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        "<!DOCTYPE html>\n"
        f"<html><head><title>{title}</title></head>"
        f"<body><h1>{title}</h1>{para_html}<ul>{anchors}</ul></body></html>"
    )
    # text parity: title + h1 + paras + anchor texts, no separators added by
    # the template (all text nodes inside elements; no inter-tag whitespace).
    text = title + title + "".join(paras) + "".join(txt for _, txt in links)
    return html, text


def generate(cfg: GraphConfig) -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """→ (pages_pdf, robots_pdf, seeds). Pure function of cfg."""
    sizes = host_sizes(cfg)
    rows = []
    gid = 0
    for h in range(cfg.n_hosts):
        for j in range(sizes[h]):
            html, text = render_page(cfg, sizes, h, j)
            flaky = cfg.flaky_every and j > 0 and _mix(cfg.seed, h, j, 3) % cfg.flaky_every == 0
            rows.append(
                {
                    "url": page_url(cfg, h, j),
                    "warc_ts": cfg.base_ts + dt.timedelta(seconds=gid),
                    "html": html.encode("utf-8"),
                    "text": text,
                    "lang": "en",
                    "status": 503 if flaky else 200,
                    "ok_after_attempt": cfg.flaky_ok_after if flaky else None,
                }
            )
            gid += 1
    pages = pd.DataFrame(rows)
    # keep the nullable int column object-typed (int | None): pandas would
    # otherwise coerce to float NaN, which Spark's non-Arrow conversion
    # path (plain spark-submit sessions) rejects for IntegerType.
    pages["ok_after_attempt"] = pd.Series(
        [None if pd.isna(v) else int(v) for v in pages["ok_after_attempt"]],
        dtype=object,
    )

    robots_rows = []
    for h in range(cfg.n_hosts):
        if h < cfg.robots_disallow_hosts:
            delay = cfg.crawl_delay if h < cfg.crawl_delay_hosts else None
            body = "User-agent: *\nDisallow: /private\n"
            if delay is not None:
                body += f"Crawl-delay: {delay}\n"
            robots_rows.append(
                {
                    "host": host_name(cfg, h),
                    "status": 200,
                    "body": body,
                    "crawl_delay": delay,
                    "fetched_round": None,
                }
            )
        elif h % 5 == 4:
            robots_rows.append(
                {
                    "host": host_name(cfg, h),
                    "status": 404,  # ⇒ allow-all (cache.go:159-163)
                    "body": None,
                    "crawl_delay": None,
                    "fetched_round": None,
                }
            )
        # other hosts: no robots row at all — engine treats as allow-all
    robots = pd.DataFrame(
        robots_rows,
        columns=["host", "status", "body", "crawl_delay", "fetched_round"],
    )
    seeds = [page_url(cfg, 0, 0)]
    return pages, robots, seeds


# --------------------------------------------------------------------------
# example.com fixture — literal port of /root/reference/testdata/example.com
# (6 pages + robots.txt; FIXTURES.md §3 requires verbatim reproduction).

_EXAMPLE_PAGES: dict[str, str] = {
    "/": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <title>Example</title>\n  </head>\n"
        "  <body>\n    <a href=\"/about.html\"></a>\n    <a href=\"/products.html\"></a>\n"
        "    <a href=\"/search.html\"></a>\n  </body>\n</html>\n"
    ),
    "/about.html": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <title></title>\n  </head>\n"
        "  <body>\n    <a href=\"/\">home</a>\n    <a href=\"/a.html\" class=\"next\">a</a>\n"
        "    <div class=\"project\">\n      <h1>Ant</h1>\n    </div>\n  </body>\n</html>\n"
    ),
    "/products.html": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <title></title>\n  </head>\n"
        "  <body>\n    <a href=\"/a.html\"></a>\n    <a href=\"/b.html\"></a>\n  </body>\n</html>\n"
    ),
    "/a.html": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <title></title>\n  </head>\n"
        "  <body>\n  </body>\n</html>\n"
    ),
    "/b.html": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <title></title>\n  </head>\n"
        "  <body>\n  </body>\n</html>\n"
    ),
    "/search.html": (
        "<!DOCTYPE html>\n<html>\n  <head>\n    <meta charset=\"utf-8\">\n"
        "    <title>search</title>\n  </head>\n  <body>\n  </body>\n</html>\n"
    ),
}

_EXAMPLE_ROBOTS = "\nUser-Agent: antbot\nDisallow: /search.html\n"


def example_site(host: str = "example.com") -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """The reference's golden mini-site as (pages, robots, seeds).

    Expected crawl with UA 'antbot' from seed '/': visits
    {/, /a.html, /about.html, /b.html, /products.html}; /search.html is
    robots-denied (engine_test.go:28-49).
    """
    from ant_spark.functions.htmldom import parse as _parse
    from ant_spark.functions.htmldom import text as _text

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i, (path, html) in enumerate(sorted(_EXAMPLE_PAGES.items())):
        rows.append(
            {
                "url": f"http://{host}{path}",
                "warc_ts": base + dt.timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": _text(_parse(html)),
                "lang": "en",
                "status": 200,
                "ok_after_attempt": None,
            }
        )
    pages = pd.DataFrame(rows)
    robots = pd.DataFrame(
        [
            {
                "host": host,
                "status": 200,
                "body": _EXAMPLE_ROBOTS,
                "crawl_delay": None,
                "fetched_round": None,
            }
        ]
    )
    return pages, robots, [f"http://{host}/"]


# JS fixture for the S4 render seam (operators/render.py): /js-only.html is
# reachable ONLY through a document.write'd link — a static parse never
# sees it, a rendered parse does (reference antcdp renders pages so
# JS-injected links enter the frontier, client.go:1-20).
_JS_PAGES: dict[str, str] = {
    "/": (
        "<!DOCTYPE html>\n<html>\n  <head><title>JS Example</title></head>\n"
        "  <body>\n    <a href=\"/static.html\">static</a>\n"
        "    <script>document.write('<a href=\"/js-only.html\">late</a>')"
        "</script>\n  </body>\n</html>\n"
    ),
    "/static.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    static page\n  </body>\n</html>\n"
    ),
    "/js-only.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    only reachable after render\n  </body>\n</html>\n"
    ),
}


def example_js_site(host: str = "js.example.com") -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """A golden mini-site whose third page is linked only via
    document.write — the render-seam fixture (deterministic, so the crawl
    output pins as a VALUES oracle like crawl_e2e_visited)."""
    from ant_spark.functions.htmldom import parse as _parse
    from ant_spark.functions.htmldom import text as _text

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i, (path, html) in enumerate(sorted(_JS_PAGES.items())):
        rows.append(
            {
                "url": f"http://{host}{path}",
                "warc_ts": base + dt.timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": _text(_parse(html)),
                "lang": "en",
                "status": 200,
                "ok_after_attempt": None,
            }
        )
    pages = pd.DataFrame(rows)
    robots = pd.DataFrame(
        columns=["host", "status", "body", "crawl_delay", "fetched_round"]
    )
    return pages, robots, [f"http://{host}/"]


# Hub-shaped fixture for graph-signal-driven priority crawling
# (graphops.pagerank → rank_priority_fn → queue_policy='priority'): /hub.html
# has in-degree 3 and /x.html hangs off the hub, so a rank-ordered crawl
# under a 1-fetch/round budget visits hub (and then x) BEFORE p1/p2, while
# FIFO visits in discovery order — the reorder is observable and
# deterministic, so the crawl output pins as a VALUES oracle.
_HUB_PAGES: dict[str, str] = {
    "/": (
        "<!DOCTYPE html>\n<html>\n  <head><title>Hub demo</title></head>\n"
        "  <body>\n    <a href=\"/p1.html\">p1</a>\n"
        "    <a href=\"/p2.html\">p2</a>\n    <a href=\"/hub.html\">hub</a>\n"
        "  </body>\n</html>\n"
    ),
    "/p1.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    <a href=\"/hub.html\">hub</a>\n  </body>\n</html>\n"
    ),
    "/p2.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    <a href=\"/hub.html\">hub</a>\n  </body>\n</html>\n"
    ),
    "/hub.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    <a href=\"/x.html\">x</a>\n  </body>\n</html>\n"
    ),
    "/x.html": (
        "<!DOCTYPE html>\n<html>\n  <head><title></title></head>\n"
        "  <body>\n    terminal page\n  </body>\n</html>\n"
    ),
}


def example_hub_site(host: str = "example.com") -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """Hub-shaped golden mini-site (see _HUB_PAGES) for the PageRank-fed
    priority-crawl composition; no robots rules."""
    from ant_spark.functions.htmldom import parse as _parse
    from ant_spark.functions.htmldom import text as _text

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i, (path, html) in enumerate(sorted(_HUB_PAGES.items())):
        rows.append(
            {
                "url": f"http://{host}{path}",
                "warc_ts": base + dt.timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": _text(_parse(html)),
                "lang": "en",
                "status": 200,
                "ok_after_attempt": None,
            }
        )
    pages = pd.DataFrame(rows)
    robots = pd.DataFrame(
        columns=["host", "status", "body", "crawl_delay", "fetched_round"]
    )
    return pages, robots, [f"http://{host}/"]


# Tag-soup fixture for the real-web WARC ingestion path: every page uses an
# out-of-(old)-subset HTML5 construct — table foster parenting, RAWTEXT
# elements hiding fake links (textarea/noscript/iframe/plaintext/xmp),
# CDATA-in-svg — so the e2e crawl proves the extractor's x/net/html-grade
# behaviors, not just the clean synthetic alphabet. Links that must NEVER
# enter the frontier all point at /fake-*.html.
_SOUP_PAGES: dict[str, str] = {
    "/": (
        '<html><head><title>Soup &amp; Co</title></head><body>'
        '<table><a href="/fostered.html">fostered</a>'
        '<tr><td><a href="/cell.html">cell</a></td></tr>mid</table>'
        '<textarea><a href="/fake-ta.html">no</a></textarea>'
        '<noscript><a href="/fake-ns.html">no</a></noscript>'
        '</body></html>'
    ),
    "/fostered.html": (
        '<html><body><a href="/deep.html">deep</a>'
        '<plaintext><a href="/fake-pt.html">swallowed to EOF'
    ),
    "/cell.html": (
        '<html><body><svg><![CDATA[vector text]]></svg>'
        '<iframe><a href="/fake-if.html">x</a></iframe>'
        '<a href="/deep.html">again</a></body></html>'
    ),
    "/deep.html": '<html><body><xmp>end &amp; done</xmp></body></html>',
}


def example_soup_site(host: str = "soup.example.com") -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """Tag-soup golden mini-site (see _SOUP_PAGES); no robots rules."""
    from ant_spark.functions.htmldom import parse as _parse
    from ant_spark.functions.htmldom import text as _text

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i, (path, html) in enumerate(sorted(_SOUP_PAGES.items())):
        rows.append(
            {
                "url": f"http://{host}{path}",
                "warc_ts": base + dt.timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": _text(_parse(html)),
                "lang": "en",
                "status": 200,
                "ok_after_attempt": None,
            }
        )
    pages = pd.DataFrame(rows)
    robots = pd.DataFrame(
        columns=["host", "status", "body", "crawl_delay", "fetched_round"]
    )
    return pages, robots, [f"http://{host}/"]
