"""Output checks for the crawl workloads.

Each check takes plain Python data (the generated pages table and the
fetched URLs read back from the crawl's ``fetched_log``) and returns a
list of ``(name, ok, detail)`` tuples. None of them touches Spark, so the
benchmark runs them outside the timed window and the tests can feed them
hand-made outputs.
"""

from __future__ import annotations

import urllib.parse
from collections import Counter

Check = tuple[str, bool, str]


def _public(url: str) -> bool:
    # the generator only places /private/ pages on hosts whose robots.txt
    # disallows /private (webgraph.page_path), so this is the robots rule
    return "/private/" not in url


def reachable_within(pages_pdf, seeds: list[str], rounds: int | None) -> set[str]:
    """URLs a compliant BFS crawl fetches in its first ``rounds`` rounds
    (all of them when ``rounds`` is None). Same traversal as
    ``webgraph.reachable_public`` but level by level, for graphs without
    flaky pages or crawl-delays, where round ``i`` fetches exactly BFS
    level ``i``."""
    from ant_spark.functions.htmldom import stream_extract
    from ant_spark.functions.urlnorm import normalize_or_none

    html_by_url = dict(zip(pages_pdf.url, pages_pdf.html))
    seen: set[str] = set()
    level: list[str] = []
    for s in seeds:
        n = normalize_or_none(s)
        if n and n not in seen:
            seen.add(n)
            level.append(n)
    fetched: set[str] = set()
    depth = 0
    while level and (rounds is None or depth < rounds):
        nxt: list[str] = []
        for u in level:
            html = html_by_url.get(u)
            if not _public(u) or html is None:
                continue  # robots-denied or dangling: no fetch, no links
            fetched.add(u)
            _, hrefs, _ = stream_extract(html)
            for h in hrefs:
                n = normalize_or_none(urllib.parse.urljoin(u, h))
                if not n or n.split("://", 1)[0] not in ("http", "https"):
                    continue
                if n not in seen:
                    seen.add(n)
                    nxt.append(n)
        level = nxt
        depth += 1
    return fetched


def _no_refetch(fetched: list[str]) -> Check:
    dup = [u for u, n in Counter(fetched).items() if n > 1]
    return ("no_url_fetched_twice", not dup, f"{len(dup)} urls fetched twice")


def _same_set(name: str, got: set[str], want: set[str]) -> Check:
    missing, extra = want - got, got - want
    return (
        name,
        not missing and not extra,
        f"{len(missing)} missing, {len(extra)} unexpected "
        f"(e.g. {sorted(missing | extra)[:2]})",
    )


def check_bulk(pages_pdf, fetched: list[str]) -> list[Check]:
    """Bulk recrawl: every status-200 page the robots rules allow is
    fetched, nothing else, and nothing twice."""
    want = {
        u for u, s in zip(pages_pdf.url, pages_pdf.status) if s == 200 and _public(u)
    }
    return [
        _no_refetch(fetched),
        _same_set("fetched_eq_status_200", set(fetched), want),
    ]


def check_bfs(pages_pdf, seeds: list[str], rounds: int, fetched: list[str]) -> list[Check]:
    """Round-capped BFS: the fetched set equals the first ``rounds`` BFS
    levels of the public reachable graph, and nothing is fetched twice."""
    return [
        _no_refetch(fetched),
        _same_set(
            "fetched_eq_reachable_public",
            set(fetched),
            reachable_within(pages_pdf, seeds, rounds),
        ),
    ]
