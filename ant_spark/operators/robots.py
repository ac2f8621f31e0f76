"""robots.txt parsing and the allow/crawl-delay join stage.

Parity targets (reference ``internal/robots/cache.go`` + temoto/robotstxt
semantics it depends on):

- lookup key is the *host* (``cache.go:143-144``); one robots per host;
- HTTP status ≥ 400 ⇒ allow-all, no crawl delay (``cache.go:159-163``,
  test ``cache_test.go:87-98``);
- tested path gets a leading ``/`` coerced (``cache.go:94-100``);
- group selection: the group whose agent token is the longest
  case-insensitive prefix-match of the UA wins; ``*`` is the fallback;
- rule matching: Google-REP longest-match-wins over Allow/Disallow with
  ``*`` wildcards and ``$`` end anchor; empty ``Disallow:`` means allow;
  tie → Allow;
- ``Crawl-delay`` applies per matched group (``cache.go:114-136``).

The Spark stage is a **broadcast equi-join** of the frontier against the
small robots dim on ``host`` (the LRU cache analogue — reference J2), then a
vectorized pandas UDF evaluating (body, status, path, ua) → allowed. Parsed
rule-sets are cached per executor keyed by robots body (the per-process
compile-once pattern, like reference's LRU).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


class Rule:
    __slots__ = ("allow", "path", "rx")

    def __init__(self, allow: bool, path: str):
        self.allow = allow
        self.path = path
        if "*" in path or path.endswith("$"):
            rx = "^"
            body = path[:-1] if path.endswith("$") else path
            for ch in body:
                rx += ".*" if ch == "*" else re.escape(ch)
            if path.endswith("$"):
                rx += "$"
            self.rx = re.compile(rx)
        else:
            self.rx = None

    def matches(self, path: str) -> bool:
        if self.rx is not None:
            return self.rx.match(path) is not None
        return path.startswith(self.path)


class Group:
    __slots__ = ("agents", "rules", "crawl_delay")

    def __init__(self):
        self.agents: list[str] = []
        self.rules: list[Rule] = []
        self.crawl_delay: float | None = None


class RobotsData:
    """Parsed robots.txt for one host."""

    def __init__(self, groups: list[Group], sitemaps: list[str] | None = None):
        self.groups = groups
        self.sitemaps = sitemaps or []

    @classmethod
    def parse(cls, body: str | None) -> "RobotsData":
        groups: list[Group] = []
        sitemaps: list[str] = []
        cur: Group | None = None
        rules_seen_in_cur = False
        for raw in (body or "").splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, val = line.partition(":")
            key = key.strip().lower()
            val = val.strip()
            if key == "user-agent":
                if cur is None or rules_seen_in_cur:
                    cur = Group()
                    groups.append(cur)
                    rules_seen_in_cur = False
                cur.agents.append(val.lower())
            elif key in ("disallow", "allow"):
                if cur is None:
                    continue
                rules_seen_in_cur = True
                if val == "":
                    continue  # empty Disallow ⇒ no rule ⇒ allow
                cur.rules.append(Rule(key == "allow", val))
            elif key == "crawl-delay":
                if cur is None:
                    continue
                rules_seen_in_cur = True
                try:
                    cur.crawl_delay = float(val)
                except ValueError:
                    pass
            elif key == "sitemap":
                # REP: Sitemap is GROUP-INDEPENDENT (valid anywhere in the
                # file, does not open or close a user-agent group) and the
                # value is an absolute URL. The reference ignores it
                # (temoto/robotstxt exposes sitemaps; ant never reads them)
                # — surfaced here because sitemap-seeded crawling is
                # first-class in this engine (sources/sitemap.py).
                if val:
                    sitemaps.append(val)
        return cls(groups, sitemaps)

    def find_group(self, ua: str) -> Group | None:
        """Longest agent-token prefix match; '*' fallback."""
        ua = ua.lower()
        best: Group | None = None
        best_len = -1
        star: Group | None = None
        for g in self.groups:
            for a in g.agents:
                if a == "*":
                    if star is None:
                        star = g
                elif ua.startswith(a) and len(a) > best_len:
                    best, best_len = g, len(a)
        return best if best is not None else star

    def allowed(self, path: str, ua: str) -> bool:
        if path == "" or path[0] != "/":
            path = "/" + path  # cache.go:94-100 coercion
        g = self.find_group(ua)
        if g is None:
            return True
        best: Rule | None = None
        best_len = -1
        for r in g.rules:
            if r.matches(path):
                l = len(r.path)
                if l > best_len or (l == best_len and r.allow and best and not best.allow):
                    best, best_len = r, l
        return best.allow if best is not None else True

    def delay(self, ua: str) -> float | None:
        g = self.find_group(ua)
        return g.crawl_delay if g is not None else None


@lru_cache(maxsize=8192)
def _parsed(body: str) -> RobotsData:
    return RobotsData.parse(body)


def allowed_one(body: str | None, status: int | None, path: str, ua: str) -> bool:
    if body is None:
        return True  # no robots row ⇒ allow-all
    if status is not None and status >= 400:
        return True  # cache.go:159-163
    return _parsed(body).allowed(path, ua)


def delay_one(body: str | None, status: int | None, ua: str) -> float | None:
    if body is None or (status is not None and status >= 400):
        return None
    return _parsed(body).delay(ua)


def make_robots_udf(ua: str):
    """Fused (body, status, path) → struct(allowed, crawl_delay): one Arrow
    round-trip instead of two — the robots body column is the wide side of
    this stage, and the separate allowed/delay UDFs each shipped it to the
    Python worker every round (r7, guide §4.1). Same per-row semantics as
    allowed_one/delay_one."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, StructField, StructType,
    )

    out_t = StructType([
        StructField("allowed", BooleanType()),
        StructField("crawl_delay", DoubleType()),
    ])

    @pandas_udf(out_t)
    def robots_udf(
        body: pd.Series, status: pd.Series, path: pd.Series
    ) -> pd.DataFrame:
        alw: list[bool] = []
        dly: list[float | None] = []
        for b, s, p in zip(body, status, path):
            st = int(s) if pd.notna(s) else None
            alw.append(allowed_one(b, st, p or "/", ua))
            dly.append(delay_one(b, st, ua))
        return pd.DataFrame({"allowed": alw, "crawl_delay": dly})

    return robots_udf


def make_delay_udf(ua: str):
    """Vectorized (body, status) → crawl-delay seconds (null = none).
    Parsed from the body per UA group (cache.go:114-136), so the engine does
    not trust any precomputed convenience column."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def delay_udf(body: pd.Series, status: pd.Series) -> pd.Series:
        return pd.Series(
            [
                delay_one(b, int(s) if pd.notna(s) else None, ua)
                for b, s in zip(body, status)
            ],
            dtype="float64",
        )

    return delay_udf


def with_robots(
    frontier: DataFrame,
    robots: DataFrame,
    ua: str,
    path_col: Column,
) -> DataFrame:
    """Join robots onto the frontier and add ``robots_allowed`` +
    ``crawl_delay`` columns (reference J2: LRU lookup → dimension join).

    Catalyst/AQE picks the join: small robots dims broadcast (the common
    case — one row per host, verified by tools/explain_audit.py), while a
    10^8-host robots table falls back to a shuffle join instead of OOMing
    the driver; at that scale bucket both tables by ``host`` in storage for
    a shuffle-free join.
    """
    rb = robots.select(
        F.col("host").alias("_r_host"),
        F.col("status").alias("_r_status"),
        F.col("body").alias("_r_body"),
    )
    robots_udf = make_robots_udf(ua)
    out = (
        frontier.join(rb, frontier["host"] == rb["_r_host"], "left")
        .withColumn(
            "_rb",
            robots_udf(F.col("_r_body"), F.col("_r_status"), path_col),
        )
        .withColumn("robots_allowed", F.col("_rb.allowed"))
        .withColumn("crawl_delay", F.col("_rb.crawl_delay"))
        .drop("_r_host", "_r_status", "_r_body", "_rb")
    )
    return out


def make_sitemaps_udf():
    """Vectorized Sitemap-directive extraction; 4xx/5xx robots expose none
    (same status policy as the allow path: an error response has no rules).
    Factory (not module-level) so importing needs no active session."""
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def sitemaps_udf(body: pd.Series, status: pd.Series) -> pd.Series:
        out = []
        for b, s in zip(body, status):
            if b is None or (s is not None and s >= 400):
                out.append([])
            else:
                out.append(_parsed(b).sitemaps)
        return pd.Series(out)

    return sitemaps_udf


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """(host, sitemap_url) rows from the robots dim — the discovery leg of
    sitemap-seeded crawling.

    REP: ``Sitemap:`` is group-independent and absolute. Compose with
    ``sources.sitemap.crawl_sitemaps`` (index-tree recursion) and
    ``sitemap_seeds`` to turn a robots feed into a priority-hinted seed
    frontier; the robots dim is host-sized, so the collect of sitemap urls
    feeding ``crawl_sitemaps`` is dim-sized by construction.
    """
    return (
        robots.select(
            "host",
            F.explode(make_sitemaps_udf()(F.col("body"), F.col("status"))).alias(
                "sitemap_url"
            ),
        )
        .distinct()
    )
