"""URL normalization with Go-reference parity.

Reimplements, in Python, the observable behavior of the reference's
``normalize.RawURL`` (``/root/reference/internal/normalize/url.go:25-79``)
including the Go ``net/url`` parse→String round-trip effects its golden tests
pin (``url_test.go:10-70``):

1.  scheme and host lowercased (userinfo case preserved);
2.  default ports stripped (http:80, https:443; custom ports kept);
3.  path: percent-triplets decoded, dot-segments removed, ``//`` collapsed,
    trailing slash removed, empty→``/``; re-encoded with Go's encodePath
    byte set and UPPERCASE hex (so ``%2a``→``%2A``, ``%7E``→``~``);
4.  query kept raw but ``&``-split and byte-sorted; bare ``?`` dropped;
5.  fragment dropped;
6.  invalid URLs (control bytes, malformed percent-triplets in the path,
    missing host for http(s)) raise ValueError — the engine rejects these
    seeds exactly like reference ``engine.go:183-187`` / skips hrefs like
    ``page.go:122-125``.

Exposed three ways:
- ``normalize_url(str) -> str`` (pure Python, used in tests and inside UDFs);
- ``normalize_udf`` — a vectorized pandas UDF (Arrow-batched; invalid → null);
- ``normalize_expr_sql_subset`` — a *native column expression* covering the
  SQL-expressible subset (no percent/dot-segment work), kept for plans where
  the input is known pre-cleaned; Catalyst can push it into codegen.
"""

from __future__ import annotations

from urllib.parse import quote, unquote, urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Go net/url encodePath: unreserved + "$&+,/:;=@" stay literal in paths;
# everything else (incl. "!'()*?") is %XX-escaped, uppercase hex.
_PATH_SAFE = "$&+,/:;=@"
# control chars Go's url parser rejects — one compiled-regex scan instead of
# a per-character Python loop (r7; the loop was ~1/3 of normalize_url)
import re as _re

_CTRL_RE = _re.compile(r"[\x00-\x1f\x7f]")

_HEX = set("0123456789abcdefABCDEF")


def _check_percent(s: str, what: str) -> None:
    i = 0
    while True:
        i = s.find("%", i)
        if i == -1:
            return
        if i + 2 >= len(s) or s[i + 1] not in _HEX or s[i + 2] not in _HEX:
            raise ValueError(f"invalid percent-encoding in {what}: {s!r}")
        i += 3


def _clean_path(path: str) -> str:
    """Go ``path.Join(strings.Split(p, "/")...)`` — reference url.go:61-69.

    Splitting on "/" and Join-ing drops empty segments (collapses "//" and
    any leading/trailing slash) then path.Clean resolves "." and "..".
    """
    parts = [p for p in path.split("/") if p]
    if not parts:
        return ""
    # path.Clean on a relative path: iterative dot-segment removal where
    # leading ".." segments are preserved (cannot be popped).
    out: list[str] = []
    for p in parts:
        if p == ".":
            continue
        if p == "..":
            if out and out[-1] != "..":
                out.pop()
            else:
                out.append("..")
        else:
            out.append(p)
    return "/".join(out) if out else "."


def normalize_url(rawurl: str) -> str:
    """Normalize one URL; raises ValueError on inputs Go's parser rejects."""
    if rawurl is None:
        raise ValueError("null url")
    if _CTRL_RE.search(rawurl) is not None:
        raise ValueError(f"control character in url: {rawurl!r}")
    try:
        sp = urlsplit(rawurl)
    except ValueError as e:  # e.g. invalid IPv6 literal
        raise ValueError(f"unparseable url: {rawurl!r} ({e})") from None

    scheme = sp.scheme.lower()
    netloc = sp.netloc
    userinfo, sep, hostport = netloc.rpartition("@")
    host = hostport.lower()
    if ":" in host:
        h, _, port = host.rpartition(":")
        if (scheme == "http" and port == "80") or (
            scheme == "https" and port == "443"
        ):
            host = h

    raw_path = sp.path
    _check_percent(raw_path, "path")
    path = unquote(raw_path, errors="strict")
    if path in ("", "/"):
        path = "/"
    else:
        path = _clean_path(path)
    path = quote(path, safe=_PATH_SAFE)
    if host and path and not path.startswith("/"):
        path = "/" + path

    query = sp.query
    if query:
        query = "&".join(sorted(query.split("&")))

    out: list[str] = []
    if scheme:
        out.append(scheme + ":")
    if host or userinfo:
        out.append("//")
        if userinfo:
            out.append(userinfo + "@")
        out.append(host)
    out.append(path)
    if query:
        out.append("?" + query)
    return "".join(out)


def normalize_or_none(rawurl: str | None) -> str | None:
    try:
        return normalize_url(rawurl) if rawurl is not None else None
    except ValueError:
        return None


# pure function of the input string → safe to memoize; link streams repeat
# the same URLs heavily (fanout re-discovers popular pages every round), so
# a worker-process-wide cache short-circuits most normalizations (r7)
from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=1 << 16)
def _normalize_cached(rawurl: str | None) -> str | None:
    return normalize_or_none(rawurl)


@pandas_udf(StringType())
def normalize_udf(urls: pd.Series) -> pd.Series:
    """Vectorized normalization; invalid/unparseable URLs become null
    (callers drop nulls — matching page.go:122-125 skip semantics)."""
    return urls.map(_normalize_cached)


def is_queueable(url_col: Column) -> Column:
    """Scheme filter: only http/https enter the frontier
    (reference engine.go:183-187, page.go:131-134)."""
    scheme = F.substring_index(url_col, "://", 1)
    return url_col.isNotNull() & scheme.isin("http", "https")


def normalize_expr_sql_subset(url_col: Column) -> Column:
    """Native-expression normalizer for the SQL-expressible subset.

    Covers: scheme+host lowercasing, default-port stripping, query-param
    sorting, fragment and bare-'?' removal, empty path → '/'. Does NOT do
    percent-triplet or dot-segment work (that needs the UDF). Stays fully
    inside whole-stage codegen; mirrored 1:1 by the DuckDB oracle SQL in
    __spark_entry__.oracle_sql()['crawl_url_normalize'].
    """
    no_frag = F.substring_index(url_col, "#", 1)
    scheme = F.lower(F.substring_index(no_frag, "://", 1))
    rest = F.substring_index(no_frag, "://", -1)  # host[:port]/path?query
    hostport = F.lower(F.substring_index(F.substring_index(rest, "/", 1), "?", 1))
    host = (
        F.when(
            (scheme == "http") & hostport.endswith(":80"),
            F.substring(hostport, 1, F.length(hostport) - F.lit(3)),
        )
        .when(
            (scheme == "https") & hostport.endswith(":443"),
            F.substring(hostport, 1, F.length(hostport) - F.lit(4)),
        )
        .otherwise(hostport)
    )
    return _assemble_sql_subset(no_frag, scheme, host)


def _assemble_sql_subset(no_frag: Column, scheme: Column, host: Column) -> Column:
    rest = F.substring_index(no_frag, "://", -1)
    slash_pos = F.instr(rest, "/")
    pathq = F.when(slash_pos > 0, F.substring(rest, slash_pos, F.lit(2**30))).otherwise(
        F.lit("/")
    )
    path = F.substring_index(pathq, "?", 1)
    query = F.when(F.instr(pathq, "?") > 0, F.substring_index(pathq, "?", -1)).otherwise(
        F.lit("")
    )
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def host_of(url_col: Column) -> Column:
    """host[:port] of a normalized URL — native exprs only."""
    rest = F.substring_index(url_col, "://", -1)
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    # strip userinfo if present
    return F.when(
        F.instr(hostport, "@") > 0, F.substring_index(hostport, "@", -1)
    ).otherwise(hostport)


def path_of(url_col: Column) -> Column:
    """path of a normalized URL ('' → '/') — native exprs only."""
    rest = F.substring_index(url_col, "://", -1)
    slash_pos = F.instr(rest, "/")
    pathq = F.when(slash_pos > 0, F.substring(rest, slash_pos, F.lit(2**30))).otherwise(
        F.lit("/")
    )
    return F.substring_index(pathq, "?", 1)


def hostpath_of(url_col: Column) -> Column:
    """host+path, the matcher subject (reference matchers.go:44-48,66-71)."""
    return F.concat(host_of(url_col), path_of(url_col))


def url_hash(url_col: Column) -> Column:
    """Dedupe/bucket key: xxhash64 of the normalized URL (JVM-side, cheap).

    Plays the role of the reference's murmur3 cache key
    (antcache/utils.go:30-34); exact hash parity is not required — the key
    never leaves the engine.
    """
    return F.xxhash64(url_col)


# --------------------------------------------------------------------------
# Tracking-parameter stripping (opt-in 10th rule, beyond the reference)
#
# Session/campaign query parameters make the same document enumerable under
# unbounded distinct URLs — at corpus scale they inflate the frontier and
# defeat the exact seen-set. The reference normalizes structure only
# (url.go:25-79); this opt-in extension drops the well-known tracking keys
# AFTER reference normalization, so with strip_tracking=False behavior is
# byte-identical to the Go round-trip goldens.
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = frozenset(
    "gclid gclsrc dclid gbraid wbraid fbclid msclkid twclid igshid yclid "
    "mc_cid mc_eid mkt_tok _hsenc _hsmi vero_id vero_conv wickedid "
    "oly_enc_id oly_anon_id s_kwcid ref_src ref_url spm scid".split()
)


def _is_tracking_param(param: str) -> bool:
    key = param.split("=", 1)[0].lower()
    return key in TRACKING_PARAMS or key.startswith(TRACKING_PARAM_PREFIXES)


def strip_tracking(url: str) -> str:
    """Drop tracking query params from an (already normalized) URL; the
    sorted-param invariant is preserved because filtering keeps order. A
    query emptied entirely loses its ``?`` (matching rule 4's bare-?
    drop)."""
    base, sep, query = url.partition("?")
    if not sep:
        return url
    kept = [p for p in query.split("&") if not _is_tracking_param(p)]
    return base + ("?" + "&".join(kept) if kept else "")


def make_normalize_udf(strip_tracking_params: bool = False):
    """normalize_udf with the optional tracking-strip composed in — the
    engine's link-normalization stage binds this once per crawl."""
    if not strip_tracking_params:
        return normalize_udf

    @pandas_udf(StringType())
    def normalize_strip_udf(urls: pd.Series) -> pd.Series:
        def one(u):
            v = normalize_or_none(u)
            return strip_tracking(v) if v is not None else None

        return urls.map(one, na_action="ignore")

    return normalize_strip_udf


def once_per_row(udf):
    """A copy of scalar pandas UDF ``udf`` that a plan evaluates once per
    row even when a filter reads its output. The optimizer pushes a filter
    below a deterministic projection by inlining the projected expression,
    so filtering on a UDF's result puts a second ArrowEvalPython node over
    the same rows; it never inlines a nondeterministic expression. The copy
    is marked nondeterministic for that reason only: its values are the
    same as ``udf``'s."""
    return pandas_udf(udf.func, udf.returnType).asNondeterministic()
