"""Fetched-table-as-HTTP-cache semantics.

The reference wraps its HTTP client in a cache (``antcache/httpcache.go``):
a stored response is served while fresh, revalidated/replaced otherwise. In
the Spark engine, the ``fetched``/``pages`` table IS the cache; these
operators give the two cache behaviors that survive the translation
(SURVEY.md §2.1 S5):

- **freshness** (aggressive mode, ``antcache/aggressive.go:69-76``): a row is
  served from cache iff ``warc_ts`` is within ``max_age`` of the round time;
  stale rows fall out of the join and become refetch candidates.
- **revalidate/replace** (``MERGE INTO`` analogue): upsert newly fetched rows
  over stale ones by url, latest ``warc_ts`` wins — plain parquet stand-in
  for an Iceberg MERGE.

RFC 7234 header plumbing: validator revalidation (ETag/Last-Modified) plus
a directive/Vary subset — ``Cache-Control: no-store`` bypass, per-response
``max-age=N`` freshness override, and Vary header-field matching
(``antcache/directives.go:14-48``, ``utils.go:38-64``) — all as native
column expressions over optional header columns. WARC-style corpora often
carry no headers; every directive input is optional and absent columns
reproduce the plain age-predicate behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _age_interval(max_age_seconds: float) -> Column:
    """max_age as a day-time interval literal — make_dt_interval keeps
    sub-second precision (an f-string ``INTERVAL {int(...)}`` would silently
    truncate fractional ages) and avoids string-built SQL."""
    return F.make_dt_interval(secs=F.lit(float(max_age_seconds)))


def fresh_only(
    pages: DataFrame, as_of_ts: Column, max_age_seconds: float
) -> DataFrame:
    """Cache-fresh rows only: warc_ts ≥ as_of − max_age (aggressive mode).

    Stays a plain predicate so Catalyst pushes it into the parquet scan
    (partition pruning when the table is date-partitioned on warc_ts).
    """
    cutoff = as_of_ts - _age_interval(max_age_seconds)
    return pages.filter(F.col("warc_ts") >= cutoff)


def cc_tokens(cc: Column) -> Column:
    """Cache-Control split into trimmed, lowercased, non-empty tokens
    (reference ``split`` — antcache/utils.go:96-105)."""
    toks = F.transform(
        F.split(F.coalesce(cc, F.lit("")), ","), lambda v: F.trim(F.lower(v))
    )
    return F.filter(toks, lambda v: v != "")


def cc_has(cc: Column, name: str) -> Column:
    """True iff the bare directive ``name`` is present (``directives.has``,
    antcache/directives.go:35-38; e.g. no-store/no-cache)."""
    return F.exists(cc_tokens(cc), lambda v: v == F.lit(name))


def cc_duration_seconds(cc: Column, name: str) -> Column:
    """Seconds from a ``name=N`` directive, NULL when absent/unparseable
    (``directives.duration``, antcache/directives.go:40-49)."""
    hits = F.filter(
        cc_tokens(cc), lambda v: v.startswith(F.lit(name + "="))
    )
    first = F.when(F.size(hits) > 0, F.element_at(hits, 1))
    val = F.regexp_extract(first, rf"^{name}=(-?\d+)$", 1)
    return F.when(val != "", val.cast("long"))


def vary_matches(
    vary: Column, req_headers: Column, resp_headers: Column
) -> Column:
    """RFC 7234 §4.1 selecting-header match (``matches``,
    antcache/utils.go:38-52): every header field named by ``vary`` must
    carry the same value in the presented request headers as in the stored
    response headers. Header maps use lowercased keys; an absent field
    compares as '' on both sides (Go's Header.Get zero value). NULL/empty
    vary matches trivially."""
    keys = F.filter(
        F.transform(
            F.split(F.coalesce(vary, F.lit("")), ","),
            lambda v: F.trim(F.lower(v)),
        ),
        lambda v: v != "",
    )
    return F.forall(
        keys,
        lambda k: F.coalesce(F.element_at(req_headers, k), F.lit(""))
        == F.coalesce(F.element_at(resp_headers, k), F.lit("")),
    )


def merge_fetched(existing: DataFrame, refetched: DataFrame) -> DataFrame:
    """Upsert by url, newest warc_ts wins (ties → refetched side).

    Equivalent Iceberg: MERGE INTO existing USING refetched ON url WHEN
    MATCHED AND refetched.warc_ts >= existing.warc_ts THEN UPDATE ... WHEN
    NOT MATCHED THEN INSERT.
    """
    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        refetched.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def revalidate(
    cached: DataFrame,
    origin: DataFrame,
    as_of_ts: Column,
    max_age_seconds: float | None,
    stale_if_error: bool = False,
    cc_col: str | None = None,
    vary_col: str | None = None,
    req_headers_col: str | None = None,
    resp_headers_col: str | None = None,
    date_col: str | None = None,
    expires_col: str | None = None,
    req_cc_col: str | None = None,
    authorization_col: str | None = None,
) -> DataFrame:
    """RFC 7234 §4.3 verification as ONE batch left-join — the reference's
    per-request ``Cache.verify`` (antcache/httpcache.go:214-271) re-expressed
    over the whole cached corpus at once.

    ``cached``/``origin`` need (url, warc_ts, status, etag, last_modified).
    Per cached row the decision mirrors the reference's control flow:

    - still fresh                            → ``fresh`` (serve stored;
      no conditional request — httpcache.go:200-202)
    - origin row absent                      → ``miss`` (refetch from
      scratch; verify returned nil — httpcache.go:268-270)
    - origin 5xx + stale-if-error            → ``stale_error_served``
      (serve stored — httpcache.go:236-241)
    - origin 5xx otherwise                   → ``error`` (surface the 5xx)
    - validators unchanged (ETag match, else Last-Modified match) → a 304:
      ``revalidated`` — serve the stored body, adopt the origin's fresher
      headers/timestamp (merge(resp.Header, newresp.Header),
      httpcache.go:245-250)
    - origin 200 with changed validators     → ``replaced`` (store + serve
      the full new response — httpcache.go:256-261)
    - any other origin status                → ``miss`` (not storable;
      verification failed — httpcache.go:264-270)

    Directive/Vary subset (all OPTIONAL; absent columns keep the plain
    age-predicate behavior):

    - ``cc_col`` (stored response Cache-Control string):
      ``no-store`` → ``no_store`` (never storable — rfc7234.go:57-59 would
      have rejected it at store time; the batch analogue bypasses the row);
      ``max-age=N`` overrides ``max_age_seconds`` as that row's freshness
      lifetime (rfc7234.go:112-114); ``no-cache`` skips the fresh branch —
      the row must be validated (rfc7234.go:100-102).
    - ``vary_col`` + ``req_headers_col``/``resp_headers_col``
      (map<string,string>, lowercased keys): RFC 7234 §4.1 selecting-header
      match; a mismatch is TRANSPARENT — the stored variant is unusable even
      for validation, so the row is a ``miss`` (full refetch) ahead of all
      validator branches (utils.go:38-52 → rfc7234.go:84-86 → load nil).

    Header-freshness inputs (all OPTIONAL; passing ANY of ``date_col`` /
    ``expires_col`` / ``req_cc_col`` switches every row onto the FAITHFUL
    freshness arithmetic of ``fresh()``, rfc7234.go:78-141):

    - ``date_col`` (timestamp — parsed Date header): the freshness base.
      ``age = as_of − date``; a NULL date means the stored response can
      never be fresh (``if d, ok := date(...)`` fails → stale → validate,
      rfc7234.go:104/138-140). When omitted in faithful mode, ``warc_ts``
      stands in for Date (the WARC capture time IS the response time).
    - ``expires_col`` (timestamp — parsed Expires header): freshness
      lifetime ``expires − date`` when the response carries no ``max-age``
      (utils.go:69-77, rfc7234.go:110-116).
    - ``req_cc_col`` (request Cache-Control string — rfc7234.go:118-135):
      ``max-age=N`` overrides the lifetime (beats the response's own);
      ``min-fresh=N`` adds to the age; bare ``max-stale`` accepts any
      staleness (fresh whenever Date is known); ``max-stale=N`` subtracts
      from the age; ``no-cache`` forces validation; ``only-if-cached``
      serves stored unconditionally (after the no-cache check, as in the
      reference's order).
      Lifetime priority: request max-age > response max-age > expires−date
      > ``max_age_seconds``. Faithful mode compares STRICTLY
      (``lifetime > age``, rfc7234.go:137) — the legacy default path keeps
      its inclusive ``warc_ts >= cutoff`` predicate.
      ``max_age_seconds=None`` (faithful mode only) is the strict
      reference-exact behavior: a response with a Date but no
      max-age/Expires gets NO heuristic lifetime — the reference's
      ``fresh()`` leaves lifetime zero and the row falls through to
      validation (rfc7234.go:104-116). A float default is the deliberate
      extension (heuristic freshness for WARC corpora whose captures
      rarely carry explicit lifetimes).
    - ``authorization_col`` (request Authorization header): a non-empty
      value (or a request ``no-store`` directive) makes the request
      non-cacheable — ``cache()`` returns false (rfc7234.go:17-23) and the
      row bypasses the cache entirely → decision ``bypass``, checked before
      everything else.

    Stays a single native join + CASE expression: Catalyst broadcast-joins
    a small origin probe, or sort-merge-joins two url-bucketed tables
    shuffle-free at corpus scale.
    """
    faithful = any(c is not None for c in (date_col, expires_col, req_cc_col))
    if max_age_seconds is None and not faithful:
        raise ValueError(
            "max_age_seconds=None (strict reference-exact heuristic-lifetime "
            "behavior) requires faithful mode — pass date_col/expires_col/"
            "req_cc_col"
        )
    if cc_col is not None:
        cc = F.col(cc_col)
        no_store = cc_has(cc, "no-store")
        no_cache = cc_has(cc, "no-cache")
        resp_maxage = cc_duration_seconds(cc, "max-age").cast("double")
    else:
        no_store = F.lit(False)
        no_cache = F.lit(False)
        resp_maxage = F.lit(None).cast("double")
    only_if_cached = F.lit(False)
    bypass = F.lit(False)
    if authorization_col is not None:
        bypass = F.coalesce(F.col(authorization_col), F.lit("")) != ""
    if faithful:
        # fresh() arithmetic (rfc7234.go:104-141), all in epoch seconds.
        # unix_micros over a (session-UTC) timestamp keeps microsecond
        # precision exactly within double's 2^53 mantissa — bit-identical
        # to the oracle's epoch_us(ts)/1e6 (NTZ columns cast first; a
        # direct TIMESTAMP_NTZ→DOUBLE cast is disallowed in Spark 4).
        def _epoch_s(c: Column) -> Column:
            return F.unix_micros(c.cast("timestamp")) / F.lit(1000000.0)

        date = F.col(date_col) if date_col is not None else F.col("warc_ts")
        age = _epoch_s(as_of_ts) - _epoch_s(date)
        exp_life = (
            _epoch_s(F.col(expires_col)) - _epoch_s(date)
            if expires_col is not None
            else F.lit(None).cast("double")
        )
        if req_cc_col is not None:
            rcc = F.col(req_cc_col)
            req_maxage = cc_duration_seconds(rcc, "max-age").cast("double")
            min_fresh = cc_duration_seconds(rcc, "min-fresh").cast("double")
            max_stale_n = cc_duration_seconds(rcc, "max-stale").cast("double")
            bare_max_stale = cc_has(rcc, "max-stale") & max_stale_n.isNull()
            only_if_cached = cc_has(rcc, "only-if-cached")
            no_cache = no_cache | cc_has(rcc, "no-cache")
            bypass = bypass | cc_has(rcc, "no-store")
        else:
            req_maxage = F.lit(None).cast("double")
            min_fresh = F.lit(None).cast("double")
            max_stale_n = F.lit(None).cast("double")
            bare_max_stale = F.lit(False)
        default_life = (
            F.lit(None).cast("double")
            if max_age_seconds is None  # strict: no heuristic lifetime
            else F.lit(float(max_age_seconds))
        )
        lifetime = F.coalesce(req_maxage, resp_maxage, exp_life, default_life)
        eff_age = (
            age
            + F.coalesce(min_fresh, F.lit(0.0))
            - F.coalesce(max_stale_n, F.lit(0.0))
        )
        # NULL lifetime (strict mode, no explicit lifetime anywhere) must
        # read as NOT fresh, not three-valued NULL, so the CASE branches
        # below see a definite False.
        is_fresh = date.isNotNull() & (
            bare_max_stale | F.coalesce(lifetime > eff_age, F.lit(False))
        )
    else:
        lifetime = F.coalesce(resp_maxage, F.lit(float(max_age_seconds)))
        cutoff = as_of_ts - F.make_dt_interval(secs=lifetime)
        is_fresh = F.col("warc_ts") >= cutoff
    if vary_col is not None and req_headers_col and resp_headers_col:
        vary_ok = vary_matches(
            F.col(vary_col), F.col(req_headers_col), F.col(resp_headers_col)
        )
    else:
        vary_ok = F.lit(True)
    o = origin.select(
        "url",
        F.col("warc_ts").alias("_o_ts"),
        F.col("status").alias("_o_status"),
        F.col("etag").alias("_o_etag"),
        F.col("last_modified").alias("_o_lm"),
    )
    j = cached.join(o, "url", "left")
    origin_missing = F.col("_o_status").isNull()
    origin_5xx = (F.col("_o_status") >= 500) & (F.col("_o_status") < 600)
    # ETag is the stronger validator: when present it alone decides
    # (If-None-Match wins over If-Modified-Since per RFC 7232 §6).
    validators_match = (
        F.col("etag").isNotNull() & (F.col("etag") == F.col("_o_etag"))
    ) | (
        F.col("etag").isNull()
        & F.col("last_modified").isNotNull()
        & (F.col("last_modified") == F.col("_o_lm"))
    )
    decision = (
        # cache() gate (rfc7234.go:17-23): Authorization / request no-store
        # → the request never consults the cache at all
        F.when(bypass, F.lit("bypass"))
        .when(no_store, F.lit("no_store"))
        # RFC 7234 §4.1: a Vary selecting-header mismatch makes the stored
        # variant unusable even for validation — the reference's fresh()
        # returns ``transparent`` BEFORE any directive/validator logic
        # (rfc7234.go:84-86), load yields nil, and the client refetches in
        # full. Routed ahead of every branch below, not just ``fresh``.
        .when(~vary_ok, F.lit("miss"))
        # reference order: the no-cache check precedes only-if-cached
        # (rfc7234.go:94-107)
        .when(~no_cache & only_if_cached, F.lit("fresh"))
        .when(is_fresh & ~no_cache, F.lit("fresh"))
        .when(origin_missing, F.lit("miss"))
        .when(
            origin_5xx,
            F.lit("stale_error_served" if stale_if_error else "error"),
        )
        # only a live 200 can answer a conditional request with 304/200; any
        # other origin status is not storable → verification failed (miss)
        .when(F.col("_o_status") != 200, F.lit("miss"))
        .when(validators_match, F.lit("revalidated"))
        .otherwise(F.lit("replaced"))
    )
    serve_stored = decision.isin("fresh", "stale_error_served", "revalidated")
    return j.select(
        *[c for c in cached.columns],
        decision.alias("decision"),
        F.when(serve_stored & (decision != "revalidated"), F.col("warc_ts"))
        .when(decision.isin("revalidated", "replaced"), F.col("_o_ts"))
        .alias("serve_warc_ts"),
        F.when(serve_stored, F.col("status"))
        .when(decision.isin("replaced", "error"), F.col("_o_status"))
        .alias("serve_status"),
    )
