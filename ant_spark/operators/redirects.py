"""HTTP redirect resolution — the Go ``http.Client`` follow semantics as a
corpus precompute.

The reference never sees a 3xx: its ``http.Client`` transparently follows
``Location`` up to 10 hops inside one ``Do`` call (``ant.go:36`` leaves
redirect policy to the client; Go's default is ``ErrUseLastResponse`` off,
max 10), so ``Fetch`` returns the FINAL page and relative links resolve
against the final URL. An offline corpus stores the 3xx records themselves
(WARC keeps every hop), so the engine reproduces the client by collapsing
redirect chains ONCE over the corpus:

- ``resolve_redirects(pages)`` rewrites each 3xx-with-Location row into its
  transitive target's content keyed under the ORIGINAL url, with a new
  ``final_url`` column recording where the chain landed (NULL for direct
  rows). The fetch join then behaves exactly like Go's client: requesting
  ``u`` yields the final page, links resolve against ``final_url``.
- Chains longer than ``max_redirects`` hops — including cycles, which can
  never terminate — become status **508 Loop Detected** (permanent: Go
  surfaces "stopped after 10 redirects" as a request error; a retry cannot
  succeed against a static corpus, so the engine routes it to perm_error
  rather than the 503-style retry path).
- A chain landing on a URL absent from the corpus is a **404** under the
  original url (the same cache-miss semantics as a direct fetch-join miss),
  still carrying ``final_url`` for lineage.
- Targets that are themselves flaky (``ok_after_attempt``) keep their retry
  columns: the ORIGINAL url retries and recovers exactly as if it had been
  fetched directly — Go re-issues the whole chain per attempt.

Scale shape: the redirect subset of a web corpus is a small fraction of
rows (and html-free), so the closure is ``max_redirects`` equi-joins over
that dim-sized subset plus ONE join against the full corpus — run once per
crawl (or once at ``create_pages_table`` staging time, keeping the
bucketed fetch join's pages scan in place: the stored table is already
collapsed). Nothing per-round, nothing driver-side except the bounded hop
loop's empty-check.

Politeness/robots note (documented divergence candidate): hops are charged
to the ORIGINAL url's admission — Go's client applies neither robots nor
rate limits to intermediate hops, and neither do we.
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ant_spark.functions.urlnorm import normalize_or_none

REDIRECT_STATUSES = (301, 302, 303, 307, 308)


def _make_resolve_location_udf():
    """RFC 3986 resolution of a Location header against the request URL,
    then the engine's 9-rule normalization (so chain keys join exactly
    against the normalized corpus urls); unresolvable → null. Factory
    (not module-level) so importing this module needs no active session."""
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def resolve_location_udf(base: pd.Series, loc: pd.Series) -> pd.Series:
        def one(b, l):  # noqa: E741 - l mirrors the header name
            if b is None or l is None:
                return None
            try:
                return normalize_or_none(urljoin(b, l.strip()))
            except ValueError:
                return None

        return pd.Series([one(b, l) for b, l in zip(base, loc)])

    return resolve_location_udf


def resolve_redirects(pages: DataFrame, max_redirects: int = 10) -> DataFrame:
    """Collapse redirect chains (see module docstring).

    Input needs (url, status, redirect_to, …content cols); output carries
    the same content columns plus ``final_url`` and no ``redirect_to``.
    """
    if "redirect_to" not in pages.columns:
        return pages
    base_cols = [c for c in pages.columns if c != "redirect_to"]
    is_redir = (
        F.col("status").isin(*REDIRECT_STATUSES)
        & F.col("redirect_to").isNotNull()
    )
    content = pages.filter(~is_redir).select(*base_cols)

    # dim-sized redirect map: src -> resolved+normalized dst
    rmap = (
        pages.filter(is_redir)
        .select(
            F.col("url").alias("_r_src"),
            _make_resolve_location_udf()(
                F.col("url"), F.col("redirect_to")
            ).alias("_r_dst"),
        )
        .filter(F.col("_r_dst").isNotNull())
        .persist()
    )

    chains = rmap.select(F.col("_r_src").alias("orig"), F.col("_r_dst").alias("cur"))
    landed = None
    for _hop in range(max_redirects):
        nxt = chains.join(
            rmap, chains["cur"] == rmap["_r_src"], "left"
        )
        stopped = nxt.filter(F.col("_r_dst").isNull()).select("orig", "cur")
        landed = stopped if landed is None else landed.unionByName(stopped)
        chains = (
            nxt.filter(F.col("_r_dst").isNotNull())
            .select("orig", F.col("_r_dst").alias("cur"))
            .localCheckpoint(eager=False)  # bound lineage across hops
        )
        if chains.isEmpty():
            break
    # still mid-chain after max hops (incl. cycles): Loop Detected.
    # Materialize both dim-sized outcome maps NOW (eager localCheckpoint)
    # so the returned plan re-evaluates per round as one cheap join against
    # a checkpointed table — and the hop-join lineage plus the rmap cache
    # can be released immediately.
    exceeded = chains.localCheckpoint()
    if landed is not None:
        landed = landed.localCheckpoint()
    rmap.unpersist()

    tgt = content.select(
        F.col("url").alias("_t_url"),
        *[F.col(c).alias(f"_t_{c}") for c in base_cols if c != "url"],
    )
    resolved = (
        landed.join(tgt, landed["cur"] == tgt["_t_url"], "left")
        .select(
            F.col("orig").alias("url"),
            *[
                (
                    # a chain landing outside the corpus is a cache miss
                    F.coalesce(F.col("_t_status"), F.lit(404)).alias("status")
                    if c == "status"
                    else F.col(f"_t_{c}").alias(c)
                )
                for c in base_cols
                if c != "url"
            ],
            F.col("cur").alias("final_url"),
        )
        if landed is not None
        else None
    )
    null_content = [
        (F.lit(508).cast("int").alias("status") if c == "status"
         else F.lit(None).cast(dict(pages.dtypes)[c]).alias(c))
        for c in base_cols
        if c != "url"
    ]
    looped = exceeded.select(
        F.col("orig").alias("url"), *null_content,
        F.col("cur").alias("final_url"),
    )
    out = content.withColumn("final_url", F.lit(None).cast("string"))
    if resolved is not None:
        out = out.unionByName(resolved)
    out = out.unionByName(looped)
    return out
