"""The crawl engine: ant's fetch-parse-enqueue loop as BSP DataFrame rounds.

Reference lifecycle (``/root/reference/engine.go:137-165``): seeds are
normalized, matcher-filtered, deduped and queued; workers dequeue, check
robots, wait for rate limits, fetch, scrape, enqueue discovered links; the
crawl ends when the queue's WaitGroup drains (``queue.go:94-118``).

Spark-native re-expression (SURVEY.md §3.1): one engine *round* processes the
whole eligible frontier as a DataFrame::

    eligible  = frontier WHERE not_before <= round_ts
    allowed   = eligible ⋈ robots (broadcast) WHERE robots_allowed
    admitted  = per-host budget window (politeness)         [W1-W4]
    fetched   = admitted LEFT JOIN pages ON url             [S2: fetch≡join]
    parsed    = fused Arrow parse UDF (links, text, ...)    [C1-C5]
    new       = links → normalize → matcher → first-occurrence
                → ANTI JOIN seen                            [J1: dedupe]
    frontier' = waiting ∪ deferred ∪ retries ∪ new(depth+1)
    seen'     = seen ∪ new
    commit: frontier'/seen' snapshots + fetched_log/metrics appends

State snapshots are parquet directories committed atomically per round
(tmp-write + manifest rename — the sandbox stand-in for Iceberg snapshot
commits; reference antcache/disk.go:390-423 did tmpfile+fsync+rename for the
same reason). A killed job resumes from the last complete round with
identical ordering because every round is a pure function of
(state tables, round number).

Determinism: the reference is only deterministic at Workers=1
(engine_test.go:39-48 sorts otherwise); ``ordering='bfs'`` reproduces that
sequential FIFO order exactly via the global ``seq`` scheme;
``ordering='partitioned'`` keeps seq assignment deterministic but windows it
per hash-partition so no total order is ever materialized (the 10^10-scale
mode — matches the reference's Workers>1 "any order" semantics).
"""

from __future__ import annotations

import hashlib
import io
import json
import math
import os
import re
import shutil
import tempfile
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from contextlib import redirect_stdout
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ant_spark import schemas
from ant_spark.functions.parse import make_parse_udf
from ant_spark.functions.urlnorm import (
    host_of,
    is_queueable,
    make_normalize_udf,
    normalize_url,
    once_per_row,
    path_of,
    strip_tracking,
    url_hash,
)
from ant_spark.operators import politeness, robots as robots_ops
from ant_spark.operators.politeness import UNLIMITED_BUDGET
from ant_spark.operators.dedupe import BloomSidecar, exact_new, first_occurrence


def count_exchanges(plan: str) -> int:
    """Exchange nodes (shuffle, broadcast or reused) in an
    ``explain("formatted")`` plan. The formatted plan names every node
    twice, once in the tree and once as a numbered details header; only
    the headers are counted."""
    return len(re.findall(r"^\(\d+\) \w*Exchange\b", plan, re.M))


def _explain(env: str, tag: str, df: DataFrame, formatted: bool = True) -> None:
    """Audit hook: when env var ``env`` is "1", print ``df``'s physical plan
    after a ``[tag]`` line; a formatted plan's line also carries
    ``Exchanges=N`` (count_exchanges). tools/explain_audit.py and
    tools/round_plan_dump.py parse these."""
    if os.environ.get(env) != "1":
        return
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted" if formatted else "simple")
    plan = buf.getvalue()
    head = f"[{tag}] Exchanges={count_exchanges(plan)}" if formatted else f"[{tag}]"
    print(f"{head}\n{plan}", flush=True)


def _stage_rows(df: DataFrame, stages: dict[str, Column]) -> DataFrame:
    """One ``(stage, partition)`` row per row of ``df`` and stage whose
    condition holds on that row (a row can count toward several stages);
    ``partition`` is the row's partition of ``df``."""
    names = F.array(*(F.when(c, F.lit(s)) for s, c in stages.items()))
    return df.select(
        F.explode(F.array_compact(names)).alias("stage"),
        F.spark_partition_id().alias("partition"),
    )


def _entries(root: str, prefix: str = "round=") -> list[str]:
    """Sorted paths of the entries of ``root`` whose names start with
    ``prefix`` (none when ``root`` does not exist)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, n) for n in os.listdir(root) if n.startswith(prefix)
    )


def _round_of(round_dir: str) -> int:
    return int(round_dir.rsplit("=", 1)[1])


def _bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str,
    buckets: int,
    path: str | None,
) -> None:
    """Write ``df`` into session table ``name``, bucketed and sorted by
    ``key``: with ``path`` the table is dropped and re-created there,
    without it ``df`` is appended. The repartition on the bucket key gives
    one write task per bucket (its murmur3-pmod IS the bucket function):
    one file per bucket instead of up to tasks × buckets tiny files, which
    every later read of the table pays for (measured 1024 files / 7.1 s vs
    32 files / 1.1 s at sf1; r7, guide §6)."""
    w = (
        df.repartition(buckets, F.col(key))
        .write.format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path is None:
        w.mode("append").saveAsTable(name)
        return
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w.mode("overwrite").option("path", path).saveAsTable(name)


class CrawlError(RuntimeError):
    """Raised in strict mode on permanent fetch errors — the reference
    aborts the whole crawl via errgroup on any process error
    (engine.go:236-241, engine_test.go:67-77)."""


@dataclass
class CrawlConfig:
    ua: str = "antbot"  # reference default UA (fetcher.go:25)
    matcher: Callable | None = None  # Column-predicate builder (matchers.py)
    round_seconds: float = 1.0  # logical round duration (politeness clock)
    default_host_budget: int = UNLIMITED_BUDGET  # per-host rows/round cap
    host_rates: dict[str, int] = field(default_factory=dict)  # LimitHostname
    global_rate: int | None = None  # Limit(n) — global rows/round
    max_attempts: int = 5  # fetcher.go:100-104 default
    min_backoff_ms: int = 50  # fetcher.go minBackoff
    max_backoff_ms: int = 1000  # fetcher.go maxBackoff
    # HTTP redirects (Go http.Client follow semantics, operators/redirects):
    # when the pages table carries a ``redirect_to`` column, 3xx chains are
    # collapsed ONCE per crawl (pre-resolved at staging time in
    # create_pages_table's bucketed mode) so the fetch join yields the
    # FINAL page under the requested url; links resolve against final_url.
    # max_redirects mirrors Go's 10-hop cap (excess/cycles → 508, permanent);
    # redirect_seen=True additionally enters final urls into the seen set so
    # a later direct link to the target is not refetched (the reference,
    # which never sees intermediate hops, would refetch — documented
    # divergence in PARITY.md; set False for byte parity).
    max_redirects: int = 10
    redirect_seen: bool = True
    # opt-in 10th normalization rule (urlnorm.strip_tracking): drop
    # utm_*/gclid/fbclid/… query params after reference normalization —
    # session-tracking params make one document enumerable under unbounded
    # URLs, inflating a 10^10 frontier and defeating the exact seen set.
    # Default False keeps byte parity with the Go normalize goldens.
    strip_tracking_params: bool = False
    max_rounds: int | None = None
    max_depth: int | None = None
    # exact | bloom_prefilter | bloom_drop | cuckoo_prefilter | cuckoo_drop
    # (_drop modes reproduce reference DedupeBF false-positive losses)
    dedupe: str = "exact"
    link_selector: str = "a[href]"  # Page.Next(selector) — page.go:103-105
    # what lands in fetched_log.text: 'scan' = reference scan.Text (every
    # text node, nodes.go:27-48); 'main' = boilerplate-stripped body text
    # (functions/readability) extracted in the SAME fused parse pass — a
    # training-corpus build needs no second decode of the html column.
    text_mode: str = "scan"
    # Queue policy (reference Queue interface, queue.go:12-49): 'fifo' is
    # the memoryQueue's order; 'priority' dequeues by (priority asc, seq).
    queue_policy: str = "fifo"
    # priority for newly discovered links: Column fn over the link row
    # (columns: url, url_hash, parent_seq, parent_depth, link_idx)
    priority_fn: Callable | None = None
    # URL-level priority signal TABLE: a (url, priority double) DataFrame
    # left-joined onto newly discovered links each round (collision-safe
    # url_hash+url key). This is the frontier-scale twin of
    # graphops.rank_priority_fn's driver map: a 10^10-URL rank table rides
    # as a broadcast/bucketed join, never a literal. Misses fall back to
    # priority_fn (or 0). Build from pagerank() output via
    # graphops.rank_priority_table.
    priority_join: Any = None
    # True (default): hint the rank table broadcast — right for trimmed
    # signal tables (the common case; audit-pinned, the discovered-links
    # stream never shuffles for the join). False for a corpus-scale rank
    # table: store BOTH sides url_hash-bucketed and let the SMJ run
    # storage-partitioned instead.
    priority_join_broadcast: bool = True
    # LimitPattern/LimitRegexp rules: (kind in {pattern,regexp}, expr, n/sec);
    # every matching limiter binds (chained per-rule windows, rule_budget)
    pattern_rates: list = field(default_factory=list)
    # robots freshness TTL (internal/robots/cache.go:36-78: entries expire
    # after maxAge=1h and the next Allowed() triggers a re-fetch). None
    # (default) = static robots snapshot, the single-shot-crawl behavior.
    # A value makes the input robots df a FEED: with an optional
    # valid_from_round column the version live at round r is the row with
    # max valid_from_round <= r per host; the engine stamps each host's
    # cached version with fetched_round and re-reads it only once its age
    # (rounds x round_seconds) reaches the TTL — so a robots flip mid-crawl
    # changes allow/deny exactly when the reference's cache would re-fetch.
    robots_max_age_seconds: float | None = None
    max_age_seconds: float | None = None  # cache freshness (S5); needs crawl_ts
    crawl_ts: Any = None  # datetime 'now' for freshness tests
    # S4 render seam (antcdp/client.go — a pluggable client that returns
    # chrome-RENDERED html): a bytes→bytes kernel applied to fetched html
    # between the fetch join and the parse UDF, so JS-injected links enter
    # the frontier like static ones. render_when optionally gates it per
    # row (a Column-builder over the fetched-row columns); None renders
    # every 200, matching the reference's whole-fetcher swap. Kernels in
    # operators/render.py (fake_js_renderer sandbox stand-in; cdp_renderer
    # marks the real-chrome boundary).
    render_fn: Callable | None = None
    render_when: Callable | None = None
    # 'partitioned' is the default (scale-safe: seq windows are per
    # hash-partition, no global sort ever materializes). 'bfs' is the opt-in
    # sequential-parity mode reproducing the reference's Workers=1 FIFO order
    # via ONE global window — never the default at 10^10-frontier scale.
    ordering: str = "partitioned"  # partitioned | bfs
    seq_partitions: int = 32  # partitioned-ordering hash fan-out
    state_partitions: int = 32  # url_hash buckets for frontier/seen snapshots
    scrape_spec: dict[str, Any] | None = None
    strict: bool = False  # raise CrawlError on permanent errors
    checkpoint_dir: str | None = None  # resumable state root (None → temp)
    bloom_buckets: int = 32
    bloom_bits: int = 1 << 21
    # Seen-state layout. 'parquet': per-round delta dirs + periodic
    # compaction (default — lowest fixed cost per round at sandbox scale).
    # 'bucketed': the seen set lives in ONE external table CLUSTERED BY
    # url_hash (the plain-Spark stand-in for an Iceberg bucket(N, url_hash)
    # table); candidate links are staged into a same-bucketed table each
    # round so the exact anti-join is storage-partitioned — NO Exchange on
    # the seen side. At a 10^10-URL seen set that Exchange is the round's
    # dominant cost, so 'bucketed' is the cluster-scale mode.
    # 'auto' starts on parquet deltas (lowest fixed cost for BFS ramp-up)
    # and migrates the seen set into the bucketed table once it crosses
    # bucketed_switch_rows — small crawls never pay the staging overhead,
    # wide frontiers get the Exchange-free anti-join without opting in.
    state_backend: str = "auto"  # auto | parquet | bucketed
    # Pages-side storage bucketing for the FETCH join (the engine's biggest
    # join: frontier LEFT OUTER ⋈ pages on url, html-heavy). A left outer
    # join can only build its right side, so a corpus under the broadcast
    # threshold is broadcast as the PAGES side and the frontier streams; the
    # frontier side is never the one broadcast. At 100 TB the corpus does
    # not broadcast and a plain equi-join would SHUFFLE THE HTML — the
    # round's dominant cost. Set ``pages_table`` to
    # the name of a session table CLUSTERED BY (url) (Iceberg
    # bucket(N, url) analogue; see Engine.create_pages_table): each round
    # the admitted frontier is staged into a table bucketed the same way
    # (a shuffle-free write of the tiny side), and the fetch join becomes a
    # storage-partitioned sort-merge join with ZERO Exchanges — the pages
    # scan is read in place (tools/explain_audit.py checks 6 and 10 are the
    # plan proof; BENCH.md records the measured A/B). ``fetch_buckets``
    # must match the table's bucket count.
    pages_table: str | None = None
    fetch_buckets: int = 32
    # 'auto' migration threshold: the bucketed mode pays ~1.5s/round of
    # candidate-staging overhead to delete the seen-side Exchange, so it
    # should engage once that Exchange is the bigger cost. Local A/B puts
    # the single-node crossover above 240k rows (in-RAM shuffles are nearly
    # free); on a real cluster network shuffle makes it pay far earlier —
    # tune per deployment.
    bucketed_switch_rows: int = 1_000_000
    # Compact the append-only seen deltas into one base dir whenever more
    # than this many delta dirs accumulate (reference sweeper analogue,
    # antcache/disk.go:310-377; production = Iceberg compaction). Keeps the
    # per-round seen scan O(1) dirs instead of O(rounds).
    seen_compact_every: int = 16
    # Expire per-round STATE (frontier/seen_delta/bloom) older than this many
    # rounds behind the latest commit; fetched_log/extracted/MANIFEST are
    # never expired (they are the crawl's output + audit trail). None = keep
    # everything (debugging).
    expire_state_rounds: int | None = 2


@dataclass
class CrawlResult:
    rounds: int
    pages_fetched: int
    urls_enqueued: int
    fetched_log: DataFrame
    metrics: DataFrame
    extracted: DataFrame | None
    state_dir: str
    crawl_wall_sec: float = 0.0  # time inside rounds (excludes seed bootstrap)


@dataclass
class _RoundState:
    """The crawl state a round reads and the next one inherits, plus the
    frames the running round caches (unpersisted when it ends)."""

    r: int
    frontier: DataFrame
    frontier_count: int
    next_seq: int
    total_fetched: int
    total_enqueued: int
    seen_paths: list[str]
    bloom_state: DataFrame | None
    # a fresh crawl's seed rows of the seen set, held in memory until
    # round 1's commit writes them into its seen delta (parquet backends)
    seed_seen: DataFrame | None = None
    metric_rows: list[tuple] = field(default_factory=list)  # whole crawl
    cached: list[DataFrame] = field(default_factory=list)


def _backoff_ms(attempt_col, min_ms: int, max_ms: int):
    """Quadratic backoff, capped (fetcher.go:248-270: dur=attempt²·min)."""
    return F.least(
        (attempt_col * attempt_col * F.lit(min_ms)).cast("long"), F.lit(max_ms)
    )


class Engine:
    """Crawl over a simulated web (the ``pages`` table) — reference Engine.

    ``pages_df`` plays the network: fetch is a left equi-join on ``url``
    (SURVEY.md §2.1 S2). A missing row is a 404 (consumed silently,
    fetcher.go:157-161); ``status=503`` rows are temporary failures until
    ``attempt >= ok_after_attempt`` (fetcher.go:63-69 retry semantics, with
    the wall-clock backoff re-expressed as the ``not_before`` column).
    """

    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame,
        robots_df: DataFrame | None,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        if self.cfg.pages_table is not None:
            # bucketed fetch mode: the page corpus is a url-bucketed session
            # table (create_pages_table); bucketing metadata only survives a
            # spark.table() read, never a raw parquet path read.
            self.pages = spark.table(self.cfg.pages_table)
        else:
            self.pages = pages_df
        if robots_df is None:
            robots_df = spark.createDataFrame([], schemas.ROBOTS)
        self.robots = robots_df
        self._parse_udf = make_parse_udf(
            self.cfg.scrape_spec, self.cfg.link_selector, self.cfg.text_mode
        )
        self._norm_udf = make_normalize_udf(self.cfg.strip_tracking_params)
        # discovered links are filtered on the normalized url
        self._link_norm_udf = once_per_row(self._norm_udf)
        self._robots_probe: tuple[bool, bool] | None = None
        self._robots_cache: DataFrame | None = None  # TTL mode per-host cache
        self._max_delay_budget: int | None = None
        if self.cfg.dedupe.startswith("bloom"):
            self._bloom = BloomSidecar(self.cfg.bloom_buckets, self.cfg.bloom_bits)
        elif self.cfg.dedupe.startswith("cuckoo"):
            from ant_spark.operators.dedupe import CuckooSidecar

            self._bloom = CuckooSidecar(
                self.cfg.bloom_buckets, max(4096, self.cfg.bloom_bits // 16)
            )
        else:
            self._bloom = None

    @staticmethod
    def create_pages_table(
        spark: SparkSession,
        pages_df: DataFrame,
        name: str,
        path: str,
        buckets: int = 32,
    ) -> DataFrame:
        """Write the page corpus as a url-bucketed external table — the
        plain-Spark stand-in for an Iceberg ``bucket(N, url)`` table (same
        idiom as the seen/links staging tables). One-time cost; every fetch
        join afterwards reads the html-bearing side in place with no
        Exchange. Pass the table name as ``CrawlConfig.pages_table`` with
        ``fetch_buckets=buckets``.

        A ``redirect_to`` column is collapsed HERE (operators/redirects):
        the stored table already carries final-page content + final_url, so
        the per-round fetch join stays a pure storage-partitioned SMJ —
        redirect chasing never touches the hot path."""
        if "redirect_to" in pages_df.columns:
            from ant_spark.operators.redirects import resolve_redirects

            pages_df = resolve_redirects(pages_df)
        _bucketed_table(spark, pages_df, name, "url", buckets, path)
        return spark.table(name)

    @staticmethod
    def create_rank_table(
        spark: SparkSession,
        rank_df: DataFrame,
        name: str,
        path: str,
        buckets: int = 32,
    ) -> DataFrame:
        """Write a (url, priority) rank signal as a url_hash-bucketed
        external table — the corpus-scale form of ``CrawlConfig.
        priority_join`` (10^10-row PageRank tables that no driver map or
        broadcast can carry). With ``priority_join_broadcast=False`` and
        ``state_backend='bucketed'`` the engine joins this table against
        the same-bucketed staged links each round as a storage-partitioned
        sort-merge join: the rank side is read in place with NO Exchange
        (the fetch-join idiom, queue.go:12-49 priority seam at frontier
        scale). ``buckets`` must equal ``CrawlConfig.state_partitions``."""
        ranks = rank_df.select(
            url_hash(F.col("url")).alias("url_hash"),
            "url",
            F.col("priority").cast("double").alias("priority"),
        )
        _bucketed_table(spark, ranks, name, "url_hash", buckets, path)
        return spark.table(name)

    def _robots_flags(self) -> tuple[bool, bool]:
        """``(empty, has_delay)`` of the robots dim: no rows at all, and some
        body mentions a crawl-delay. One tiny agg per Engine."""
        if self._robots_probe is None:
            body = F.lower(F.coalesce(F.col("body"), F.lit("")))
            row = self.robots.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(body.contains("crawl-delay")).alias("delay"),
            ).collect()[0]
            self._robots_probe = (row["n"] == 0, bool(row["delay"]))
        return self._robots_probe

    def _robots_for_round(self, r: int) -> DataFrame:
        """The robots dim the round's broadcast join should see.

        Static mode (robots_max_age_seconds=None): the input snapshot,
        unchanged. TTL mode: per-host versions cached with a fetched_round
        stamp; a host re-reads from the feed (max valid_from_round <= r per
        host) only when its cached age reaches the TTL — the BSP analogue
        of the reference's 1h robots cache expiry (cache.go:36-78). The
        cache is dim-sized (one row per host), so the per-round upkeep is
        one anti-join over a broadcast-scale table, eagerly
        local-checkpointed to keep lineage O(1) across rounds. On resume
        the cache rebuilds from the feed at the resumed round (a fresh
        re-fetch — conservative and always robots-compliant).
        """
        cfg = self.cfg
        if cfg.robots_max_age_seconds is None:
            return self.robots
        ttl_rounds = max(1, math.ceil(cfg.robots_max_age_seconds / cfg.round_seconds))
        feed = self.robots
        if "valid_from_round" in feed.columns:
            wv = Window.partitionBy("host").orderBy(
                F.col("valid_from_round").desc_nulls_last()
            )
            active = (
                feed.filter(F.coalesce(F.col("valid_from_round"), F.lit(0)) <= r)
                .withColumn("_rn", F.row_number().over(wv))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "valid_from_round")
            )
        else:
            active = feed
        active = active.drop("fetched_round").withColumn(
            "fetched_round", F.lit(r).cast("int")
        )
        if self._robots_cache is None:
            cur = active
        else:
            keep = self._robots_cache.filter(
                F.lit(r) - F.col("fetched_round") < F.lit(ttl_rounds)
            )
            # stale hosts AND hosts newly appearing in the feed re-read
            refreshed = active.join(
                keep.select(F.col("host").alias("_h")),
                active["host"] == F.col("_h"),
                "left_anti",
            )
            cur = keep.unionByName(refreshed)
        cur = cur.localCheckpoint(eager=True)
        self._robots_cache = cur
        return cur

    def _politeness_static_off(self) -> bool:
        """True when no budget can ever bind: no host/global rates configured
        and no robots body mentions a crawl-delay (checked once, tiny dim)."""
        cfg = self.cfg
        if cfg.host_rates or cfg.global_rate is not None or cfg.pattern_rates:
            return False
        if cfg.default_host_budget < UNLIMITED_BUDGET:
            return False
        return not self._robots_flags()[1]

    def _politeness_budget_cap(self) -> int:
        """A FOLDABLE upper bound on any LIMITED row's budget, computed once
        per run on the driver (config rates + one tiny agg over the robots
        dim for the largest crawl-delay-derived budget). The literal is what
        lets Catalyst's InferWindowGroupLimit prune hot hosts map-side — a
        per-row budget column alone gets no pushdown (the filter must
        compare against a literal)."""
        cfg = self.cfg
        cands = [1]
        if cfg.default_host_budget < UNLIMITED_BUDGET:
            cands.append(int(cfg.default_host_budget))
        for n in (cfg.host_rates or {}).values():
            cands.append(int(math.floor(float(n) * cfg.round_seconds)))
        if not self._robots_flags()[0]:
            if self._max_delay_budget is None:
                from ant_spark.operators.robots import make_delay_udf

                d = make_delay_udf(cfg.ua)(F.col("body"), F.col("status"))
                # the SAME expression host_budget_expr applies per row, so
                # the cap can never drift below a row's real budget
                b = politeness.delay_budget_expr(cfg.round_seconds, d)
                row = self.robots.agg(F.max(b)).collect()[0][0]
                self._max_delay_budget = int(row) if row is not None else 0
            cands.append(self._max_delay_budget)
        return max(cands)

    # ------------------------------------------------------------------
    # state management (parquet snapshot per round + manifest commit)

    def _init_dirs(self) -> str:
        d = self.cfg.checkpoint_dir or tempfile.mkdtemp(prefix="ant_spark_")
        os.makedirs(d, exist_ok=True)
        return d

    def _round_dir(self, root: str, r: int) -> str:
        return os.path.join(root, f"round={r:05d}")

    def _commit_round(self, root: str, r: int, manifest: dict) -> None:
        tmp = os.path.join(self._round_dir(root, r), "_manifest.tmp")
        final = os.path.join(self._round_dir(root, r), "MANIFEST.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)  # atomic commit (disk.go:390-423 analogue)

    def latest_round(self, root: str) -> tuple[int, dict] | None:
        committed = [
            d for d in _entries(root) if os.path.exists(os.path.join(d, "MANIFEST.json"))
        ]
        if not committed:
            return None
        d = max(committed, key=_round_of)
        with open(os.path.join(d, "MANIFEST.json")) as f:
            return _round_of(d), json.load(f)

    def _write_state(
        self, root: str, r: int, name: str, df: DataFrame, by_url_hash: bool = False
    ) -> str:
        """Write ``df`` as state ``name`` of round ``r``; returns its path.
        Engine-written parquet is read back with its known schema: an
        inferred one costs a footer-reading Spark job per read."""
        path = os.path.join(self._round_dir(root, r), name)
        if by_url_hash:
            # hash-distribute state by url_hash (at cluster scale: Iceberg
            # bucket partitioning → storage-partitioned anti-join). No
            # explicit N: AQE coalesces tiny frontiers, keeps large ones
            # parallel up to spark.sql.shuffle.partitions.
            df = df.repartition(F.col("url_hash"))
        df.write.mode("overwrite").parquet(path)
        return path

    def _seen_write(self, root: str, r: int, delta: DataFrame) -> None:
        """Commit a seen delta: parquet dir per round, or an append into the
        url_hash-bucketed seen table (Iceberg bucketed-append analogue); a
        round-0 write (seeds or migration) creates the table."""
        if self._bucketed:
            _bucketed_table(
                self.spark, delta, self._seen_tbl, "url_hash",
                self.cfg.state_partitions, self._seen_tbl_path if r == 0 else None,
            )
        else:
            self._write_state(root, r, "seen_delta", delta)

    def _seen_compact(self, root: str, r: int) -> str:
        """Rewrite the bucketed seen table into fresh per-bucket files at a
        NEW versioned path (Iceberg ``rewrite_data_files`` analogue): append
        mode adds one file per bucket per round, so a 1000-round crawl would
        otherwise scan O(rounds × buckets) files. The manifest committed
        right after records the new path — a crash in between resumes on the
        old path (still on disk). Returns the old path for post-commit
        deletion."""
        old_path = self._seen_tbl_path
        df = self.spark.read.schema(schemas.SEEN).parquet(old_path)
        self._seen_tbl_path = os.path.join(root, f"seen_tbl_r{r:05d}")
        self._seen_write(root, 0, df)  # a round-0 write creates the table
        return old_path

    def _seen_register(self) -> None:
        """(Resume) re-register the external bucketed seen table.

        DROP first: a same-session catalog entry can be stale — e.g. a crash
        between ``_seen_compact`` (which re-points the catalog at the new
        path) and the manifest commit leaves the catalog at a path the
        manifest never recorded; appends would then land in a location the
        next compaction ignores, losing seen rows. The manifest's path wins.
        """
        self.spark.sql(f"DROP TABLE IF EXISTS {self._seen_tbl}")
        self.spark.sql(
            f"CREATE TABLE {self._seen_tbl} "
            "(url_hash BIGINT, url STRING, round INT) USING PARQUET "
            "CLUSTERED BY (url_hash) SORTED BY (url_hash) "
            f"INTO {self.cfg.state_partitions} BUCKETS "
            f"LOCATION '{self._seen_tbl_path}'"
        )

    def _seen_read(self, st: _RoundState) -> DataFrame:
        """The membership set visible to round ``st.r``. Bucketed mode
        filters ``round <= r``: an append orphaned by a crash between the
        table append and the manifest commit carries round r+1, so the first
        resumed round excludes it; once that round commits its own
        (identical, deterministic) delta the orphan is a harmless subset.
        The first round of a fresh parquet-backed crawl reads the seeds from
        the cached seed frontier."""
        if self._bucketed:
            return self.spark.table(self._seen_tbl).filter(F.col("round") <= st.r)
        if st.seed_seen is not None:
            return st.seed_seen
        return self.spark.read.schema(schemas.SEEN).parquet(*st.seen_paths)

    # ------------------------------------------------------------------

    def seed_frontier(self, seeds: list[str]) -> "pd.DataFrame":
        """Normalize + scheme-check seeds (engine.go:174-193: invalid seeds
        are a hard error, non-http(s) schemes are rejected)."""
        import pandas as pd

        rows = {}  # url → row, in first-seen order; seq = position
        for raw in seeds:
            u = normalize_url(raw)  # raises ValueError like engine.Enqueue
            if self.cfg.strip_tracking_params:
                u = strip_tracking(u)
            scheme = u.split("://", 1)[0] if "://" in u else ""
            if scheme not in ("http", "https"):
                raise ValueError(f"ant_spark: invalid seed scheme: {raw!r}")
            if u not in rows:
                host = u.split("://", 1)[1].split("/", 1)[0]
                rows[u] = (u, host, 0, len(rows), 0.0, 1, 0)
        return pd.DataFrame(
            list(rows.values()),
            columns=["url", "host", "depth", "seq", "priority", "attempt", "not_before"],
        )

    def run(self, seeds: list[str], resume: bool = False) -> CrawlResult:
        """Crawl until the frontier drains or ``max_rounds`` rounds ran.
        Each round's MANIFEST carries ``phases``: the wall seconds of each
        phase method. The lazy phases only build plans, so theirs is driver
        time; the phases that run actions carry the compute."""
        cfg = self.cfg
        st = self._bootstrap(seeds, resume)
        try:
            rounds_run = 0
            crawl_wall = 0.0
            while st.frontier_count and (
                cfg.max_rounds is None or rounds_run < cfg.max_rounds
            ):
                laps = [("", time.perf_counter())]
                rb, waiting, deferred, admitted = self._robots_admit(st)
                laps.append(("robots_admit", time.perf_counter()))
                processed = self._fetch_parse(st, admitted)
                laps.append(("fetch_parse", time.perf_counter()))
                new_rows, redirect_finals = self._discover_dedupe(st, processed)
                laps.append(("discover_dedupe", time.perf_counter()))
                by_stage = self._commit(
                    st, rb, waiting, deferred, processed, new_rows, redirect_finals
                )
                laps.append(("commit", time.perf_counter()))
                old_seen_dir = self._housekeep(st)
                laps.append(("housekeep", time.perf_counter()))
                phases = {
                    name: round(t1 - t0, 4)
                    for (_, t0), (name, t1) in zip(laps, laps[1:])
                }
                self._commit_round(
                    self._root, st.r + 1, self._advance(st, by_stage, phases)
                )
                self._expire(st, old_seen_dir)
                self._release(st)
                st.r += 1
                rounds_run += 1
                crawl_wall += time.perf_counter() - laps[0][1]

                if cfg.strict and by_stage.get("perm_error", 0) > 0:
                    raise CrawlError(
                        f"permanent fetch errors in round {st.r - 1}: "
                        f"{by_stage.get('perm_error')} (reference aborts the crawl)"
                    )
            return self._result(st, rounds_run, crawl_wall)
        finally:
            self._release(st)

    @staticmethod
    def _release(st: _RoundState) -> None:
        """Unpersist the frames cached for the running round (or, before
        the first round, the seed frontier)."""
        for df in st.cached:
            df.unpersist()
        st.cached = []

    # ------------------------------------------------------------------
    # crawl phases: _bootstrap once, then per round _robots_admit →
    # _fetch_parse → _discover_dedupe → _commit → _housekeep

    def _bootstrap(self, seeds, resume: bool) -> _RoundState:
        """Checkpoint dir and table names, stale-state cleanup on a fresh
        run, the fetch join's pages side, then the resumed or seeded state
        of the first round."""
        cfg = self.cfg
        spark = self.spark
        root = self._root = self._init_dirs()
        if cfg.state_backend not in ("auto", "parquet", "bucketed"):
            raise ValueError(f"unknown state_backend {cfg.state_backend!r}")
        self._bucketed = cfg.state_backend == "bucketed"
        if cfg.state_backend != "parquet" or cfg.pages_table is not None:
            dig = hashlib.md5(root.encode()).hexdigest()[:10]
            self._adm_tbl = f"ant_adm_{dig}"
        if cfg.state_backend != "parquet":
            self._seen_tbl = f"ant_seen_{dig}"
            self._links_tbl = f"ant_links_{dig}"
            self._seen_tbl_path = os.path.join(root, "seen_tbl_r00000")
            self._since_compact = 0
        if not resume:
            # fresh run into an existing checkpoint_dir: clear stale round=*
            # state — otherwise the end-of-run glob folds a previous crawl's
            # fetched_log/extracted into this CrawlResult.
            stale = _entries(root)
            if stale:
                warnings.warn(
                    f"ant_spark: fresh run (resume=False) into existing "
                    f"checkpoint_dir {root!r} — deleting {len(stale)} prior "
                    f"round=* dir(s) including their fetched_log/extracted "
                    f"output; pass resume=True to continue the previous crawl",
                    stacklevel=3,
                )
            if cfg.state_backend != "parquet":
                spark.sql(f"DROP TABLE IF EXISTS {self._seen_tbl}")
                spark.sql(f"DROP TABLE IF EXISTS {self._links_tbl}")
                stale += _entries(root, "seen_tbl")
            for path in stale:
                shutil.rmtree(path, ignore_errors=True)
            if cfg.pages_table is not None:
                spark.sql(f"DROP TABLE IF EXISTS {self._adm_tbl}")

        self._pages_side = self._fetch_pages()
        start = self.latest_round(root) if resume else None
        st = self._resume(root, *start) if start else self._seed(root, seeds)

        # Corpus-scale priority signal (priority_join_broadcast=False in the
        # bucketed exact-dedupe mode): project the rank table ONCE, keeping
        # its stored url_hash column so the storage bucketing survives the
        # projection — the per-round join against the staged (same-bucketed)
        # links table is then a storage-partitioned SMJ: the huge rank side
        # is read in place with ZERO Exchange (the fetch-join/seen-anti-join
        # idiom; see Engine.create_rank_table). Recomputing url_hash(url)
        # here would be semantically equal but a DIFFERENT expression, so
        # Catalyst would no longer recognize the table's partitioning.
        self._pj_bucketed = None
        if (
            cfg.priority_join is not None
            and not cfg.priority_join_broadcast
            and self._bucketed
            and (cfg.dedupe == "exact" or self._bloom is None)
        ):
            src = cfg.priority_join
            hash_c = (
                F.col("url_hash") if "url_hash" in src.columns
                else url_hash(F.col("url"))
            )
            self._pj_bucketed = src.select(
                hash_c.alias("_pj_hash"),
                F.col("url").alias("_pj_url"),
                F.col("priority").cast("double").alias("_pj_prio"),
            )
        return st

    def _fetch_pages(self) -> DataFrame:
        """The fetch join's pages side: stale rows dropped (cache freshness),
        redirect chains collapsed, join columns renamed."""
        cfg = self.cfg
        pages_src = self.pages
        if cfg.max_age_seconds is not None and cfg.crawl_ts is not None:
            # cache freshness (S5, aggressive mode): stale rows fall out of
            # the fetch join — a cache miss with no origin behind it (404).
            from ant_spark.operators.cache import fresh_only

            pages_src = fresh_only(
                pages_src, F.lit(cfg.crawl_ts), cfg.max_age_seconds
            )
        if "redirect_to" in pages_src.columns and cfg.max_redirects > 0:
            # collapse 3xx chains once per crawl (Go http.Client follow);
            # create_pages_table pre-resolves at staging time, so the
            # bucketed path arrives here already carrying final_url.
            from ant_spark.operators.redirects import resolve_redirects

            pages_src = resolve_redirects(pages_src, cfg.max_redirects)
        self._has_redirects = "final_url" in pages_src.columns
        page_cols = [
            F.col("url").alias("_p_url"),
            "warc_ts",
            "html",
            F.col("status").alias("_p_status"),
            "ok_after_attempt",
        ]
        if self._has_redirects:
            page_cols.append(F.col("final_url").alias("_p_final_url"))
        # NOTE on the fetch join's pages side: no engine-side repartition or
        # cache — measured slower here. The join is a LEFT OUTER join, which
        # can only build its right side: when the page corpus is under the
        # broadcast threshold (both modes, at test and benchmark scale) the
        # plan is BroadcastHashJoin BuildRight with the PAGES side
        # broadcast, and the frontier side streams. Above the threshold the
        # default mode shuffles both sides on `url` — html included.
        # Cluster-scale mode (cfg.pages_table): the corpus is a url-bucketed
        # table and each round's admitted frontier is staged into the same
        # bucketing, so without a broadcast the join is a
        # storage-partitioned SMJ with ZERO Exchanges
        # (tools/explain_audit.py checks 6 and 10).
        return pages_src.select(*page_cols)

    def _resume(self, root: str, r0: int, manifest: dict) -> _RoundState:
        """The state of round ``r0`` from its committed MANIFEST."""
        # the MANIFEST is authoritative for which backend holds the seen
        # state: resuming a parquet-phase checkpoint as if it were
        # bucketed would register an EMPTY table and re-crawl everything.
        manifest_bucketed = bool(manifest.get("bucketed_active", False))
        if manifest_bucketed and self.cfg.state_backend == "parquet":
            raise ValueError(
                "checkpoint was committed with the bucketed seen backend; "
                "resume with state_backend='auto' or 'bucketed'"
            )
        self._bucketed = manifest_bucketed
        # (cfg 'bucketed' over a parquet-phase manifest resumes on parquet
        # and migrates at the next commit — see _housekeep.)
        if self._bucketed:
            rel = manifest.get("seen_table_path") or "seen_tbl_r00000"
            self._seen_tbl_path = os.path.join(root, rel)
            self._seen_register()
        rd = self._round_dir(root, r0)
        # manifest at round=N holds the state FOR round N (committed at the
        # end of round N-1), so the next engine round is N itself.
        return _RoundState(
            r=r0,
            frontier=self.spark.read.parquet(os.path.join(rd, "frontier")),
            frontier_count=manifest["frontier_count"],
            next_seq=manifest["next_seq"],
            total_fetched=manifest["total_fetched"],
            total_enqueued=manifest["total_enqueued"],
            seen_paths=[os.path.join(root, p) for p in manifest["seen_paths"]],
            bloom_state=(
                self.spark.read.parquet(os.path.join(rd, "bloom")) if self._bloom else None
            ),
        )

    def _seed(self, root: str, seeds) -> _RoundState:
        """Round 0 from the seeds: the frontier, cached and counted."""
        cfg = self.cfg
        if isinstance(seeds, DataFrame):
            # bulk seed path: a DataFrame with a normalized `url` column —
            # seq assigned JVM-side, partition-parallel (unique+deterministic:
            # rank-within-hash-partition × stride + partition), for huge seed
            # sets where a total order or driver-side Python would serialize.
            # An optional `priority` column (higher = more important, e.g. a
            # sitemap's <priority>) becomes the queue priority (negated —
            # lower dequeues first), observed under queue_policy='priority'.
            P = cfg.seq_partitions
            part = F.pmod(F.xxhash64("url"), F.lit(P))
            w = Window.partitionBy(part).orderBy("url")
            if cfg.strip_tracking_params:
                # idempotent re-normalize+strip: same-document urls that
                # differ only in tracking params collapse BEFORE the
                # one-row-per-url aggregation below
                seeds = seeds.withColumn("url", self._norm_udf(F.col("url")))
            has_prio = "priority" in seeds.columns
            if has_prio:
                # one row per URL even when the same URL carries different
                # priority hints (e.g. merged sitemap files): max = the
                # most-important hint wins (higher-wins convention, negated
                # below). A plain distinct over (url, priority) would enqueue
                # the URL twice with two seqs — double-fetched and
                # double-counted in budgets/metrics.
                seed_urls = seeds.groupBy("url").agg(
                    F.max("priority").alias("priority")
                )
            else:
                seed_urls = seeds.select("url").distinct()
            if cfg.matcher is not None:
                # matcher BEFORE seq assignment: excluded seeds must not
                # consume seq values later reused by discovered links
                # (seq is the global-uniqueness key for budget anti-joins).
                seed_urls = seed_urls.filter(cfg.matcher(F.col("url")))
            prio_col = (
                (-F.col("priority")).cast("double") if has_prio else F.lit(0.0)
            )
            frontier = (
                seed_urls
                .withColumn(
                    "seq",
                    (F.row_number().over(w).cast("long") - 1) * P + part.cast("long"),
                )
                .select(
                    "url",
                    url_hash(F.col("url")).alias("url_hash"),
                    host_of(F.col("url")).alias("host"),
                    F.lit(0).alias("depth"),
                    "seq",
                    prio_col.alias("priority"),
                    F.lit(1).alias("attempt"),
                    F.lit(0).cast("long").alias("not_before"),
                )
            )
            seq_stride = P
        else:
            seed_pdf = self.seed_frontier(seeds)
            frontier = self.spark.createDataFrame(seed_pdf, schema=(
                "url string, host string, depth int, seq long, priority double, "
                "attempt int, not_before long"
            )).withColumn("url_hash", url_hash(F.col("url"))).select(
                "url", "url_hash", "host", "depth", "seq", "priority", "attempt", "not_before"
            )
            if cfg.matcher is not None:
                # matcher runs BEFORE dedupe/enqueue (engine.go:201,338-349)
                frontier = frontier.filter(cfg.matcher(F.col("url")))
            seq_stride = None
        # Round 0 writes no state: it never commits a MANIFEST (a crash
        # before round 1's commit re-seeds), so the seed frontier stays in
        # memory. The agg below fills its cache; round 1's commit writes
        # the seeds into its seen delta and bloom state.
        frontier = frontier.persist()
        agg = frontier.agg(
            F.count("*").alias("n"), F.max("seq").alias("mx")
        ).collect()[0]
        frontier_count = int(agg["n"])
        if seq_stride is not None:
            # seq upper bound in the partitioned (rank × stride) scheme
            next_seq = frontier_count * seq_stride
        else:
            # max(seq)+1, NOT count(): a matcher that excludes a seed
            # must not let discovered links reuse survivors' seqs (seq
            # uniqueness drives split_by_budget/global_limit anti-joins)
            next_seq = int(agg["mx"]) + 1 if agg["mx"] is not None else 0
        seed_seen = frontier.select("url_hash", "url", F.lit(0).alias("round"))
        if self._bucketed:
            # the storage-partitioned anti-join reads the seen table from
            # round 1 on: create it with the seeds
            self._seen_write(root, 0, seed_seen)
        st = _RoundState(
            r=0,
            frontier=frontier,
            frontier_count=frontier_count,
            next_seq=next_seq,
            total_fetched=0,
            total_enqueued=frontier_count,
            seen_paths=[],
            bloom_state=None,
            seed_seen=None if self._bucketed else seed_seen,
            cached=[frontier],
        )
        if self._bloom:
            st.bloom_state = self._bloom.add(
                frontier, self._bloom.empty_state(self.spark)
            ).persist()
            st.cached.append(st.bloom_state)
        return st

    def _robots_admit(
        self, st: _RoundState
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Split the frontier into due and waiting rows, join robots onto
        the due rows and apply the politeness budget. Returns ``(rb,
        waiting, deferred, admitted)``: the due rows with their robots
        verdict (cached), the rows not yet due, the allowed rows the budget
        defers, and the rows to fetch."""
        cfg = self.cfg
        round_ts = int(st.r * cfg.round_seconds * 1000)
        eligible = st.frontier.filter(F.col("not_before") <= round_ts)
        waiting = st.frontier.filter(F.col("not_before") > round_ts)

        # robots (broadcast join + vectorized allow test)
        if self._robots_flags()[0]:
            # no robots anywhere ⇒ allow-all; skip the join + UDFs
            rb = eligible.withColumn(
                "crawl_delay", F.lit(None).cast("double")
            ).persist()
            allowed = rb
        else:
            rb = robots_ops.with_robots(
                eligible, self._robots_for_round(st.r), cfg.ua, path_of(F.col("url"))
            ).persist()
            allowed = rb.filter(F.col("robots_allowed")).drop("robots_allowed")
        st.cached.append(rb)

        # politeness budget window
        # fast path: with no rate limits and no crawl-delays anywhere,
        # every allowed row is admitted — skip the window + anti-join
        # (two shuffles saved per round in pure-throughput crawls).
        pol_off = self._politeness_static_off()
        if pol_off:
            admitted = allowed.drop("crawl_delay")
            # an empty relation the optimizer drops from every union (a
            # createDataFrame([]) would scan a Python RDD in each action)
            deferred = eligible.filter(F.lit(False))
        else:
            cols = st.frontier.columns
            budget = politeness.host_budget_expr(
                cfg.round_seconds,
                cfg.default_host_budget,
                F.col("crawl_delay"),
                cfg.host_rates or None,
            )
            order_cols = (
                ["priority", "seq"] if cfg.queue_policy == "priority" else ["seq"]
            )
            wb = allowed.withColumn("_b", budget)
            # rows with NO binding limiter keep the unlimited sentinel
            # budget — they are all admitted and must never enter the
            # window (an unlimited hot host would be one giant window
            # partition). Limited rows go through the capped window:
            # InferWindowGroupLimit only fires for rank <= LITERAL, and
            # the budget is a per-row column, so the driver-computed
            # foldable cap (_politeness_budget_cap) restores the
            # map-side pruning — hot hosts cut to ≤ cap rows per input
            # partition BEFORE the shuffle (pinned against the uncapped
            # window in tests/test_politeness.py).
            unlimited = wb.filter(F.col("_b") >= UNLIMITED_BUDGET)
            limited = wb.filter(F.col("_b") < UNLIMITED_BUDGET)
            adm_l, deferred = politeness.split_by_budget(
                limited,
                F.col("_b"),
                order_cols=order_cols,
                budget_cap=self._politeness_budget_cap(),
            )
            admitted = unlimited.unionByName(adm_l).drop("_b", "crawl_delay")
            deferred = deferred.drop("_b", "crawl_delay").select(*cols)
            if cfg.pattern_rates:
                admitted, deferred3 = politeness.rule_budget(
                    admitted, cfg.pattern_rates, cfg.round_seconds, order_cols
                )
                deferred = deferred.unionByName(deferred3.select(*cols))
            if cfg.global_rate is not None:
                admitted, deferred2 = politeness.global_limit(
                    admitted, int(cfg.global_rate * cfg.round_seconds), order_cols
                )
                deferred = deferred.unionByName(deferred2.select(*cols))
            # read by the stage count and the frontier write: cached so
            # the budget windows run once for it, not once per action
            deferred = deferred.persist()
            st.cached.append(deferred)
        if cfg.pages_table is not None:
            # stage the admitted frontier into a table bucketed like the
            # pages corpus; only the tiny frontier side is written. The
            # staged read doubles as the round's materialization, so no
            # .persist() needed.
            _bucketed_table(
                self.spark, admitted, self._adm_tbl, "url", cfg.fetch_buckets,
                os.path.join(self._round_dir(self._root, st.r + 1), "admitted_staged"),
            )
            admitted = self.spark.table(self._adm_tbl)
        elif not pol_off:
            admitted = admitted.persist()
            st.cached.append(admitted)
        # else: admitted is a cheap projection of the already-persisted
        # rb cache — a second persist would just double-fill memory and
        # add a cache pass per round.
        return rb, waiting, deferred, admitted

    def _fetch_parse(self, st: _RoundState, admitted: DataFrame) -> DataFrame:
        """Fetch (a left equi-join against the page universe) fused with the
        parse UDF into one cached frame; ``status_eff`` is each row's
        effective status and ``parsed`` its parse struct."""
        cfg = self.cfg
        pages = self._pages_side
        # The parse and normalize UDFs run in the join's stage, so its
        # task count is the round's Python task count. Size it from the
        # cores and the frontier, not from the storage layout (one
        # frontier file = one task; a bucketed table = one task per
        # bucket however few rows it holds). A hash repartition of the
        # html-free admitted rows costs one tiny shuffle (when the pages
        # side does not broadcast, the join's own shuffle on url replaces
        # it); in pages_table mode coalesce keeps the storage-partitioned
        # join Exchange-free.
        n_udf = min(self.spark.sparkContext.defaultParallelism, st.frontier_count)
        if cfg.pages_table is None:
            to_fetch = admitted.repartition(n_udf, F.col("url_hash"))
            fetched = to_fetch.join(pages, to_fetch["url"] == pages["_p_url"], "left")
        else:
            fetched = admitted.join(
                pages, admitted["url"] == pages["_p_url"], "left"
            ).coalesce(n_udf)
        _explain(
            "ANT_SPARK_EXPLAIN_FETCH",
            f"fetch-plan round={st.r} bucketed={cfg.pages_table is not None}",
            fetched,
        )
        # temporary statuses (fetcher.go:63-69) recover once attempt
        # reaches ok_after_attempt; other ≥400 statuses are permanent.
        status_eff = (
            F.when(F.col("_p_url").isNull(), F.lit(404))
            .when(
                F.col("_p_status").isin(503, 504, 429)
                & (F.col("attempt") < F.coalesce(F.col("ok_after_attempt"), F.lit(1 << 30))),
                F.col("_p_status"),
            )
            .when(
                (F.col("_p_status") >= 400) & ~F.col("_p_status").isin(503, 504, 429),
                F.col("_p_status"),
            )
            .otherwise(F.lit(200))
        )
        # fuse fetch-join + parse into ONE cached pass: the UDF only sees
        # html for 200s (null otherwise); the cache never holds html.
        html_in = F.when(status_eff == 200, F.col("html"))
        if cfg.render_fn is not None:
            # S4 render seam: vectorized kernel over the fetched html,
            # in the same Python stage as the parse UDF (no extra pass)
            from ant_spark.operators.render import make_render_udf

            rendered = make_render_udf(cfg.render_fn)(html_in)
            html_in = (
                rendered if cfg.render_when is None
                else F.when(cfg.render_when(), rendered).otherwise(html_in)
            )
        # relative links on a redirected page resolve against the FINAL
        # url (Go: req.URL is rewritten per hop before html.Parse sees
        # the body).
        parse_base = F.col("url")
        if self._has_redirects:
            parse_base = F.coalesce(F.col("_p_final_url"), parse_base)
        processed = (
            fetched.withColumn("status_eff", status_eff)
            .withColumn("parsed", self._parse_udf(parse_base, html_in))
            .drop("html", "_p_url", "_p_status", "ok_after_attempt")
        ).persist()
        st.cached.append(processed)
        return processed

    def _status_stages(self) -> dict[str, Column]:
        """One status stage per processed row; 404s are consumed, dead
        letters and permanent errors leave the crawl (only counted)."""
        se = F.col("status_eff")
        temp = se.isin(503, 504, 429)
        stages = {
            "fetched": se == 200,
            "missing_404": se == 404,
            "retried": temp & (F.col("attempt") + 1 <= self.cfg.max_attempts),
            "dead_letter": temp & (F.col("attempt") + 1 > self.cfg.max_attempts),
            "perm_error": (se >= 400) & ~se.isin(404, 503, 504, 429),
        }
        if self._has_redirects:
            # every row whose chain was followed, wherever it landed
            # (a 200, a missing page or a 508 loop)
            stages["redirected"] = F.col("_p_final_url").isNotNull()
        return stages

    def _discover_dedupe(
        self, st: _RoundState, processed: DataFrame
    ) -> tuple[DataFrame, DataFrame | None]:
        """Links of the fetched pages → normalize → matcher → first
        occurrence → dedupe against seen → seq and priority. Returns the
        new frontier rows (cached) and the redirect landing urls (or None)."""
        cfg = self.cfg
        parsed = processed.filter(self._status_stages()["fetched"])
        # redirect landing set (dim-sized, from the cached `processed`):
        # these urls are already-logged content — they join the seen
        # delta AND filter the SAME round's link discoveries (a page
        # fetched this round may link the landing url directly).
        redirect_finals = None
        if self._has_redirects and cfg.redirect_seen:
            redirect_finals = (
                parsed.filter(
                    F.col("_p_final_url").isNotNull()
                    & (F.col("_p_final_url") != F.col("url"))
                )
                .select(F.col("_p_final_url").alias("url"))
                .distinct()
                .select(url_hash(F.col("url")).alias("url_hash"), "url")
            )

        links = (
            parsed.select(
                F.col("seq").alias("parent_seq"),
                F.col("depth").alias("parent_depth"),
                F.posexplode("parsed.links").alias("link_idx", "raw_url"),
            )
            .withColumn("url", self._link_norm_udf(F.col("raw_url")))
            .filter(F.col("url").isNotNull() & is_queueable(F.col("url")))
        )
        if cfg.matcher is not None:
            links = links.filter(cfg.matcher(F.col("url")))
        if cfg.max_depth is not None:
            links = links.filter(F.col("parent_depth") + 1 <= cfg.max_depth)
        links = links.withColumn("url_hash", url_hash(F.col("url")))
        links = first_occurrence(
            links, ["url_hash", "url"], ["parent_seq", "link_idx"]
        )

        exact = cfg.dedupe == "exact" or self._bloom is None
        if self._bucketed and exact:
            # stage candidates into a table bucketed like `seen`: the
            # exact anti-join becomes storage-partitioned — the (huge)
            # seen side is read in place with NO Exchange; only the
            # (small) per-round candidate set pays a bucket shuffle,
            # folded into this write.
            _bucketed_table(
                self.spark, links.drop("raw_url"), self._links_tbl, "url_hash",
                cfg.state_partitions,
                os.path.join(self._round_dir(self._root, st.r + 1), "links_staged"),
            )
            links = self.spark.table(self._links_tbl)
            if self._pj_bucketed is not None:
                # URL-level rank at corpus scale: both sides bucketed
                # on url_hash → storage-partitioned SMJ, no Exchange on
                # the (10^10-row) rank side; url equality rides along
                # for hash-collision safety. The joined priority flows
                # through dedupe + seq assignment to the final select.
                pj = self._pj_bucketed
                links = links.join(
                    pj,
                    (links["url_hash"] == pj["_pj_hash"])
                    & (links["url"] == pj["_pj_url"]),
                    "left",
                ).drop("_pj_hash", "_pj_url")

        seen = self._seen_read(st)
        if exact:
            new_links = exact_new(links, seen)
            _explain(
                "ANT_SPARK_EXPLAIN_DEDUPE",
                f"dedupe-plan round={st.r} backend={cfg.state_backend}",
                new_links,
            )
        else:
            # distinct url_hash probe: two distinct same-round URLs with
            # colliding hashes must not fan out the equi-join below
            # (tested would carry one row per INPUT row otherwise,
            # duplicating both URLs into new_links).
            tested = self._bloom.test(
                links.select("url_hash").distinct(), st.bloom_state
            )
            links_t = links.join(tested, "url_hash", "left")
            maybe_seen = F.coalesce(F.col("maybe_seen"), F.lit(False))
            if cfg.dedupe.endswith("_drop"):
                # reference DedupeBF parity: false positives drop forever
                new_links = links_t.filter(~maybe_seen).drop("maybe_seen")
            else:  # *_prefilter: exact check only for maybe-seen
                sure_new = links_t.filter(~maybe_seen).drop("maybe_seen")
                maybe = links_t.filter(maybe_seen).drop("maybe_seen")
                new_links = sure_new.unionByName(exact_new(maybe, seen))

        if redirect_finals is not None:
            # same-round discovery of a landing url: already logged
            # under the original url — drop before seq assignment
            new_links = new_links.join(
                F.broadcast(redirect_finals), ["url_hash", "url"],
                "left_anti",
            )
        new_rows = self._assign_seq(st, new_links).persist()
        st.cached.append(new_rows)
        # the full round plan (seq window + dedupe + parse), for scale
        # invariants such as no partition-less Window
        _explain(
            "ANT_SPARK_EXPLAIN_ROUND", f"round-plan round={st.r}", new_rows,
            formatted=False,
        )
        return new_rows, redirect_finals

    def _assign_seq(self, st: _RoundState, new_links: DataFrame) -> DataFrame:
        """Deterministic seqs from ``st.next_seq`` and the queue priority for
        the new links, shaped as frontier rows."""
        cfg = self.cfg
        if cfg.ordering == "bfs":
            w = Window.orderBy("parent_seq", "link_idx")
            new_rows = new_links.withColumn(
                "seq", (F.row_number().over(w) - 1 + F.lit(st.next_seq)).cast("long")
            )
        else:
            p = F.pmod(F.col("url_hash"), F.lit(cfg.seq_partitions))
            w = Window.partitionBy(p).orderBy("parent_seq", "link_idx")
            new_rows = new_links.withColumn(
                "seq",
                (
                    F.lit(st.next_seq)
                    + (F.row_number().over(w).cast("long") - 1) * cfg.seq_partitions
                    + p.cast("long")
                ),
            )
        priority_col = (
            cfg.priority_fn().cast("double")
            if cfg.priority_fn is not None
            else F.lit(0.0)
        )
        if self._pj_bucketed is not None:
            # bucketed-path rank joined upstream; misses fall back
            priority_col = F.coalesce(F.col("_pj_prio"), priority_col)
        new_rows = new_rows.select(
            "url", "url_hash",
            host_of(F.col("url")).alias("host"),
            (F.col("parent_depth") + 1).alias("depth"),
            "seq",
            priority_col.alias("priority"),
            F.lit(1).alias("attempt"),
            F.lit(0).cast("long").alias("not_before"),
        )
        if cfg.priority_join is None or self._pj_bucketed is not None:
            return new_rows
        # URL-level rank signal as an in-round equi-join — the
        # 10^10-frontier shape a driver-literal map can't carry
        # (rank_priority_fn's documented seam): new links pick up
        # (url_hash, url)-keyed priorities (collision-safe, same
        # key idiom as the seen anti-join); misses keep the
        # priority_fn/default value. Catalyst broadcasts a small
        # rank table; at corpus scale set priority_join_broadcast=
        # False with state_backend='bucketed' and a create_rank_table
        # table — the join then runs upstream against the staged
        # bucketed links (storage-partitioned SMJ, zero Exchange).
        pj = cfg.priority_join.select(
            url_hash(F.col("url")).alias("_pj_hash"),
            F.col("url").alias("_pj_url"),
            F.col("priority").cast("double").alias("_pj_prio"),
        )
        if cfg.priority_join_broadcast:
            pj = F.broadcast(pj)
        return (
            new_rows.join(
                pj,
                (new_rows["url_hash"] == pj["_pj_hash"])
                & (new_rows["url"] == pj["_pj_url"]),
                "left",
            )
            .withColumn("priority", F.coalesce("_pj_prio", "priority"))
            .drop("_pj_hash", "_pj_url", "_pj_prio")
        )

    def _commit(
        self,
        st: _RoundState,
        rb: DataFrame,
        waiting: DataFrame,
        deferred: DataFrame,
        processed: DataFrame,
        new_rows: DataFrame,
        redirect_finals: DataFrame | None,
    ) -> dict[str, int]:
        """Count the round's stages and write round r+1's frontier, seen
        delta, fetched_log (and extracted) and bloom state. Returns the
        stage totals; per-partition rows go to ``st.metric_rows``.

        The counters come from the ONE action that materializes the
        round's caches: a collect() that counts every stage of rb,
        processed, new_rows (enqueued), waiting and deferred — one union,
        then ONE groupBy; a groupBy per branch would give each branch its
        own shuffle. Then the three independent writes run as CONCURRENT
        Spark jobs (one session, separate threads) over the filled caches.
        Round 1 of a fresh crawl also writes the seeds' seen rows, which
        round 0 kept in memory."""
        cfg = self.cfg
        r = st.r
        root = self._root
        status = self._status_stages()
        rb_stages = {"eligible": F.lit(True)}
        if "robots_allowed" in rb.columns:
            rb_stages["robots_denied"] = ~F.col("robots_allowed")
        counts = (
            _stage_rows(rb, rb_stages)
            .unionByName(_stage_rows(processed, status))
            .unionByName(_stage_rows(new_rows, {"enqueued": F.lit(True)}))
            .unionByName(_stage_rows(waiting, {"waiting": F.lit(True)}))
            .unionByName(_stage_rows(deferred, {"deferred": F.lit(True)}))
            .groupBy("stage", "partition")
            .count()
            .collect()
        )

        round_ts = int(r * cfg.round_seconds * 1000)
        retry = processed.filter(status["retried"]).select(
            "url", "url_hash", "host", "depth", "seq", "priority",
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(round_ts) + _backoff_ms(F.col("attempt"), cfg.min_backoff_ms, cfg.max_backoff_ms)).alias("not_before"),
        )
        parsed = processed.filter(status["fetched"])
        log_cols = [
            "url", "url_hash", "host", "depth", "seq",
            F.lit(r).alias("round"),
            F.col("status_eff").alias("status"),
            "warc_ts",
            F.size("parsed.links").alias("n_links"),
            F.col("parsed.text").alias("text"),
            F.lit("en").alias("lang"),
        ]
        if self._has_redirects:
            log_cols.append(F.col("_p_final_url").alias("final_url"))
        rd = self._round_dir(root, r + 1)
        cols = st.frontier.columns
        new_frontier = (
            waiting.select(*cols)
            .unionByName(deferred.select(*cols))
            .unionByName(retry.select(*cols))
            .unionByName(new_rows.select(*cols))
        )
        # seen is APPEND-ONLY: write only this round's delta (at cluster
        # scale: an Iceberg append into a url_hash-bucketed table — never
        # a rewrite of the accumulated membership set).
        seen_delta = new_rows.select(
            "url_hash", "url", F.lit(r + 1).alias("round")
        )
        if st.seed_seen is not None:
            seen_delta = st.seed_seen.unionByName(seen_delta)
            st.seed_seen = None
        if redirect_finals is not None:
            # the chain's landing url becomes seen too: a later direct
            # link to it is the same content the log already carries
            # under the original url. (Prevents FUTURE enqueues only —
            # a landing url already sitting in the frontier still
            # fetches; same guarantee window as any enqueue-time dedupe.)
            seen_delta = seen_delta.unionByName(
                redirect_finals.withColumn("round", F.lit(r + 1))
            )

        def _w_log():
            parsed.select(*log_cols).write.mode("overwrite").parquet(
                os.path.join(rd, "fetched_log")
            )
            if cfg.scrape_spec:
                parsed.select(
                    "url", "seq", F.lit(r).alias("round"),
                    F.col("parsed.scraped").alias("data"),
                ).write.mode("overwrite").parquet(os.path.join(rd, "extracted"))

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_log = pool.submit(_w_log)
            f_frontier = pool.submit(
                self._write_state, root, r + 1, "frontier", new_frontier, True
            )
            f_seen = pool.submit(self._seen_write, root, r + 1, seen_delta)
            f_log.result()
            frontier_path = f_frontier.result()
            f_seen.result()
        # zero-count stages have no rows (a groupBy of zero rows)
        by_stage: dict[str, int] = {}
        for stage, part, n in sorted(
            (c["stage"], c["partition"], c["count"]) for c in counts
        ):
            by_stage[stage] = by_stage.get(stage, 0) + n
            st.metric_rows.append((r, part, stage, n))
        if not self._bucketed:
            st.seen_paths.append(os.path.join(rd, "seen_delta"))
        if self._bloom:
            bloom2 = self._bloom.add(new_rows.select("url_hash"), st.bloom_state)
            st.bloom_state = self.spark.read.schema(bloom2.schema).parquet(
                self._write_state(root, r + 1, "bloom", bloom2)
            )
        st.frontier = self.spark.read.schema(new_frontier.schema).parquet(
            frontier_path
        )
        return by_stage

    def _housekeep(self, st: _RoundState) -> str | None:
        """Seen-state upkeep committed with round r+1's MANIFEST: delta
        compaction, 'auto' migration to the bucketed table and the
        bucketed table's file compaction. Returns a superseded seen-table
        dir to delete once the MANIFEST is committed."""
        cfg = self.cfg
        rd = self._round_dir(self._root, st.r + 1)
        # seen-delta compaction: fold the O(rounds) delta dirs into one
        # url_hash-distributed base every seen_compact_every rounds so
        # each round reads O(1) seen dirs (Iceberg compaction analogue;
        # the bucketed backend appends into one table — nothing to fold).
        if not self._bucketed and len(st.seen_paths) > cfg.seen_compact_every:
            base_df = self.spark.read.schema(schemas.SEEN).parquet(*st.seen_paths)
            self._write_state(
                self._root, st.r + 1, "seen_base", base_df, by_url_hash=True
            )
            st.seen_paths = [os.path.join(rd, "seen_base")]

        # 'auto' backend migration: once the seen set is big enough that
        # its per-round anti-join Exchange dominates, fold all deltas
        # into the bucketed table (a one-time compaction-priced job) and
        # continue storage-partitioned. Committed atomically with this
        # round's manifest; a crash in between resumes on parquet and
        # simply re-migrates (the table create is an overwrite).
        if (
            not self._bucketed
            and cfg.state_backend != "parquet"
            and (
                cfg.state_backend == "bucketed"  # resumed parquet-phase
                or st.total_enqueued >= cfg.bucketed_switch_rows
            )
        ):
            base_df = self.spark.read.schema(schemas.SEEN).parquet(*st.seen_paths)
            self._bucketed = True
            self._seen_write(self._root, 0, base_df)
            st.seen_paths = []

        # bucketed-table file compaction: fresh per-bucket files at a
        # versioned path every seen_compact_every rounds; the old dir is
        # deleted only after the manifest pointing at the new one commits.
        if self._bucketed:
            self._since_compact += 1
            if self._since_compact >= cfg.seen_compact_every:
                self._since_compact = 0
                return self._seen_compact(self._root, st.r + 1)
        return None

    def _advance(
        self, st: _RoundState, by_stage: dict[str, int], phases: dict[str, float]
    ) -> dict:
        """Fold the round's stage totals into the counters; returns the
        MANIFEST of round r+1."""
        cfg = self.cfg
        n_new = by_stage.get("enqueued", 0)
        if cfg.ordering == "bfs":
            st.next_seq += n_new
        else:
            st.next_seq += n_new * cfg.seq_partitions  # stride-safe upper bound
        st.total_fetched += by_stage.get("fetched", 0)
        st.total_enqueued += n_new
        st.frontier_count = (
            by_stage.get("waiting", 0)
            + by_stage.get("deferred", 0)
            + by_stage.get("retried", 0)
            + n_new
        )
        return {
            "round": st.r + 1,
            "next_seq": st.next_seq,
            "total_fetched": st.total_fetched,
            "total_enqueued": st.total_enqueued,
            "frontier_count": st.frontier_count,
            "seen_paths": [os.path.relpath(p, self._root) for p in st.seen_paths],
            "state_backend": cfg.state_backend,
            "bucketed_active": self._bucketed,
            "seen_table_path": (
                os.path.relpath(self._seen_tbl_path, self._root) if self._bucketed else None
            ),
            "stages": by_stage,
            "phases": phases,
        }

    def _expire(self, st: _RoundState, old_seen_dir: str | None) -> None:
        """After round r+1's MANIFEST commit: delete the superseded seen
        table dir and the STATE of rounds older than the keep window —
        frontier / seen_delta / seen_base / bloom / staged snapshots are
        superseded by the committed round (minus live seen refs);
        fetched_log, extracted and MANIFEST.json stay — they are the
        crawl's output. Deleting before the commit would break a resume
        from the previous MANIFEST."""
        if old_seen_dir is not None:
            shutil.rmtree(old_seen_dir, ignore_errors=True)
        if self.cfg.expire_state_rounds is None:
            return
        live = set(st.seen_paths)
        keep_from = (st.r + 1) - self.cfg.expire_state_rounds
        for d in _entries(self._root):
            if _round_of(d) >= keep_from:
                continue
            for state in (
                "frontier", "seen_delta", "seen_base", "bloom",
                "links_staged", "admitted_staged",
            ):
                p = os.path.join(d, state)
                if p not in live and os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)

    def _result(
        self, st: _RoundState, rounds_run: int, crawl_wall: float
    ) -> CrawlResult:
        # include logs from pre-resume rounds so the result covers the crawl
        def outputs(name: str) -> list[str]:
            return [
                os.path.join(d, name)
                for d in _entries(self._root)
                if os.path.isdir(os.path.join(d, name))
            ]

        log_schema = schemas.FETCHED_LOG
        if self._has_redirects:
            log_schema = StructType(
                list(log_schema.fields) + [StructField("final_url", StringType())]
            )
        log_dirs = outputs("fetched_log")
        fetched_log = (
            self.spark.read.schema(log_schema).parquet(*log_dirs)
            if log_dirs
            else self.spark.createDataFrame([], log_schema)
        )
        metrics = self.spark.createDataFrame(
            st.metric_rows, schema="round int, partition int, stage string, n long"
        )
        extracted = None
        if self.cfg.scrape_spec:
            ex_dirs = outputs("extracted")
            if ex_dirs:
                extracted = self.spark.read.parquet(*ex_dirs)
        return CrawlResult(
            rounds=rounds_run,
            pages_fetched=st.total_fetched,
            urls_enqueued=st.total_enqueued,
            fetched_log=fetched_log,
            metrics=metrics,
            extracted=extracted,
            state_dir=self._root,
            crawl_wall_sec=round(crawl_wall, 3),
        )


def fetch_one(spark: SparkSession, pages_df: DataFrame, rawurl: str) -> DataFrame:
    """Library one-shot fetch (reference ant.Fetch, fetcher.go:72-78):
    a single-row frontier through the fetch join + parse UDF."""
    u = normalize_url(rawurl)
    one = spark.createDataFrame([(u,)], "url string")
    udf = make_parse_udf(None)
    return (
        one.join(pages_df, "url", "left")
        .withColumn("parsed", udf(F.col("url"), F.col("html")))
        .select("url", "warc_ts", "parsed.links", "parsed.text", "parsed.title")
    )
