"""Politeness: wall-clock token buckets → per-round budget windows.

The reference blocks each fetch behind token buckets (``limiters.go``:
``Limit(n)`` global, ``LimitHostname``, ``LimitPattern``/``LimitRegexp``) and
behind robots ``Crawl-delay`` sleeps (``internal/robots/cache.go:114-136``).
In a bulk-synchronous round of logical duration ``round_seconds``, a bucket
of rate n req/s admits ``floor(n * round_seconds)`` rows per round; rows over
budget stay in the frontier for the next round. That equivalence (documented
as SURVEY.md §2.5 W1-W4) keeps reference-compatible ordering: within a host,
admitted rows are always the lowest ``seq`` first (FIFO, queue.go:108-110).

Scale design: the budget is a per-host top-k — a window over
``partitionBy(host)``. Hot hosts (power-law skew!) would make one window
partition huge. Spark ≥3.5 inserts a map-side ``WindowGroupLimit`` under
``row_number() ... filter(rk <= LITERAL)`` — but ONLY for a literal: a
per-row budget column (the engine's real shape) alone gets no pushdown.
The capped form (``budget_cap``) adds a foldable upper bound as a literal
conjunct, restoring the map-side pruning while the exact per-row budget is
applied on the survivors — measured ~3× faster than the uncapped window
and ~2× faster than a salted two-phase window on a 90%-one-host frontier,
with identical outputs (tests/test_politeness.py pins the capped window's
plan and admitted/deferred sets against the uncapped one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Sentinel for "no limiter binds this row" — rows at/above this budget are
# admitted without entering the budget window. Shared by CrawlConfig's
# default_host_budget, the engine's static-off/unlimited checks, and the
# budget-cap computation; keep it in ONE place.
UNLIMITED_BUDGET = 1 << 30


def delay_budget_expr(round_seconds: float, delay_col: Column) -> Column:
    """Budget granted by a robots Crawl-delay: floor(round/delay), min 1 so
    progress is guaranteed even when delay > round_seconds
    (cache.go:114-136; SURVEY.md §7 BSP equivalence). Shared by
    host_budget_expr and Engine._politeness_budget_cap so the cap can never
    drift below a row's real budget."""
    return F.when(
        delay_col.isNotNull() & (delay_col > 0),
        F.greatest(F.floor(F.lit(round_seconds) / delay_col), F.lit(1)),
    )


def budget_per_host(
    frontier: DataFrame,
    budget_col: Column,
    order_cols: list[str] | None = None,
    budget_cap: int | None = None,
) -> DataFrame:
    """Adds ``in_budget`` boolean: row is within its host's round budget.

    ``budget_col`` may reference per-row columns (e.g. derived from
    crawl_delay). Rows keep frontier columns; caller splits on in_budget.

    ``budget_cap``: a FOLDABLE upper bound on every row's budget. Spark's
    InferWindowGroupLimit only fires for ``rank <= literal`` — a per-row
    budget column alone gets NO map-side pruning. With the cap, the plan
    gains the map+reduce WindowGroupLimit pair (hot hosts pruned to ≤ cap
    rows per input partition BEFORE the shuffle) and the exact per-row
    budget is applied on the ≤ cap survivors. NOTE: rows ranked past the
    cap are DROPPED from the output — use ``split_by_budget`` to recover
    the full deferred set. Without a cap every row is kept and marked (the
    uncapped reference formulation).
    """
    order_cols = order_cols or ["seq"]
    w = Window.partitionBy("host").orderBy(*order_cols)
    ranked = frontier.withColumn("_budget", budget_col.cast("long")).withColumn(
        "_rk", F.row_number().over(w)
    )
    if budget_cap is not None:
        # literal conjunct → InferWindowGroupLimit (pinned against the
        # uncapped window in tests/test_politeness.py)
        ranked = ranked.filter(F.col("_rk") <= F.lit(int(budget_cap)))
    return ranked.withColumn("in_budget", F.col("_rk") <= F.col("_budget")).drop(
        "_rk", "_budget"
    )


def split_by_budget(
    frontier: DataFrame,
    budget_col: Column,
    order_cols: list[str] | None = None,
    salt: int = 1,
    budget_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(admitted, deferred). NOTE with a budget_cap the deferred set equals
    the original minus admitted — computed by anti-join on seq to avoid
    recomputing windows."""
    # ``salt`` is kept only because perfbench/probes.py passes salt=1
    if salt != 1:
        raise ValueError(f"split_by_budget has no salted form (salt={salt!r}); pass 1")
    marked = budget_per_host(frontier, budget_col, order_cols, budget_cap=budget_cap)
    admitted = marked.filter(F.col("in_budget")).drop("in_budget")
    if budget_cap is not None:
        # the capped window already dropped rows ranked past the cap from
        # ``marked``; recover the full deferred set by anti-joining the
        # original frontier on ``seq`` (globally unique → exact).
        deferred = frontier.join(
            admitted.select(F.col("seq").alias("_a_seq")),
            frontier["seq"] == F.col("_a_seq"),
            "left_anti",
        )
        return admitted, deferred
    deferred = marked.filter(~F.col("in_budget")).drop("in_budget")
    return admitted, deferred


def host_budget_expr(
    round_seconds: float,
    default_budget: int,
    crawl_delay_col: Column,
    host_rates: dict[str, int] | None = None,
    host_col: Column | None = None,
) -> Column:
    """Per-row budget column.

    - base: ``default_budget`` (≈ unlimited when politeness is off);
    - ``LimitHostname(n, host)`` → host_rates[host] · round_seconds
      (limiters.go:43-51);
    - robots Crawl-delay d → floor(round_seconds / d), min 1 so progress is
      guaranteed even when d > round_seconds (cache.go:114-136; the min-1
      floor is the BSP equivalence documented in SURVEY.md §7).
    The effective budget is the MINIMUM of all applicable buckets — matching
    the reference where every limiter blocks independently.
    """
    budget = F.lit(default_budget).cast("double")
    if host_rates:
        hc = host_col if host_col is not None else F.col("host")
        rate = F.lit(None).cast("double")
        expr = None
        for h, n in host_rates.items():
            cond = hc == F.lit(h)
            val = F.lit(float(n) * round_seconds)
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        if expr is not None:
            rate = expr.otherwise(F.lit(None))
        budget = F.least(budget, F.coalesce(rate, budget))
    delay_budget = delay_budget_expr(round_seconds, crawl_delay_col).otherwise(
        F.lit(None)
    )
    budget = F.least(budget, F.coalesce(delay_budget.cast("double"), budget))
    return F.greatest(F.floor(budget), F.lit(1)).cast("long")


def rule_budget(
    frontier: DataFrame,
    rules: list[tuple[str, str, int]],
    round_seconds: float,
    order_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LimitPattern / LimitRegexp (limiters.go:60-88): per-rule token buckets.

    ``rules``: (kind, expr, n) with kind in {'pattern','regexp'}; subject is
    host+path WITHOUT the leading-'/' coercion (limiters match the raw
    ``u.Host + u.Path`` — unlike matchers, limiters.go:63 vs matchers.go:68).

    Reference-exact composition: the reference applies EVERY matching
    limiter serially in declared order, each ``wait``-ing on its own bucket
    (limiters.go:44-88 — the worker takes rule i's token before blocking on
    rule i+1). The BSP-round equivalent is a CHAIN of per-rule
    budget windows: pass i ranks the pass-(i-1) survivors that match rule i
    by ``order_cols`` and keeps the first budget_i; a row deferred at rule j
    has consumed tokens of every earlier matching rule, exactly like the Go
    worker. With fully-overlapping rules the admitted count is therefore
    the MIN of the rule budgets. Each pass's filter is ``rank <= literal``
    (budgets are driver-known), so Catalyst's InferWindowGroupLimit prunes
    a rule matching 10^9 rows to ≤ budget_i rows per input partition
    map-side BEFORE its shuffle — n_rules bounded windows, never a giant
    one.

    Returns (admitted, deferred).

    CONTRACT: ``frontier`` must carry a globally-UNIQUE ``seq`` column —
    the deferred set is recovered by anti-joining on ``seq`` (rows ranked
    past a rule's budget never materialize in the window output), so
    duplicate seqs would silently drop/duplicate deferred rows. Raises when
    the column is absent; uniqueness is the caller's responsibility (the
    engine assigns collision-free seqs by construction).
    """
    from ant_spark.functions.urlnorm import hostpath_of
    from ant_spark.operators.matchers import glob_to_regex

    if "seq" not in frontier.columns:
        raise ValueError(
            "rule_budget requires a globally-unique 'seq' column on the "
            "frontier (the deferred set is recovered by anti-join on seq)"
        )
    if not rules:
        return frontier, frontier.filter(F.lit(False))
    order_cols = order_cols or ["seq"]
    subject = hostpath_of(F.col("url"))
    conds: list[Column] = []
    budgets: list[int] = []
    for kind, pat, n in rules:
        conds.append(
            subject.rlike(glob_to_regex(pat))
            if kind == "pattern"
            else subject.rlike(pat)
        )
        budgets.append(max(1, int(n * round_seconds)))

    # match flags computed ONCE per row (each rule's regex evaluated in
    # one projection), then the chain filters on the boolean columns.
    flag_cols = [f"_m{i}" for i in range(len(rules))]
    flagged = frontier.select(
        "*", *[c.alias(fc) for c, fc in zip(conds, flag_cols)]
    )
    any_match = F.lit(False)
    for fc in flag_cols:
        any_match = any_match | F.col(fc)
    unlimited = flagged.filter(~any_match).drop(*flag_cols)
    limited = flagged.filter(any_match)
    survivors = limited
    for i, b in enumerate(budgets):
        m = survivors.filter(F.col(flag_cols[i]))
        nm = survivors.filter(~F.col(flag_cols[i]))
        # partition by the match flag itself: constant-true within `m`
        # (one logical partition, like the reference's one bucket per
        # rule) but NON-FOLDABLE, so Catalyst keeps it a real window
        # partition and InferWindowGroupLimit still prunes map-side
        # (a literal partition key would fold to a partition-less
        # window and skip the pushdown).
        w = Window.partitionBy(flag_cols[i]).orderBy(*order_cols)
        m = (
            m.withColumn("_rk", F.row_number().over(w))
            # rank <= LITERAL → InferWindowGroupLimit map-side prune
            .filter(F.col("_rk") <= F.lit(b))
            .drop("_rk")
        )
        survivors = m.unionByName(nm)
    admitted = survivors.drop(*flag_cols)
    # admitted ≤ Σ budgets (every admitted row sits within its first
    # matching rule's budget) — a driver-known bound, so broadcast the
    # anti-join probe when small; huge configured budgets fall back to
    # AQE picking the strategy.
    adm_seqs = admitted.select(F.col("seq").alias("_a_seq"))
    if sum(budgets) <= 4_000_000:
        adm_seqs = F.broadcast(adm_seqs)
    deferred = limited.drop(*flag_cols).join(
        adm_seqs, F.col("seq") == F.col("_a_seq"), "left_anti"
    )
    return unlimited.unionByName(admitted), deferred


def global_limit(frontier: DataFrame, n: int, order_cols: list[str] | None = None) -> tuple[DataFrame, DataFrame]:
    """``Limit(n)`` — global cap per round (limiters.go:93-98).

    Exact global top-k needs a total order; implemented as sort+limit (Spark
    executes TakeOrderedAndProject — no single-partition window). The
    deferred remainder is an anti-join. At cluster scale prefer per-host
    budgets; a global cap forces coordination by definition.
    """
    order_cols = order_cols or ["seq"]
    admitted = frontier.orderBy(*order_cols).limit(n)
    adm_seqs = admitted.select(F.col("seq").alias("_a_seq"))
    if n <= 4_000_000:  # ≤ n rows by construction — driver-known bound
        adm_seqs = F.broadcast(adm_seqs)
    deferred = frontier.join(
        adm_seqs,
        frontier["seq"] == F.col("_a_seq"),
        "left_anti",
    )
    return admitted, deferred
