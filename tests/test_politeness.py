"""Politeness budget windows (reference limiters.go → SURVEY §2.5 W1-W4)."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ant_spark.operators.politeness import (
    UNLIMITED_BUDGET,
    budget_per_host,
    global_limit,
    host_budget_expr,
    split_by_budget,
)


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, "url string, url_hash long, host string, seq long"
    )


ROWS = [
    (f"http://a.test/{i}", i * 7 + 1, "a.test", i) for i in range(10)
] + [(f"http://b.test/{i}", 1000 + i * 13, "b.test", 100 + i) for i in range(3)]


def test_budget_lowest_seq_first(spark):
    fr = _frontier(spark, ROWS)
    adm, defer = split_by_budget(fr, F.lit(2), ["seq"], salt=1)
    got = sorted((r["host"], r["seq"]) for r in adm.collect())
    assert got == [("a.test", 0), ("a.test", 1), ("b.test", 100), ("b.test", 101)]
    assert defer.count() == 13 - 4


def test_split_by_budget_rejects_salt(spark):
    fr = _frontier(spark, ROWS)
    with pytest.raises(ValueError, match="salt"):
        split_by_budget(fr, F.lit(3), ["seq"], salt=4)


def _n_window_group_limits(df) -> int:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # formatted explain prints each physical node twice (tree + detail)
    return buf.getvalue().count("WindowGroupLimit") // 2


def test_capped_window_matches_uncapped_on_skewed_frontier(spark):
    """The engine's skew protection: one host owns 90% of the frontier and
    the budget is a per-row column (host_budget_expr over crawl_delay), so
    only the driver-computed literal cap lets InferWindowGroupLimit prune
    the hot host map-side. The capped window must admit and defer exactly
    the uncapped reference window's rows. Serial: redirect_stdout is
    process-global."""
    frontier = spark.range(3000).select(
        F.col("id").alias("seq"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.when(F.col("id") % 10 < 9, F.lit("hot.test"))
        .otherwise(F.concat(F.lit("cold"), F.pmod(F.col("id"), F.lit(7)).cast("string")))
        .alias("host"),
        # round 10s: hot host budget floor(10/0.02)=500, cold hosts 20
        F.when(F.col("id") % 10 < 9, F.lit(0.02)).otherwise(F.lit(0.5)).alias(
            "crawl_delay"
        ),
    )
    budget = host_budget_expr(10.0, UNLIMITED_BUDGET, F.col("crawl_delay"))
    wb = frontier.withColumn("_b", budget)
    cap = 500  # = Engine._politeness_budget_cap for these delays

    adm_ref, def_ref = split_by_budget(wb, F.col("_b"), ["seq"])
    adm_cap, def_cap = split_by_budget(wb, F.col("_b"), ["seq"], budget_cap=cap)

    def seqs(df):
        return sorted(r["seq"] for r in df.select("seq").collect())

    admitted = seqs(adm_ref)
    assert len(admitted) == 500 + 7 * 20  # every host over its budget
    assert seqs(adm_cap) == admitted
    deferred = seqs(def_ref)
    assert seqs(def_cap) == deferred
    assert sorted(admitted + deferred) == list(range(3000))

    assert _n_window_group_limits(adm_cap) >= 2, (
        "expected the map+reduce WindowGroupLimit pair with the cap"
    )
    assert _n_window_group_limits(adm_ref) == 0, (
        "a bare per-row budget gets no pushdown"
    )


def test_budget_expr_crawl_delay_and_host_rate(spark):
    df = spark.createDataFrame(
        [("a.test", 0.5), ("b.test", None), ("c.test", 10.0)],
        "host string, crawl_delay double",
    )
    b = host_budget_expr(
        round_seconds=1.0,
        default_budget=100,
        crawl_delay_col=F.col("crawl_delay"),
        host_rates={"b.test": 5},
    )
    got = {r["host"]: r["b"] for r in df.withColumn("b", b).collect()}
    assert got["a.test"] == 2  # floor(1/0.5)
    assert got["b.test"] == 5  # LimitHostname(5)·1s
    assert got["c.test"] == 1  # delay > round ⇒ min budget 1 (progress)


def test_global_limit(spark):
    fr = _frontier(spark, ROWS)
    adm, defer = global_limit(fr, 5, ["seq"])
    assert sorted(r["seq"] for r in adm.collect()) == [0, 1, 2, 3, 4]
    assert defer.count() == 8


def test_budget_marks_only(spark):
    fr = _frontier(spark, ROWS)
    marked = budget_per_host(fr, F.lit(1), ["seq"])
    inb = sorted(r["seq"] for r in marked.filter("in_budget").collect())
    assert inb == [0, 100]
