"""The engine's plan-audit hook (ANT_SPARK_EXPLAIN_FETCH/DEDUPE/ROUND):
one Exchange-count rule over formatted plans, one line format per tag."""

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from ant_spark.engine import _explain, count_exchanges


def _three_exchanges(spark):
    # repartition (shuffle) + aggregate on another key (shuffle) + a
    # broadcast join (broadcast exchange)
    small = spark.createDataFrame([(0, "a"), (1, "b")], "k long, v string")
    return (
        spark.range(100)
        .repartition(4, "id")
        .groupBy((F.col("id") % 2).alias("k"))
        .count()
        .join(F.broadcast(small), "k")
    )


def _formatted(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_count_exchanges_counts_each_node_once(spark):
    plan = _formatted(_three_exchanges(spark))
    # every node is named twice: tree line and numbered details header
    assert plan.count("Exchange") == 6
    assert count_exchanges(plan) == 3
    assert count_exchanges(_formatted(spark.range(10).filter("id > 3"))) == 0


def test_explain_hook_line_formats(spark, monkeypatch):
    df = _three_exchanges(spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        _explain("ANT_SPARK_EXPLAIN_TEST", "dedupe-plan round=0", df)
    assert buf.getvalue() == ""  # env var unset: silent

    monkeypatch.setenv("ANT_SPARK_EXPLAIN_TEST", "1")
    with redirect_stdout(buf):
        _explain("ANT_SPARK_EXPLAIN_TEST", "dedupe-plan round=0", df)
        _explain("ANT_SPARK_EXPLAIN_TEST", "round-plan round=0", df,
                 formatted=False)
    out = buf.getvalue()
    assert re.findall(r"\[dedupe-plan[^\n]*Exchanges=(\d+)", out) == ["3"]
    # the round plan is the simple (tree) form, without a count
    assert "[round-plan round=0]\n== Physical Plan ==" in out


def _normalize_evals(plan):
    return len(re.findall(r"ArrowEvalPython \[normalize_udf\(", plan))


def test_round_plan_normalizes_each_link_once(spark, monkeypatch, tmp_path):
    # the filter on the normalized url must not inline a second UDF eval
    from ant_spark import schemas
    from ant_spark.engine import CrawlConfig, Engine
    from ant_spark.sources.webgraph import example_site

    pages_pdf, robots_pdf, seeds = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    monkeypatch.setenv("ANT_SPARK_EXPLAIN_ROUND", "1")
    buf = io.StringIO()
    with redirect_stdout(buf):
        Engine(spark, pages, robots, CrawlConfig(
            max_rounds=1, checkpoint_dir=str(tmp_path))).run(seeds)
    plan = buf.getvalue()
    assert "[round-plan round=0]" in plan
    assert _normalize_evals(plan) == 1, plan


def test_anchor_edges_normalize_each_anchor_once(spark):
    from ant_spark.functions.parse import anchor_text_edges

    pages = spark.createDataFrame(
        [("http://a.com/", b'<a href="/x">x</a><a href="mailto:m">m</a>')],
        "url string, html binary",
    )
    edges = anchor_text_edges(pages)
    buf = io.StringIO()
    with redirect_stdout(buf):
        edges.explain()
    assert _normalize_evals(buf.getvalue()) == 1, buf.getvalue()
    assert sorted(r["dst"] for r in edges.collect()) == ["http://a.com/x"]
