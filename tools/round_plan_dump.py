"""Dump the engine's round plans with volatile artifacts scrubbed — the
cross-version plan-identity probe.

Wall-clock on this VM swings ±15-25% under co-tenant load, so "did round
N's changes slow the crawl?" is adjudicated structurally: dump the plans
on both code versions and diff. Identical scrubbed plans ⇒ any wall-clock
delta is environmental (BENCH.md "Round-6 crawl-number adjudication").

Three golden-fixture crawls cover the engine's paths, each under a
``== config <name> ==`` header:

- ``default``: the default config;
- ``polite``: ``Crawl-delay: 0.5`` robots, ``host_rates``, two
  ``pattern_rates`` and ``global_rate`` (the budget windows);
- ``bucketed``: ``pages_table`` with ``state_backend="bucketed"`` (the
  fetch join against the bucketed pages table and the anti-join against
  the bucketed seen table, each with its other side shuffled into the
  table's buckets).

Usage:
    python tools/round_plan_dump.py /tmp/plan_now.txt
    git archive --prefix=oldcode/ <commit> | tar -x -C /tmp
    python tools/round_plan_dump.py /tmp/plan_old.txt /tmp/oldcode
    diff /tmp/plan_old.txt /tmp/plan_now.txt   # expect: empty

The second argument selects which repo's ant_spark to import (defaults to
this tool's parent repo), so the SAME scrubber runs for both versions.
Scrubbed: expr ids (#123), plan/node ids, python UDF names, checkpoint
tmp paths, the per-checkpoint seen table name (``ant_seen_<md5>``), UUIDs.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout


def _scrub(out: str) -> str:
    out = re.sub(r"#\d+", "#N", out)
    out = re.sub(r"\(\d+\)", "(N)", out)
    out = re.sub(r"pythonUDF\d+", "pythonUDFN", out)
    out = re.sub(r"parse_udf\(\w*", "parse_udf(", out)
    out = re.sub(r"plan_id=\d+", "plan_id=N", out)
    out = re.sub(r"ant_seen_[0-9a-f]+", "ant_seen_TBL", out)
    out = re.sub(r"ant_spark_[A-Za-z0-9_]+", "ant_spark_TMP", out)
    out = re.sub(r"rpd_[A-Za-z0-9_]+", "rpd_TMP", out)
    return re.sub(
        r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        "UUID",
        out,
    )


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/round_plan.txt"
    repo = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sys.path.insert(0, repo)
    os.environ["ANT_SPARK_EXPLAIN_FETCH"] = "1"
    os.environ["ANT_SPARK_EXPLAIN_ROUND"] = "1"

    from ant_spark import schemas
    from ant_spark.engine import CrawlConfig, Engine
    from ant_spark.session import get_spark
    from ant_spark.sources.webgraph import example_site

    spark = get_spark(
        master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "4"}
    )
    pages_pdf, robots_pdf, seeds = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    polite_pdf = robots_pdf.copy()
    polite_pdf["body"] = polite_pdf["body"] + "\nCrawl-delay: 0.5\n"
    polite_robots = spark.createDataFrame(polite_pdf, schema=schemas.ROBOTS)
    tmp = tempfile.mkdtemp(prefix="rpd_")
    Engine.create_pages_table(
        spark, pages, "rpd_pages", os.path.join(tmp, "pages"), buckets=4
    )
    configs = {
        "default": (pages, robots, CrawlConfig(max_rounds=3)),
        "polite": (
            pages,
            polite_robots,
            CrawlConfig(
                max_rounds=3,
                host_rates={"example.com": 2},
                pattern_rates=[("pattern", "example.com/a*", 1),
                               ("regexp", r"\.html$", 2)],
                global_rate=3,
            ),
        ),
        "bucketed": (
            None,
            robots,
            CrawlConfig(
                max_rounds=3,
                pages_table="rpd_pages",
                fetch_buckets=4,
                state_backend="bucketed",
                state_partitions=4,
                checkpoint_dir=os.path.join(tmp, "bucketed"),
            ),
        ),
    }
    out = ""
    for name, (pg, rb, cfg) in configs.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            Engine(spark, pg, rb, cfg).run(seeds)
        out += f"== config {name} ==\n" + buf.getvalue()
    shutil.rmtree(tmp, ignore_errors=True)
    out = _scrub(out)
    with open(out_path, "w") as f:
        f.write(out)
    print(f"wrote {out_path} ({len(out)} bytes, scrubbed)")


if __name__ == "__main__":
    main()
