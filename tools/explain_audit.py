"""Physical-plan audit — prints and checks the plans that matter at scale.

Checks (ARCHITECTURE.md §6):
  1. robots stage uses BroadcastHashJoin;
  2. pages scan prunes columns (html absent outside the parse stage) and
     pushes filters;
  3. dedupe is a hash anti-join keyed on url_hash;
  4. text/similarity operators stay inside WholeStageCodegen with no
     Python eval (BatchEvalPython/ArrowEvalPython) in their plans;
  5-10. engine round plans (numbered inline below) — among them, with
     broadcast disabled, the bucketed fetch join (6), the bucketed rank
     join (8) and the full pages_table + bucketed-state round (10) read
     the bucketed table in place and shuffle only the other join side,
     once, into the table's bucket layout.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextmanager
def no_broadcast_plans(spark, *envs: str):
    """Broadcast joins off (the 100 TB shape where neither join side
    broadcasts) and the engine's explain hooks ``envs`` on; yields the
    buffer that captures the printed plans."""
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_athr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    for env in envs:
        os.environ[env] = "1"
    buf = io.StringIO()
    try:
        with redirect_stdout(buf):
            yield buf
    finally:
        for env in envs:
            os.environ.pop(env)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        if old_athr is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_athr)


def check(name: str, plan: str, must: list[str], must_not: list[str]) -> bool:
    ok = True
    for m in must:
        if m not in plan:
            print(f"  MISSING [{m}] in {name}")
            ok = False
    for m in must_not:
        if m in plan:
            print(f"  FORBIDDEN [{m}] present in {name}")
            ok = False
    print(f"{'PASS' if ok else 'FAIL'}  {name}")
    return ok


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from ant_spark import schemas
    from ant_spark.functions.urlnorm import path_of, url_hash
    from ant_spark.operators import robots as robots_ops
    from ant_spark.operators import textops as T
    from ant_spark.operators.dedupe import exact_new
    from ant_spark.operators.similarity import brute_force_topk
    from ant_spark.session import get_spark
    from ant_spark.sources.webgraph import GraphConfig, generate

    spark = get_spark(master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "8"})
    results = []

    import tempfile

    pages_pdf, robots_pdf, _ = generate(GraphConfig(n_pages=200, n_hosts=4))
    pages_dir = tempfile.mkdtemp(prefix="audit_pages_") + "/pages"
    spark.createDataFrame(pages_pdf, schema=schemas.PAGES).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)  # real scan → pruning observable
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    frontier = pages.select(
        "url",
        url_hash(F.col("url")).alias("url_hash"),
        F.substring_index(F.substring_index("url", "://", -1), "/", 1).alias("host"),
        F.lit(0).alias("seq").cast("long"),
    )

    # 1. robots broadcast join
    rb = robots_ops.with_robots(frontier, robots, "antbot", path_of(F.col("url")))
    p = plan_of(rb)
    results.append(check("robots_broadcast_join", p, ["BroadcastHashJoin"], ["SortMergeJoin"]))

    # 2. column pruning: a metadata-only projection over pages must not read html
    meta = pages.filter(F.col("lang") == "en").select("url", "warc_ts")
    p = plan_of(meta)
    read_schema = p.split("ReadSchema:")[-1].splitlines()[0] if "ReadSchema:" in p else "html"
    html_read = "html" in read_schema
    print(f"{'PASS' if not html_read else 'FAIL'}  pages_scan_prunes_html "
          f"(ReadSchema: {read_schema.strip()})")
    results.append(not html_read)
    results.append(check("pages_scan_pushes_filter", p, ["PushedFilters: [IsNotNull(lang)"], []))

    # 3. dedupe anti-join shape
    seen = frontier.select("url_hash", "url").limit(10)
    anti = exact_new(frontier, seen)
    p = plan_of(anti)
    results.append(check("dedupe_anti_join", p, ["LeftAnti"], []))

    # 4. analytics stay JVM-side
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    analytics = docs.select(
        T.language_id(F.col("text")).alias("lang_id"),
        T.quality_score(F.col("text")).alias("q"),
        T.token_count(F.col("text")).alias("tok"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    p = plan_of(analytics)
    results.append(
        check("textops_no_python", p, ["[codegen id :"],
              ["BatchEvalPython", "ArrowEvalPython"])
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    topk = brute_force_topk(emb.limit(4), emb, k=3)
    p = plan_of(topk)
    results.append(
        check("similarity_no_python", p, [], ["BatchEvalPython", "ArrowEvalPython"])
    )
    from ant_spark.operators.similarity import ivf_topk, make_hyperplanes

    ivf = ivf_topk(emb.limit(4), emb, make_hyperplanes(64, 4, seed=7), k=3, nprobe=2)
    p = plan_of(ivf)
    results.append(
        check("ivf_topk_no_python", p, [], ["BatchEvalPython", "ArrowEvalPython"])
    )

    # 5. DEFAULT-config engine round plans contain no partition-less Window
    # (a global sort of the frontier would single-thread seq assignment at
    # 10^10 scale; the scale-safe 'partitioned' ordering must be default).
    # Physical Window prints [exprs], [partition], [ordering] — a missing
    # partition list leaves only one "], [" separator on the line.
    from ant_spark.engine import CrawlConfig, Engine
    from ant_spark.sources.webgraph import example_site

    os.environ["ANT_SPARK_EXPLAIN_ROUND"] = "1"
    pages_e, robots_e, seeds = example_site()
    pe = spark.createDataFrame(pages_e, schema=schemas.PAGES)
    rbe = spark.createDataFrame(robots_e, schema=schemas.ROBOTS)
    buf = io.StringIO()
    with redirect_stdout(buf):
        Engine(spark, pe, rbe, CrawlConfig(max_rounds=3)).run(seeds)
    os.environ.pop("ANT_SPARK_EXPLAIN_ROUND")
    round_plans = buf.getvalue()
    bad_windows = [
        ln.strip()
        for ln in round_plans.splitlines()
        if "Window [" in ln and ln.count("], [") < 2
    ]
    has_windows = "Window [" in round_plans
    for ln in bad_windows:
        print(f"  PARTITION-LESS WINDOW: {ln[:120]}")
    ok5 = has_windows and not bad_windows
    print(f"{'PASS' if ok5 else 'FAIL'}  engine_round_no_global_window "
          f"({round_plans.count('[round-plan')} round plans audited)")
    results.append(ok5)

    # 6. bucketed fetch mode: the html-bearing pages scan must never be
    # exchanged — with broadcast disabled (the 100 TB shape where neither
    # side broadcasts) the fetch join reads the bucketed pages scan in
    # place and shuffles only the admitted frontier, once, into the
    # table's 4 url buckets (ant_spark/plan_audit.py).
    import re
    import tempfile as _tf

    from ant_spark.plan_audit import bucketed_join_problems, tagged_plans

    def joins_in_place(out, tag, table, key, buckets):
        """Whether every ``tag`` plan in ``out`` joins ``table`` in place
        (printing each problem), and how many plans there were."""
        plans = tagged_plans(out, tag)
        probs = [bucketed_join_problems(p, table, key, buckets) for p in plans]
        for msg in (m for ps in probs for m in ps):
            print(f"  {tag}: {msg}")
        return bool(plans) and not any(probs), len(plans)

    with no_broadcast_plans(spark, "ANT_SPARK_EXPLAIN_FETCH") as buf:
        tbl_dir = _tf.mkdtemp(prefix="audit_pages_tbl_")
        Engine.create_pages_table(
            spark, pe, "audit_pages_bkt", os.path.join(tbl_dir, "t"), buckets=4
        )
        Engine(
            spark, None, rbe,
            CrawlConfig(max_rounds=3, pages_table="audit_pages_bkt",
                        fetch_buckets=4),
        ).run(seeds)
    ok6, n6 = joins_in_place(
        buf.getvalue(), "fetch-plan", "audit_pages_bkt", "url", 4
    )
    print(f"{'PASS' if ok6 else 'FAIL'}  bucketed_fetch_scan_in_place "
          f"({n6} fetch plans: pages scan bucketed and never exchanged, "
          f"frontier shuffled once into its 4 url buckets)")
    results.append(ok6)

    # 7. priority_join rounds: the URL-level rank table must ride as a
    # BROADCAST side of the new-links join (a small signal table must never
    # force the discovered-links stream through an extra shuffle; at corpus
    # scale the documented alternative is url_hash-bucketing both sides).
    from ant_spark.operators.graphops import rank_priority_table
    from ant_spark.sources.webgraph import example_hub_site

    hp, _, hseeds = example_hub_site()
    phe = spark.createDataFrame(hp, schema=schemas.PAGES)
    ptab = rank_priority_table(
        spark.createDataFrame(
            [("http://example.com/hub.html", 5)], "id string, rank_scaled long"
        )
    )
    os.environ["ANT_SPARK_EXPLAIN_ROUND"] = "1"
    buf = io.StringIO()
    with redirect_stdout(buf):
        Engine(
            spark, phe, None,
            CrawlConfig(
                max_rounds=3, queue_policy="priority", priority_join=ptab
            ),
        ).run(hseeds)
    os.environ.pop("ANT_SPARK_EXPLAIN_ROUND")
    pj_plans = buf.getvalue()
    pj_joins = [
        ln for ln in pj_plans.splitlines()
        if "_pj_hash" in ln and "Join" in ln
    ]
    ok7 = bool(pj_joins) and all("BroadcastHashJoin" in ln for ln in pj_joins)
    print(f"{'PASS' if ok7 else 'FAIL'}  priority_join_broadcast "
          f"({len(pj_joins)} rank-table joins, all broadcast)")
    results.append(ok7)

    # 8. priority_join at corpus scale (priority_join_broadcast=False +
    # bucketed state): with broadcast disabled entirely, the rank-table
    # join and the anti-join above it read the bucketed rank and seen
    # scans in place; the links are shuffled once, into the 8 url_hash
    # buckets both tables share (the 10^10-row rank side never moves;
    # queue.go:12-49 priority seam at frontier scale).
    with no_broadcast_plans(spark, "ANT_SPARK_EXPLAIN_DEDUPE") as buf:
        rank_dir = _tf.mkdtemp(prefix="audit_rank_tbl_")
        rtab = Engine.create_rank_table(
            spark, ptab, "audit_rank_bkt", os.path.join(rank_dir, "t"),
            buckets=8,
        )
        Engine(
            spark, phe, None,
            CrawlConfig(
                max_rounds=3, queue_policy="priority",
                priority_join=rtab, priority_join_broadcast=False,
                state_backend="bucketed", bucketed_switch_rows=0,
                state_partitions=8, dedupe="exact",
            ),
        ).run(hseeds)
    pjb_out = buf.getvalue()
    ok_rank, n8 = joins_in_place(
        pjb_out, "dedupe-plan", "audit_rank_bkt", "url_hash", 8
    )
    ok_seen, _ = joins_in_place(pjb_out, "dedupe-plan", "ant_seen_", "url_hash", 8)
    ok8 = (
        ok_rank and ok_seen
        and "SortMergeJoin LeftOuter" in pjb_out
        and "SortMergeJoin LeftAnti" in pjb_out
    )
    print(f"{'PASS' if ok8 else 'FAIL'}  priority_join_bucketed_scan_in_place "
          f"({n8} dedupe plans: rank and seen scans bucketed and never "
          f"exchanged, links shuffled once into 8 url_hash buckets)")
    results.append(ok8)

    # 9. redirect-chain closure (operators/redirects.py): the hop LOOP
    # must be materialized away at build time — the plan that re-evaluates
    # per round is content-scan UNION (one dim join against the
    # eager-localCheckpointed landing map), never the chain of per-hop
    # joins. A 3-hop + cycle fixture exercises the loop; the resolved
    # plan must contain the checkpointed scan (ExistingRDD) and at most
    # ONE join node.
    import datetime as _dt

    import pandas as _pd

    from ant_spark.operators.redirects import resolve_redirects
    from pyspark.sql.types import StringType as _S, StructField as _SF, StructType as _ST

    _base = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

    def _rp(url, status=200, redirect_to=None):
        return {"url": url, "warc_ts": _base, "html": b"<p>x</p>",
                "text": "", "lang": "en", "status": status,
                "ok_after_attempt": None, "redirect_to": redirect_to}

    _rschema = _ST(list(schemas.PAGES.fields) + [_SF("redirect_to", _S(), True)])
    rpages = spark.createDataFrame(
        _pd.DataFrame([
            _rp("http://r.test/a", 301, "/b"),
            _rp("http://r.test/b", 302, "/c"),
            _rp("http://r.test/c"),
            _rp("http://r.test/x", 301, "/y"),
            _rp("http://r.test/y", 301, "/x"),  # cycle
            _rp("http://r.test/plain"),
        ]),
        schema=_rschema,
    )
    rplan = plan_of(resolve_redirects(rpages, max_redirects=10))
    # formatted explain: each physical node appears once as "(N) <Op>" in
    # the tree header — count join NODES, not every textual mention
    n_joins = len(re.findall(r"\(\d+\) \w*Join", rplan))
    ok9 = (
        "ExistingRDD" in rplan  # the checkpointed landing/exceeded maps
        and n_joins <= 1
        and "Union" in rplan
    )
    print(f"{'PASS' if ok9 else 'FAIL'}  redirect_closure_precomputed "
          f"(resolved plan: {n_joins} join node(s), hop loop checkpointed)")
    results.append(ok9)

    # 10. the full 100 TB round shape: pages_table AND the bucketed seen
    # state, broadcast disabled — in every round BOTH big joins read their
    # bucketed table in place: the fetch plan shuffles only the frontier
    # (4 url buckets), the dedupe plan only the links (32 url_hash
    # buckets, the default state_partitions).
    with no_broadcast_plans(
        spark, "ANT_SPARK_EXPLAIN_FETCH", "ANT_SPARK_EXPLAIN_DEDUPE"
    ) as buf:
        Engine(
            spark, None, rbe,
            CrawlConfig(max_rounds=3, pages_table="audit_pages_bkt",
                        fetch_buckets=4, state_backend="bucketed"),
        ).run(seeds)
    both_out = buf.getvalue()
    ok_fetch, n_fetch = joins_in_place(
        both_out, "fetch-plan", "audit_pages_bkt", "url", 4
    )
    ok_dedupe, n_dedupe = joins_in_place(
        both_out, "dedupe-plan", "ant_seen_", "url_hash", 32
    )
    ok10 = ok_fetch and ok_dedupe
    print(f"{'PASS' if ok10 else 'FAIL'}  bucketed_round_scans_in_place "
          f"({n_fetch} fetch and {n_dedupe} dedupe plans: pages and seen "
          f"scans never exchanged, one bucket shuffle on the other side)")
    results.append(ok10)

    print(f"\n{'ALL PASS' if all(results) else 'AUDIT FAILURES'}")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
