"""E2E golden crawls (reference engine_test.go:28-77 ported to the BSP engine).

These are the expensive tests: each runs a full multi-round crawl sequence
through the real round loop (robots → politeness → fetch-join → parse UDF →
dedupe → commit). The independent sequences run CONCURRENTLY in one Spark
session (the contract-suite pattern: separate driver threads, the scheduler
interleaves their stages — engine rounds are scheduling-bound, not CPU-bound,
at these graph sizes), so module wall-clock ≈ the slowest single sequence
instead of the sum. Each pytest test owns one worker's future and re-raises
its failure with the full traceback, keeping per-test attribution.
"""

import datetime as dt
import json
import os
from collections import Counter

import pandas as pd
import pytest

from ant_spark import schemas
from ant_spark.engine import CrawlConfig, Engine
from ant_spark.sources.webgraph import GraphConfig, example_site, generate


def _example(spark):
    pages_pdf, robots_pdf, seeds = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    return pages, robots, seeds, pages_pdf


def _w_golden(spark, tmp):
    pages, robots, seeds, pages_pdf = _example(spark)
    # ordering='bfs' is the opt-in sequential-parity mode (Workers=1 FIFO);
    # the engine default is the scale-safe 'partitioned' scheme.
    res = Engine(
        spark, pages, robots, CrawlConfig(max_rounds=10, ordering="bfs")
    ).run(seeds)
    rows = res.fetched_log.orderBy("seq").collect()
    visited = [r["url"].replace("http://example.com", "") or "/" for r in rows]
    # engine_test.go:39-48: /search.html excluded by robots
    assert visited == ["/", "/about.html", "/products.html", "/a.html", "/b.html"]
    # sequential-reference BFS seq order: search.html consumed seq 3
    assert [r["seq"] for r in rows] == [0, 1, 2, 4, 5]
    assert res.rounds == 3
    # per-row invariant: byte-identical extracted text vs the golden column
    golden = dict(zip(pages_pdf.url, pages_pdf.text))
    for r in rows:
        assert r["text"] == golden[r["url"]], r["url"]
    # dedupe-exactly-once: no URL fetched twice
    assert len(set(visited)) == len(visited)
    # robots_denied recorded in metrics
    stages = {}
    for m in res.metrics.collect():
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    assert stages["robots_denied"] == 1
    assert stages["fetched"] == 5
    return res


def _w_matcher(spark, tmp):
    from ant_spark.operators.matchers import match_pattern

    pages, robots, seeds, _ = _example(spark)
    res = Engine(
        spark, pages, robots,
        CrawlConfig(matcher=match_pattern("example.com/"), max_rounds=5),
    ).run(seeds)
    assert [r["url"] for r in res.fetched_log.collect()] == ["http://example.com/"]


def _w_retry(spark, tmp):
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    pages_pdf = pd.DataFrame(
        [
            {
                "url": "http://x.test/",
                "warc_ts": base,
                "html": b'<html><body><a href="/f.html">f</a><a href="/dead.html">d</a>'
                        b'<a href="/missing.html">m</a></body></html>',
                "text": "fdm", "lang": "en", "status": 200, "ok_after_attempt": None,
            },
            {
                "url": "http://x.test/f.html", "warc_ts": base,
                "html": b"<html><body>ok now</body></html>",
                "text": "ok now", "lang": "en", "status": 503, "ok_after_attempt": 3,
            },
            {
                "url": "http://x.test/dead.html", "warc_ts": base,
                "html": b"<html></html>", "text": "", "lang": "en",
                "status": 503, "ok_after_attempt": 99,
            },
        ]
    )
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    res = Engine(spark, pages, None, CrawlConfig(max_rounds=12)).run(["http://x.test/"])
    stages = {}
    for m in res.metrics.collect():
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    # f.html: 503 at attempts 1,2 → fetched at attempt 3 (fetcher.go retry)
    logs = {r["url"]: r["status"] for r in res.fetched_log.collect()}
    assert logs["http://x.test/f.html"] == 200
    # dead.html: retried up to max_attempts=5 then dead-lettered
    assert stages["dead_letter"] == 1
    assert stages["retried"] == 2 + 4  # f: attempts 1-2, dead: attempts 1-4
    # missing.html: 404 consumed silently (fetcher.go:157-161), never an error
    assert stages["missing_404"] == 1
    assert "perm_error" not in stages


def _w_synthetic(spark, tmp):
    cfg = GraphConfig(n_pages=120, n_hosts=4, crawl_delay_hosts=0,
                      robots_disallow_hosts=2, flaky_every=0)
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)

    ckpt = str(tmp / "ckpt")
    eng = Engine(spark, pages, robots, CrawlConfig(checkpoint_dir=ckpt, max_rounds=3))
    part1 = eng.run(seeds)
    assert part1.rounds == 3

    # resume from the committed snapshot and finish the crawl
    eng2 = Engine(spark, pages, robots, CrawlConfig(checkpoint_dir=ckpt, max_rounds=50))
    res = eng2.run(seeds, resume=True)

    fetched = {r["url"] for r in res.fetched_log.collect()}
    private = {u for u in pages_pdf.url if "/private/" in u}
    public = set(pages_pdf.url) - private
    assert private.isdisjoint(fetched)  # robots deny enforced
    assert public == fetched  # everything reachable got fetched exactly once
    log = res.fetched_log.collect()
    assert len(log) == len(fetched)  # exactly-once across resume boundary

    # text parity on the synthetic corpus too (generator analytic vs UDF)
    golden = dict(zip(pages_pdf.url, pages_pdf.text))
    for r in log:
        assert r["text"] == golden[r["url"]], r["url"]

    # north_rule: resume produces IDENTICAL ordering — (url, seq, round)
    # must match an unbroken run of the same crawl exactly
    unbroken = Engine(spark, pages, robots, CrawlConfig(max_rounds=50)).run(seeds)
    a = sorted((r["url"], r["seq"], r["round"]) for r in log)
    b = sorted((r["url"], r["seq"], r["round"]) for r in unbroken.fetched_log.collect())
    assert a == b


def _w_compaction(spark, tmp):
    """Deep chain crawl: per-round seen reads stay O(1) dirs (compaction),
    old round dirs lose their state files but keep fetched_log + MANIFEST
    (expiry), and resume across a compaction boundary is exactly-once."""
    cfg = GraphConfig(n_pages=24, n_hosts=1, fanout=1, flaky_every=0,
                      robots_disallow_hosts=0, dangling_every=0)
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)

    ckpt = str(tmp / "deep")
    ecfg = CrawlConfig(checkpoint_dir=ckpt, seen_compact_every=6,
                       expire_state_rounds=2, max_rounds=10)
    eng = Engine(spark, pages, None, ecfg)
    eng.run(seeds)

    # manifest of the latest round references a BOUNDED number of seen dirs
    r0, manifest = eng.latest_round(ckpt)
    assert len(manifest["seen_paths"]) <= 7  # compact_every + current delta
    # expired rounds: state gone, log + manifest kept
    old = os.path.join(ckpt, "round=00002")
    assert not os.path.isdir(os.path.join(old, "frontier"))
    assert not os.path.isdir(os.path.join(old, "seen_delta"))
    assert os.path.isdir(os.path.join(old, "fetched_log"))
    assert os.path.exists(os.path.join(old, "MANIFEST.json"))
    # live seen refs + latest frontier survive expiry
    for rel in manifest["seen_paths"]:
        assert os.path.isdir(os.path.join(ckpt, rel)), rel
    assert os.path.isdir(os.path.join(ckpt, f"round={r0:05d}", "frontier"))

    # resume across the compaction boundary finishes the chain exactly-once
    res = Engine(spark, pages, None,
                 CrawlConfig(checkpoint_dir=ckpt, seen_compact_every=6,
                             expire_state_rounds=2, max_rounds=50)).run(
        seeds, resume=True)
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(set(urls)) == sorted(urls)  # no refetch
    assert set(urls) == set(pages_pdf.url)  # full chain covered


def _w_bucketed_state(spark, tmp):
    """state_backend='bucketed': the seen set lives in one url_hash-bucketed
    table (storage-partitioned anti-join — 0 seen-side Exchanges, pinned
    by tools/explain_audit.py check 10); semantics must match parquet
    exactly."""
    pages_pdf, robots_pdf, seeds = example_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)

    ckpt = str(tmp / "bkt")
    e1 = Engine(spark, pages, robots,
                CrawlConfig(checkpoint_dir=ckpt, max_rounds=2,
                            state_backend="bucketed"))
    e1.run(seeds)
    res = Engine(spark, pages, robots,
                 CrawlConfig(checkpoint_dir=ckpt, max_rounds=10,
                             state_backend="bucketed")).run(seeds, resume=True)
    visited = sorted(r["url"].replace("http://example.com", "") or "/"
                     for r in res.fetched_log.collect())
    assert visited == sorted(
        ["/", "/about.html", "/products.html", "/a.html", "/b.html"])
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(set(urls)) == sorted(urls)  # exactly-once across resume
    return res


def _w_bucketed_pages(spark, tmp):
    """cfg.pages_table: the fetch join reads a url-bucketed page corpus
    with the admitted frontier shuffled into the same bucketing — plan is
    a storage-partitioned SMJ that reads the pages scan in place
    (tools/explain_audit.py checks 6 and 10); semantics must match the
    plain join exactly, including BFS seq parity and resume."""
    pages, robots, seeds, pages_pdf = _example(spark)
    Engine.create_pages_table(
        spark, pages, "t_pages_bkt", str(tmp / "pages_tbl"), buckets=4
    )
    cfg = CrawlConfig(
        max_rounds=10, ordering="bfs", pages_table="t_pages_bkt",
        fetch_buckets=4, checkpoint_dir=str(tmp / "ckpt"),
    )
    res = Engine(spark, None, robots, cfg).run(seeds)
    rows = res.fetched_log.orderBy("seq").collect()
    visited = [r["url"].replace("http://example.com", "") or "/" for r in rows]
    assert visited == ["/", "/about.html", "/products.html", "/a.html", "/b.html"]
    assert [r["seq"] for r in rows] == [0, 1, 2, 4, 5]
    return res


def _w_auto_switch(spark, tmp):
    """state_backend='auto' (default): starts on parquet deltas, migrates
    the seen set into the bucketed table once total enqueued crosses the
    threshold — exactly-once across both the switch and a resume."""
    cfg = GraphConfig(n_pages=120, n_hosts=4, crawl_delay_hosts=0,
                      robots_disallow_hosts=0, flaky_every=0)
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)

    ckpt = str(tmp / "auto")
    ecfg = dict(checkpoint_dir=ckpt, bucketed_switch_rows=50)
    eng = Engine(spark, pages, None, CrawlConfig(max_rounds=2, **ecfg))
    eng.run(seeds)
    r0, manifest = eng.latest_round(ckpt)
    # interrupted mid-crawl; whether switched yet depends on growth —
    # finish the crawl with resume and assert the invariants end-state
    res = Engine(spark, pages, None, CrawlConfig(max_rounds=50, **ecfg)).run(
        seeds, resume=True)
    _, manifest = eng.latest_round(ckpt)
    assert manifest["bucketed_active"] is True  # 120 pages >> 50 threshold
    assert manifest["seen_paths"] == []
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(set(urls)) == sorted(urls)
    assert set(urls) == set(pages_pdf.url)


def _w_bucketed_compaction(spark, tmp):
    """Bucketed backend file compaction: the seen table is rewritten to a
    fresh versioned path every seen_compact_every rounds, so file count
    stays O(buckets) instead of O(rounds x buckets); resume follows the
    manifest's table pointer across the swap."""
    cfg = GraphConfig(n_pages=16, n_hosts=1, fanout=1, flaky_every=0,
                      robots_disallow_hosts=0, dangling_every=0)
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)

    ckpt = str(tmp / "bktc")
    ecfg = dict(checkpoint_dir=ckpt, state_backend="bucketed",
                seen_compact_every=4, state_partitions=4,
                expire_state_rounds=2)
    eng = Engine(spark, pages, None, CrawlConfig(max_rounds=10, **ecfg))
    eng.run(seeds)
    r0, manifest = eng.latest_round(ckpt)
    # table pointer moved past the initial path after >=1 compaction
    assert manifest["seen_table_path"] != "seen_tbl_r00000"
    tbl_dir = os.path.join(ckpt, manifest["seen_table_path"])
    # freshly compacted: rounds-since-compact appends only, not all rounds
    n_parquet = len([f for f in os.listdir(tbl_dir) if f.endswith(".parquet")])
    assert n_parquet <= 4 * (4 + 1), n_parquet  # buckets * (1 + since)
    # exactly one live seen_tbl dir version (old ones deleted post-commit)
    vers = [d for d in os.listdir(ckpt) if d.startswith("seen_tbl")]
    assert vers == [manifest["seen_table_path"]], vers

    res = Engine(spark, pages, None, CrawlConfig(max_rounds=50, **ecfg)).run(
        seeds, resume=True)
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(set(urls)) == sorted(urls)
    assert set(urls) == set(pages_pdf.url)


def _w_crash_window(spark, tmp):
    """The full cluster-scale mode (pages_table fetch bucketing AND bucketed
    seen backend — both big joins read their bucketed table in place)
    killed BETWEEN a round's writes and its manifest commit: the crashed
    round leaves an orphan seen-table append tagged with the uncommitted
    round and an uncommitted fetched_log. Resume must restart from the
    last MANIFEST, deterministically re-run the round over the orphans
    (the seen read filters round <= committed so the orphan append is
    invisible until the identical delta recommits over it) and stay
    exactly-once."""
    cfg = GraphConfig(n_pages=60, n_hosts=3, crawl_delay_hosts=0,
                      robots_disallow_hosts=0, flaky_every=0)
    pages_pdf, robots_pdf, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    Engine.create_pages_table(
        spark, pages, "t_pages_cb", str(tmp / "pages_tbl"), buckets=4
    )

    ckpt = str(tmp / "cb")
    ecfg = dict(checkpoint_dir=ckpt, state_backend="bucketed",
                pages_table="t_pages_cb", fetch_buckets=4,
                state_partitions=4)
    eng = Engine(spark, None, None, CrawlConfig(max_rounds=3, **ecfg))
    eng.run(seeds)
    r_last, _ = eng.latest_round(ckpt)
    # simulate the crash window: all of round r_last's state (seen
    # append, fetched_log) is on disk, but the manifest never committed
    os.remove(os.path.join(ckpt, f"round={r_last:05d}", "MANIFEST.json"))
    _, manifest = eng.latest_round(ckpt)
    seen_tbl = spark.read.schema(schemas.SEEN).parquet(
        os.path.join(ckpt, manifest["seen_table_path"])
    )
    # the orphan seen append the resumed round's seen read must not see
    assert seen_tbl.filter(f"round = {r_last}").count() > 0
    # and the uncommitted round's log, which the resumed round overwrites
    assert os.path.isdir(os.path.join(ckpt, f"round={r_last:05d}", "fetched_log"))

    res = Engine(spark, None, None, CrawlConfig(max_rounds=50, **ecfg)).run(
        seeds, resume=True)
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(set(urls)) == sorted(urls)  # exactly-once despite orphans
    assert set(urls) == set(pages_pdf.url)  # full coverage after resume


def _w_resume_priority_ttl(spark, tmp):
    """Kill/resume exactly-once with the round-5 features ON together:
    a joined priority table reorders fetches and a TTL'd robots feed is in
    play — the resumed crawl must neither refetch nor lose pages."""
    from pyspark.sql import functions as F

    from ant_spark.functions.parse import make_links_udf
    from ant_spark.operators.graphops import pagerank, rank_priority_table
    from ant_spark.sources.webgraph import example_hub_site

    pages_pdf, robots_pdf, seeds = example_hub_site()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    links_udf = make_links_udf()
    edges = pages.select(
        F.col("url").alias("src"),
        F.explode(links_udf(F.col("url"), F.col("html"))).alias("dst"),
    )
    ptab = rank_priority_table(pagerank(edges, n_iter=3))
    feed = spark.createDataFrame(
        [("example.com", 200, "User-Agent: *\nDisallow:\n", None, None)],
        schema=schemas.ROBOTS,
    )
    ckpt = str(tmp / "ck")
    base = dict(
        ordering="bfs", host_rates={"example.com": 1},
        queue_policy="priority", priority_join=ptab,
        robots_max_age_seconds=2.0, checkpoint_dir=ckpt,
    )
    res1 = Engine(
        spark, pages, feed, CrawlConfig(max_rounds=2, **base)
    ).run(seeds)
    first = {r["url"] for r in res1.fetched_log.collect()}
    assert first == {"http://example.com/", "http://example.com/hub.html"}

    res2 = Engine(
        spark, pages, feed, CrawlConfig(max_rounds=12, **base)
    ).run(seeds, resume=True)
    rows = res2.fetched_log.orderBy("round").collect()
    order = [r["url"].rsplit("/", 1)[-1] or "/" for r in rows]
    assert order == ["/", "hub.html", "x.html", "p1.html", "p2.html"]
    # exactly-once: no url appears twice across the resumed log
    assert len({r["url"] for r in rows}) == len(rows)


def _w_seeds_in_round1_seen(spark, tmp):
    """Round 0 writes no state: the seeds are held in memory and enter
    round 1's seen delta. A seed linked from another seed (first round) or
    from a later page (second round) is never enqueued again."""
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def page(path, links):
        html = "".join(f'<a href="{h}">{h}</a>' for h in links)
        return {
            "url": f"http://s.test{path}", "warc_ts": base,
            "html": f"<html><body>{html}</body></html>".encode(),
            "text": "".join(links), "lang": "en", "status": 200,
            "ok_after_attempt": None,
        }

    pages_pdf = pd.DataFrame([
        page("/", ["/b.html", "/c.html"]),
        page("/b.html", ["/"]),
        page("/c.html", ["/", "/b.html", "/d.html"]),
        page("/d.html", ["/"]),
    ])
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    seeds = ["http://s.test/", "http://s.test/b.html"]
    ckpt = str(tmp / "ck")
    res = Engine(spark, pages, None, CrawlConfig(
        checkpoint_dir=ckpt, state_backend="parquet", expire_state_rounds=None,
    )).run(seeds)
    urls = [r["url"] for r in res.fetched_log.collect()]
    assert sorted(urls) == sorted(pages_pdf.url)  # each page exactly once
    assert res.urls_enqueued == 4
    assert not os.path.exists(os.path.join(ckpt, "round=00000"))
    delta = spark.read.parquet(os.path.join(ckpt, "round=00001", "seen_delta"))
    rows = {(r["url"], r["round"]) for r in delta.collect()}
    assert {(u, 0) for u in seeds} <= rows
    assert ("http://s.test/c.html", 1) in rows


class _Killed(RuntimeError):
    pass


class _KilledBeforeManifest(Engine):
    """Dies at its first MANIFEST commit: round 1's state, log and seen
    writes are on disk, its MANIFEST is not."""

    def _commit_round(self, root, r, manifest):
        raise _Killed(r)


def _w_kill_after_seed(spark, tmp):
    """Killed after seeding, before round 1's MANIFEST: with no MANIFEST a
    resume re-seeds, and every page is still fetched exactly once, in the
    same (url, seq, round) order as an unbroken crawl — in both backends."""
    cfg = GraphConfig(n_pages=40, n_hosts=2, crawl_delay_hosts=0,
                      robots_disallow_hosts=0, flaky_every=0)
    pages_pdf, _, seeds = generate(cfg)
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    for backend in ("parquet", "bucketed"):
        ckpt = str(tmp / backend)
        ecfg = dict(checkpoint_dir=ckpt, state_backend=backend,
                    state_partitions=4)
        with pytest.raises(_Killed):
            _KilledBeforeManifest(spark, pages, None, CrawlConfig(**ecfg)).run(seeds)
        assert os.path.isdir(os.path.join(ckpt, "round=00001", "fetched_log"))
        assert not os.path.exists(os.path.join(ckpt, "round=00001", "MANIFEST.json"))
        assert not os.path.exists(os.path.join(ckpt, "round=00000"))
        res = Engine(spark, pages, None, CrawlConfig(**ecfg)).run(seeds, resume=True)
        log = [(r["url"], r["seq"], r["round"]) for r in res.fetched_log.collect()]
        assert sorted({u for u, _, _ in log}) == sorted(pages_pdf.url), backend
        assert len(log) == len(pages_pdf), backend  # exactly once
        unbroken = Engine(spark, pages, None, CrawlConfig(
            state_backend=backend, state_partitions=4)).run(seeds)
        want = sorted((r["url"], r["seq"], r["round"])
                      for r in unbroken.fetched_log.collect())
        assert sorted(log) == want, backend


def _check_stage_counters(res, n_seeds):
    """Each round's counters are per-partition rows (partition >= 0) that
    add up to the round's MANIFEST stages, its status-200 log rows and its
    growth of total_enqueued. Every MANIFEST also times each phase."""
    rows = res.metrics.collect()
    assert rows and all(m["partition"] >= 0 for m in rows), rows
    per_round = {}
    for m in rows:
        stages = per_round.setdefault(m["round"], {})
        stages[m["stage"]] = stages.get(m["stage"], 0) + m["n"]
    manifests = {}
    for name in os.listdir(res.state_dir):
        path = os.path.join(res.state_dir, name, "MANIFEST.json")
        if name.startswith("round=") and os.path.exists(path):
            with open(path) as f:
                manifests[int(name.split("=")[1])] = json.load(f)
    phases = {"robots_admit", "fetch_parse", "discover_dedupe", "commit",
              "housekeep"}
    for r, man in manifests.items():
        assert set(man["phases"]) == phases, (r, man["phases"])
        assert all(s >= 0 for s in man["phases"].values()), (r, man["phases"])
    ok_rows = Counter(
        r["round"] for r in res.fetched_log.filter("status = 200").collect()
    )
    for r, stages in per_round.items():
        man = manifests[r + 1]  # round r commits the manifest of round r+1
        assert stages == man["stages"], (r, stages, man["stages"])
        assert stages.get("fetched", 0) == ok_rows[r], r
        before = manifests[r]["total_enqueued"] if r in manifests else n_seeds
        assert stages.get("enqueued", 0) == man["total_enqueued"] - before, r


_WORKERS = {
    "golden": _w_golden,
    "matcher": _w_matcher,
    "retry": _w_retry,
    "synthetic": _w_synthetic,
    "compaction": _w_compaction,
    "bucketed_state": _w_bucketed_state,
    "bucketed_pages": _w_bucketed_pages,
    "auto_switch": _w_auto_switch,
    "bucketed_compaction": _w_bucketed_compaction,
    "crash_window": _w_crash_window,
    "resume_priority_ttl": _w_resume_priority_ttl,
    "seeds_in_round1_seen": _w_seeds_in_round1_seen,
    "kill_after_seed": _w_kill_after_seed,
}


@pytest.fixture(scope="module")
def e2e(spark, tmp_path_factory):
    """Run all 13 independent crawl sequences concurrently; each test below
    owns one future and re-raises its worker's failure (full traceback), so
    a broken sequence fails ITS test, not the fixture."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_WORKERS)) as ex:
        futs = {
            name: ex.submit(fn, spark, tmp_path_factory.mktemp(f"e2e_{name}"))
            for name, fn in _WORKERS.items()
        }
    return futs


def test_golden_crawl_visited_set_and_bfs_order(e2e):
    e2e["golden"].result()


def test_stage_counters_per_partition_match_manifest(e2e):
    # golden, bucketed seen state (resumed) and pages_table crawls
    for name in ("golden", "bucketed_state", "bucketed_pages"):
        _check_stage_counters(e2e[name].result(), n_seeds=1)


def test_matcher_limits_crawl(e2e):
    e2e["matcher"].result()


def test_retry_and_dead_letter(e2e):
    e2e["retry"].result()


def test_synthetic_graph_full_coverage_and_resume(e2e):
    e2e["synthetic"].result()


def test_seen_compaction_and_state_expiry(e2e):
    e2e["compaction"].result()


def test_bucketed_state_backend_golden_and_resume(e2e):
    e2e["bucketed_state"].result()


def test_bucketed_pages_fetch_golden(e2e):
    e2e["bucketed_pages"].result()


def test_auto_backend_switch_midcrawl(e2e):
    e2e["auto_switch"].result()


def test_bucketed_seen_table_compaction(e2e):
    e2e["bucketed_compaction"].result()


def test_bucketed_both_crash_between_stage_and_commit(e2e):
    e2e["crash_window"].result()


def test_resume_with_priority_join_and_robots_ttl(e2e):
    e2e["resume_priority_ttl"].result()


def test_seeds_enter_round1_seen_delta(e2e):
    e2e["seeds_in_round1_seen"].result()


def test_kill_after_seed_resumes_exactly_once(e2e):
    e2e["kill_after_seed"].result()
