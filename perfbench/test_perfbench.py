"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import urllib.parse

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import hoststats  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import WORKLOADS, make_graph, rename_hosts  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _linked_urls(graph) -> set[str]:
    """Every http(s) URL a graph's pages or seeds point at, normalized
    (mailto: and javascript: hrefs are the same constants in every graph
    and are dropped by the engine's scheme filter)."""
    from ant_spark.functions.htmldom import stream_extract
    from ant_spark.functions.urlnorm import normalize_or_none

    pages, _, seeds = graph
    out = set(pages.url) | set(seeds)
    for u, h in zip(pages.url, pages.html):
        for href in stream_extract(h)[1]:
            n = normalize_or_none(urllib.parse.urljoin(u, href))
            if n and n.startswith("http"):
                out.add(n)
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_warmup_graphs_share_no_url_with_timed_graphs(name):
    canonical = make_graph(WORKLOADS[name].graph, 5)
    warm_urls = set().union(*(_linked_urls(rename_hosts(canonical, f"w{i}")) for i in range(2)))
    for tag in (None, "t1", "t2"):
        assert not warm_urls & _linked_urls(rename_hosts(canonical, tag))
    # the renamed copies are also disjoint from each other
    assert not _linked_urls(rename_hosts(canonical, "t1")) & _linked_urls(canonical)


def test_rename_hosts_moves_every_host_spelling():
    pages, robots, seeds = rename_hosts(make_graph(WORKLOADS["crawl_bucketed"].graph, 3), "t1")
    for html in pages.html:
        s = html.decode("utf-8").lower()
        assert ".test" not in s.replace(".t1.test", "")
    assert all(h.endswith(".t1.test") for h in robots.host)
    assert all(".t1.test/" in s for s in seeds)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_changes_the_crawl_inputs(name):
    fields = WORKLOADS[name].graph
    a, b, a2 = make_graph(fields, 1), make_graph(fields, 2), make_graph(fields, 1)
    assert list(a[0].html) == list(a2[0].html)
    assert list(a[0].html) != list(b[0].html)


def test_reachable_within_matches_the_repository_reference():
    from ant_spark.sources.webgraph import reachable_public

    pages, _, seeds = make_graph(dict(n_pages=300, n_hosts=8, flaky_every=0,
                                      crawl_delay_hosts=0), 4)
    assert checks.reachable_within(pages, seeds, None) == reachable_public(pages, seeds)
    one = checks.reachable_within(pages, seeds, 1)
    assert one == {s for s in seeds if s in set(pages.url)}


def _fake_run() -> workloads.RunResult:
    rec = workloads.CrawlRecord(
        tag="t0", setup_s=0.5, wall_s=10.0, fetched=500,
        rounds=2, round_s=[6.0, 4.0],
        stages={"eligible": 600, "robots_denied": 40, "fetched": 500, "enqueued": 900},
        links_extracted=3000, state_files=40, state_bytes=10**6,
        jobs=50, tasks=400, gc_s=0.3,
    )
    return workloads.RunResult(warmup=rec, timed=[rec], setup_s=[0.4, 0.5, 0.6],
                               first_timed_call=0.0)


def _probe_names() -> set[str]:
    crawl = {
        "parse.us_per_page", "parse.udf_s", "urlnorm.us_per_url", "urlnorm.udf_s",
        "robots.join_s", "politeness.split_s", "dedupe.first_occurrence_s",
        "dedupe.exact_new_s", "engine.pages_table_s",
    }
    ops = {f"ops.{q}.{k}" for q in probes.OPS_QUERIES for k in ("s", "exchanges")}
    return crawl | ops | {"ops.query_s_total", "trace.urls_per_s", "trace.round_s_p50"}


def test_every_metric_is_emitted_with_its_unit():
    res = _fake_run()
    e2e = workloads.end_to_end(res, session_s=8.0, peak_rss_bytes=2**30)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    line = run.result_line(SPEC["end_to_end"], e2e, [("ok", True, "")])
    for m in SPEC["end_to_end"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
        assert line["metrics"][m["name"]]["value"] > 0

    layer = set(workloads.engine_layer(res)) | _probe_names()
    assert layer == {m["name"] for m in SPEC["per_layer"]}


def test_issue_metrics_are_declared():
    names = {m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for n in [
        "urls_per_s", "round_s_p50", "setup_s", "peak_rss_mb", "ops.query_s_total",
        "engine.jobs_per_round", "engine.tasks_per_round", "engine.files_per_round",
        "engine.state_bytes_per_page", "engine.admit_frac", "engine.fetch_ok_frac",
        "engine.new_link_frac", "engine.pages_table_s", "parse.us_per_page",
        "parse.udf_s", "urlnorm.us_per_url", "urlnorm.udf_s", "robots.join_s",
        "politeness.split_s", "dedupe.first_occurrence_s", "dedupe.exact_new_s",
        "jvm.gc_s",
    ]:
        assert n in names
    assert len(probes.OPS_QUERIES) == 22


def test_engine_ratios_from_manifest_stages():
    layer = workloads.engine_layer(_fake_run())
    assert layer["engine.admit_frac"] == pytest.approx(560 / 600)
    assert layer["engine.fetch_ok_frac"] == pytest.approx(500 / 560)
    assert layer["engine.new_link_frac"] == pytest.approx(900 / 3000)
    assert layer["engine.jobs_per_round"] == 25


def test_broken_output_raises_failed_frac():
    pages, _, seeds = make_graph(dict(n_pages=60, n_hosts=4, flaky_every=0), 9)
    right = sorted(checks.reachable_within(pages, seeds, 2))
    ok = checks.check_bfs(pages, seeds, 2, right)
    assert run.result_line(SPEC["end_to_end"][:0], {}, ok)["failed"] == 0

    for broken in (right[1:], right + right[:1], right + ["http://h0.test/nowhere"]):
        line = run.result_line(SPEC["end_to_end"][:0], {}, checks.check_bfs(pages, seeds, 2, broken))
        assert line["failed"] > 0 and not line["correct"]
        assert line["failed"] / line["attempted"] > 0

    bulk = make_graph(WORKLOADS["crawl_bulk"].graph, 9)[0]
    fetched = [u for u in bulk.url if "/private/" not in u]
    assert all(ok for _, ok, _ in checks.check_bulk(bulk, fetched))
    assert not all(ok for _, ok, _ in checks.check_bulk(bulk, fetched + ["http://x.test/"]))


def test_rss_skips_a_jvm_child_before_exec(monkeypatch):
    exe = {1: "/jvm/bin/java", 2: "/jvm/bin/java", 3: "/bin/chmod",
           4: "/usr/bin/python3", 5: "/usr/bin/python3"}
    monkeypatch.setattr(hoststats, "_exe", exe.get)
    assert hoststats._spawning(2, 1)  # vforked, shares the JVM's memory
    assert not hoststats._spawning(3, 1)  # exec'd: its own memory
    assert not hoststats._spawning(5, 4)  # a forked Python worker has its own


def test_refuses_to_run_without_the_program(tmp_path, capsys):
    # a copy holding only the benchmark: no ant_spark package next to it
    argv = ["--workload", "crawl_bulk", "--seed", "1", "--seconds", "1"]
    assert run.main(argv, root=str(tmp_path)) != 0
    assert capsys.readouterr().out == ""
