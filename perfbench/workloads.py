"""The crawl workloads: inputs from the seed, warm-up, timed crawls.

Every workload crawls graphs made by ``sources.webgraph.generate`` from
the run's seed. A run warms up on a host-renamed copy of the graph
(``hN.test`` → ``hN.w0.test``), then times crawls of the canonical graph
and, when ``--seconds`` asks for more than one, of further copies
(``hN.tK.test``), so that no timed crawl meets a URL an earlier crawl of
the process has seen: the per-worker URL-normalize cache would otherwise
serve hits a real crawl never gets.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from checks import check_bfs, check_bulk

# Rich 4 KB pages: 8 paragraphs of 40-80 words with inline marks.
_HEAVY = dict(rich_markup=True, n_paras=8, para_min=40, para_max=80)
# buckets of every pages table and bucketed state table: 2 per vCPU here
BUCKETS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    graph: dict  # GraphConfig fields of the timed graph (seed added per run)
    crawl: dict  # CrawlConfig fields
    bulk: bool = False  # seed every page as a DataFrame; else BFS from the host roots
    pages_table: bool = False  # stage the corpus with Engine.create_pages_table
    crawl_s: float = 8.0  # nominal seconds of one warm timed crawl on 4 vCPUs


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="crawl_bulk",
            graph=dict(n_pages=600, n_hosts=16, crawl_delay_hosts=0, flaky_every=0, **_HEAVY),
            crawl=dict(max_rounds=1),
            bulk=True,
        ),
        Workload(
            name="crawl_bucketed",
            graph=dict(n_pages=1200, n_hosts=16, crawl_delay_hosts=0, flaky_every=0),
            crawl=dict(max_rounds=2, state_backend="bucketed"),
            pages_table=True,
            crawl_s=20.0,
        ),
    ]
}


def rename_hosts(graph: tuple, tag: str | None) -> tuple:
    """Copy of ``(pages, robots, seeds)`` with every ``.test`` host moved
    under ``.<tag>.test`` — in urls, html, text and robots rows."""
    if tag is None:
        return graph
    pages, robots, seeds = graph

    def sub(s: str) -> str:
        return s.replace(".test", f".{tag}.test").replace(".TEST", f".{tag.upper()}.TEST")

    pages = pages.copy()
    pages["url"] = pages.url.map(sub)
    pages["html"] = pages.html.map(lambda b: sub(b.decode("utf-8")).encode("utf-8"))
    pages["text"] = pages.text.map(sub)
    robots = robots.copy()
    robots["host"] = robots.host.map(sub)
    return pages, robots, [sub(s) for s in seeds]


def make_graph(fields: dict, seed: int) -> tuple:
    """``(pages, robots, seeds)``; BFS seeds are every host's root page."""
    from ant_spark.sources.webgraph import GraphConfig, generate, page_url

    cfg = GraphConfig(seed=seed, **fields)
    pages, robots, _ = generate(cfg)
    return pages, robots, [page_url(cfg, h, 0) for h in range(cfg.n_hosts)]


@dataclass
class CrawlRecord:
    """What one crawl left behind, read from outside the engine."""

    tag: str
    setup_s: float  # input load (+ create_pages_table)
    wall_s: float  # the Engine.run call
    fetched: int
    rounds: int
    round_s: list[float]  # from MANIFEST.json mtimes
    stages: dict[str, int]  # MANIFEST stage counters summed over rounds
    links_extracted: int  # sum of fetched_log.n_links
    state_files: int
    state_bytes: int
    jobs: int = 0  # traced runs only: Spark job-id delta
    tasks: int = 0
    gc_s: float = 0.0
    checks: list = field(default_factory=list)


def _manifests(root: str) -> list[tuple[float, dict]]:
    out = []
    for path in glob.glob(os.path.join(root, "round=*", "MANIFEST.json")):
        with open(path) as f:
            out.append((os.path.getmtime(path), json.load(f)))
    return sorted(out, key=lambda m: m[1]["round"])


def _state_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


@dataclass
class Inputs:
    """One graph loaded into Spark, ready for ``Engine.run``."""

    pages_pdf: object
    pages: object  # persisted pages DataFrame
    robots: object
    seeds: object  # list of URLs, or a DataFrame for a bulk crawl
    table: str | None  # pages table, when the workload stages one
    table_path: str | None
    setup_s: float


def set_up(spark, wl: Workload, graph: tuple, tag: str, work: str) -> Inputs:
    """Load a graph (and stage its pages table); timed as set-up."""
    from ant_spark import schemas
    from ant_spark.engine import Engine

    pages_pdf, robots_pdf, seeds = graph
    t0 = time.perf_counter()
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES).persist()
    pages.count()
    robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
    if wl.bulk:
        seeds = spark.createDataFrame([(u,) for u in pages_pdf.url], "url string")
    table = path = None
    if wl.pages_table:
        table, path = f"bench_pages_{tag}", os.path.join(work, f"pt_{tag}")
        Engine.create_pages_table(spark, pages, table, path, buckets=BUCKETS)
    return Inputs(pages_pdf, pages, robots, seeds, table, path, time.perf_counter() - t0)


def tear_down(spark, inp: Inputs) -> None:
    inp.pages.unpersist()
    if inp.table:
        spark.sql(f"DROP TABLE IF EXISTS {inp.table}")
        shutil.rmtree(inp.table_path, ignore_errors=True)


def crawl_graph(spark, wl: Workload, graph: tuple, tag: str, work: str,
                tracer=None, warm: bool = False) -> CrawlRecord:
    """Set up one graph, crawl it once (timed), read back and check. A
    warm-up crawl runs one round and skips the checks."""
    from ant_spark.engine import CrawlConfig, Engine

    inp = set_up(spark, wl, graph, tag, work)
    cfg = dict(wl.crawl, checkpoint_dir=os.path.join(work, f"ck_{tag}"))
    if warm:
        cfg["max_rounds"] = 1
    if inp.table:
        cfg.update(pages_table=inp.table, fetch_buckets=BUCKETS, state_partitions=BUCKETS)
    engine = Engine(spark, inp.pages, inp.robots, CrawlConfig(**cfg))

    mark = tracer.mark() if tracer else None
    start = time.time()
    res = engine.run(inp.seeds)
    wall_s = time.time() - start
    counts = tracer.since(mark, f"engine.run[{tag}]", start, start + wall_s) if tracer else {}

    log = res.fetched_log.select("url", "n_links").toPandas()
    manifests = _manifests(res.state_dir)
    ends = [start] + [m[0] for m in manifests]
    stages: dict[str, int] = {}
    for _, m in manifests:
        for k, v in m["stages"].items():
            stages[k] = stages.get(k, 0) + v
    files, size = _state_size(res.state_dir)
    rec = CrawlRecord(
        tag=tag,
        setup_s=inp.setup_s,
        wall_s=wall_s,
        fetched=res.pages_fetched,
        rounds=res.rounds,
        round_s=[b - a for a, b in zip(ends, ends[1:])],
        stages=stages,
        links_extracted=int(log.n_links.fillna(0).sum()),
        state_files=files,
        state_bytes=size,
        **counts,
    )
    if not warm:
        urls = list(log.url)
        rec.checks.append(
            ("fetched_count_matches_log", res.pages_fetched == len(urls),
             f"engine {res.pages_fetched} vs log {len(urls)}")
        )
        if wl.bulk:
            rec.checks += check_bulk(inp.pages_pdf, urls)
        else:
            rec.checks += check_bfs(inp.pages_pdf, graph[2], wl.crawl["max_rounds"], urls)

    tear_down(spark, inp)
    shutil.rmtree(res.state_dir, ignore_errors=True)
    return rec


@dataclass
class RunResult:
    warmup: CrawlRecord
    timed: list[CrawlRecord]
    setup_s: list[float]  # warm input set-ups: the timed crawls' and the extra ones
    first_timed_call: float  # wall clock of the first timed Engine.run

    @property
    def checks(self) -> list:
        return [c for r in self.timed for c in r.checks]


def run(spark, wl: Workload, seed: int, seconds: float, work: str, tracer=None) -> RunResult:
    """Warm up with one crawl, then time ``round(seconds / wl.crawl_s)``
    crawls (at least one). The count depends only on ``seconds``, never on
    how fast the crawls went, so every run does the same work. Set-up time
    is the median of three set-ups: the timed crawls' own, and extra ones
    (the graph loaded, then dropped uncrawled) when fewer than three
    crawls are timed."""
    canonical = make_graph(wl.graph, seed)
    warmup = crawl_graph(spark, wl, rename_hosts(canonical, "w0"), "w0", work, warm=True)
    n = max(1, round(seconds / wl.crawl_s))
    setups = []
    for tag in [f"s{i}" for i in range(max(0, 3 - n))]:
        inp = set_up(spark, wl, rename_hosts(canonical, tag), tag, work)
        tear_down(spark, inp)
        setups.append(inp.setup_s)
    first = time.time()
    timed = [
        crawl_graph(spark, wl, rename_hosts(canonical, f"t{i}" if i else None), f"t{i}",
                    work, tracer)
        for i in range(n)
    ]
    return RunResult(warmup, timed, setups + [r.setup_s for r in timed], first)


def end_to_end(res: RunResult, session_s: float, peak_rss_bytes: int) -> dict:
    """The end-to-end metrics of one untraced run, by name."""
    return {
        "urls_per_s": statistics.median(r.fetched / r.wall_s for r in res.timed),
        "round_s_p50": statistics.median(s for r in res.timed for s in r.round_s),
        "setup_s": session_s + statistics.median(res.setup_s),
        "peak_rss_mb": peak_rss_bytes / 2**20,
    }


def engine_layer(res: RunResult) -> dict:
    """Per-layer engine metrics of a traced run, summed over timed crawls."""
    rounds = sum(r.rounds for r in res.timed)
    st: dict[str, int] = {}
    for r in res.timed:
        for k, v in r.stages.items():
            st[k] = st.get(k, 0) + v
    eligible = st.get("eligible", 0)
    admitted = eligible - st.get("robots_denied", 0) - st.get("deferred", 0)
    fetched = sum(r.fetched for r in res.timed)
    return {
        "engine.jobs_per_round": sum(r.jobs for r in res.timed) / rounds,
        "engine.tasks_per_round": sum(r.tasks for r in res.timed) / rounds,
        "engine.files_per_round": sum(r.state_files for r in res.timed) / rounds,
        "engine.state_bytes_per_page": sum(r.state_bytes for r in res.timed) / fetched,
        "engine.admit_frac": admitted / eligible,
        "engine.fetch_ok_frac": st.get("fetched", 0) / admitted,
        "engine.new_link_frac": st.get("enqueued", 0)
        / sum(r.links_extracted for r in res.timed),
        "jvm.gc_s": sum(r.gc_s for r in res.timed),
    }

