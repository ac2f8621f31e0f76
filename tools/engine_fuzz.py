"""Randomized engine-config fuzz: crawl invariants across the config space.

Samples random (graph, CrawlConfig) combinations — dedupe mode, ordering,
state backend, queue policy, rates, max_depth, compaction/expiry cadence —
runs the full engine, and asserts the contracts that must hold for EVERY
configuration:

- exactly-once: no URL fetched twice;
- never fetch robots-denied URLs;
- seq values globally unique;
- lossless dedupe modes visit exactly the REACHABLE public set — computed
  by a plain-Python BFS over the page graph (stream_extract hrefs +
  urljoin + normalize), where robots-denied pages are never fetched and so
  never contribute links (pages linked only from /private/ are
  legitimately unreachable); *_drop modes never over-crawl;
- per-row invariant: extracted text byte-equal to the generator's.

Usage: python tools/engine_fuzz.py [n_configs] [seed]  (default 12, 1)
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_cfgs = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    rng = random.Random(seed)

    from ant_spark import schemas
    from ant_spark.engine import CrawlConfig, Engine
    from ant_spark.session import get_spark
    from ant_spark.sources.webgraph import (
        GraphConfig,
        generate,
        host_name,
        reachable_public,
    )

    spark = get_spark(
        app_name="engine_fuzz",
        master="local[16]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )

    failures = 0
    for i in range(n_cfgs):
        gcfg = GraphConfig(
            n_pages=rng.choice([40, 80, 150]),
            n_hosts=rng.choice([1, 2, 4]),
            fanout=rng.choice([2, 4, 8]),
            seed=rng.randint(1, 10_000),
            robots_disallow_hosts=rng.choice([0, 1]),
            crawl_delay_hosts=rng.choice([0, 1]),
            crawl_delay=rng.choice([0.2, 0.5]),
            flaky_every=rng.choice([0, 7]),
            dangling_every=rng.choice([0, 5]),
        )
        ccfg = CrawlConfig(
            dedupe=rng.choice(
                ["exact", "exact", "bloom_prefilter", "cuckoo_prefilter", "bloom_drop"]
            ),
            ordering=rng.choice(["partitioned", "bfs"]),
            state_backend=rng.choice(["auto", "parquet", "bucketed"]),
            queue_policy=rng.choice(["fifo", "priority"]),
            global_rate=rng.choice([None, None, 20]),
            host_rates=(
                {host_name(gcfg, 0): rng.choice([2, 5])} if rng.random() < 0.4 else {}
            ),
            max_rounds=60,
            bloom_bits=1 << 18,
        )
        # a retired option's draw, discarded: keeps `engine_fuzz N <seed>`
        # drawing the same graphs and configs as earlier versions
        rng.choice([1, 1, 8])
        ccfg.max_depth = rng.choice([None, None, 3])
        ccfg.seen_compact_every = rng.choice([4, 16])
        ccfg.expire_state_rounds = rng.choice([2, None])
        ccfg.bucketed_switch_rows = rng.choice([30, 1_000_000])
        pages_pdf, robots_pdf, seeds = generate(gcfg)
        pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
        robots = spark.createDataFrame(robots_pdf, schema=schemas.ROBOTS)
        # bucketed fetch dimension: the url-bucketed pages table must be
        # semantics-invisible (same visited set / order) under EVERY config
        if rng.random() < 0.3:
            import tempfile

            nb = rng.choice([4, 8])
            Engine.create_pages_table(
                spark, pages, f"fuzz_pages_{i}",
                tempfile.mkdtemp(prefix=f"fuzz_pt_{i}_") + "/t",
                buckets=nb,
            )
            ccfg.pages_table = f"fuzz_pages_{i}"
            ccfg.fetch_buckets = nb
        t = time.time()
        try:
            res = Engine(spark, pages, robots, ccfg).run(seeds)
            log = res.fetched_log.collect()
            urls = [r["url"] for r in log]
            assert sorted(set(urls)) == sorted(urls), "URL fetched twice"
            assert all("/private/" not in u for u in urls), "robots violated"
            seqs = [r["seq"] for r in log]
            assert len(set(seqs)) == len(seqs), "seq collision"
            golden = dict(zip(pages_pdf.url, pages_pdf.text))
            for r in log:
                assert r["text"] == golden[r["url"]], f"text mismatch {r['url']}"
            expect = reachable_public(pages_pdf, seeds)
            # completeness only when the crawl TERMINATED on its own
            # (frontier drained): a binding rate limit can legitimately
            # leave work queued at the max_rounds cutoff.
            finished = res.rounds < (ccfg.max_rounds or 10**9)
            if ccfg.max_depth is None and finished:
                if ccfg.dedupe.endswith("_drop"):
                    assert set(urls) <= expect, "drop mode over-crawled"
                else:
                    assert set(urls) == expect, (
                        f"missed {len(expect - set(urls))}, "
                        f"extra {len(set(urls) - expect)}"
                    )
            else:
                assert set(urls) <= expect
            status = "OK"
        except AssertionError as e:
            status = f"FAIL: {e}"
            failures += 1
        print(
            f"[{i:02d}] {status} ({time.time() - t:.1f}s) pages={gcfg.n_pages} "
            f"dedupe={ccfg.dedupe} order={ccfg.ordering} "
            f"backend={ccfg.state_backend}/{ccfg.bucketed_switch_rows} "
            f"queue={ccfg.queue_policy} "
            f"rates={bool(ccfg.host_rates)} global={ccfg.global_rate} "
            f"depth={ccfg.max_depth} delayhosts={gcfg.crawl_delay_hosts} "
            f"flaky={gcfg.flaky_every} pages_tbl={ccfg.pages_table is not None}",
            flush=True,
        )
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {n_cfgs - failures}/{n_cfgs} configs clean")
    sys.exit(0 if failures == 0 else 1)


if __name__ == "__main__":
    main()
