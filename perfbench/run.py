"""Crawl benchmark for ant_spark: one workload per process.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Starts a Spark session at
``local[<cpus / 2>]``, runs the workload (see README.md next to this file),
checks its output and prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1`` its
``per_layer`` list. The line before it is a diagnostics object (host
noise, per-crawl figures, failed checks) that is not a metric. Everything
the run writes stays under ``.bench_work/`` in the checkout (removed at
exit) and, for traced runs, the span file under ``.bench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# driver heap; ample for these inputs on a shared machine
HEAP = "2g"


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: str):
    from ant_spark.session import get_spark

    # half the vCPUs run tasks; the rest are left to the driver's own
    # threads (planning, scheduling, JIT, GC, py4j) and to the host. The
    # per-round floor runs on the driver, so a warm crawl takes as long at
    # local[2] as at local[3] on 4 vCPUs (README.md, "Measured")
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    return get_spark(
        app_name="ant_spark_perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            # the repository's bench.py setting for local[N]
            "spark.sql.shuffle.partitions": str(max(8, cpus)),
            # keep every byte the run writes inside the checkout
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap, touched at start: how far G1 grows a heap
            # varied by hundreds of MB from run to run, so peak_rss_mb
            # moves with everything but the heap (README.md)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work} -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.driver.memory": HEAP,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # PythonGatewayServer exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def result_line(wanted: list[dict], values: dict, checks: list) -> dict:
    """The final stdout object: the ``wanted`` metrics by name with their
    units, and the output checks as attempted/failed counts."""
    failed = sum(1 for _, ok, _ in checks if not ok)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main(argv: list[str] | None = None, root: str = ROOT) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(root, "ant_spark", "engine.py")):
        print(f"perfbench: no ant_spark package under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from hoststats import HostNoise, TreeSampler

    noise = HostNoise()
    spark = None
    try:
        with TreeSampler() as rss:
            spark = start_spark(work)
            session_s = time.time() - t_proc
            tracer, probe_checks = None, []
            if args.trace:
                from tracer import Tracer

                tracer = Tracer(spark)
            res = workloads.run(spark, wl, args.seed, args.seconds, work, tracer)
            if tracer:
                import probes

                layer = workloads.engine_layer(res)
                probed, probe_checks = probes.run_all(spark, wl, args.seed, work, tracer)
                layer.update(probed)
                e2e = workloads.end_to_end(res, session_s, rss.peak_bytes)
                layer["trace.urls_per_s"] = e2e["urls_per_s"]
                layer["trace.round_s_p50"] = e2e["round_s_p50"]
        stop_spark(spark)
        spark = None
        values = layer if args.trace else workloads.end_to_end(res, session_s, rss.peak_bytes)
        if args.trace:
            os.makedirs(os.path.join(root, ".bench_traces"), exist_ok=True)
            tracer.dump(os.path.join(
                root, ".bench_traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    checks = res.checks + probe_checks
    failed = [c for c in checks if not c[1]]
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "host_noise": noise.read(),
        "failed_frac": len(failed) / len(checks),
        "failed_checks": [f"{n}: {d}" for n, _, d in failed],
        "first_timed_call_s": res.first_timed_call - t_proc,
        "session_s": session_s,
        "input_setup_s": res.setup_s,
        "warmup_s": res.warmup.wall_s,
        "timed": [
            {"tag": r.tag, "wall_s": r.wall_s, "fetched": r.fetched,
             "rounds": r.rounds, "round_s": r.round_s, "setup_s": r.setup_s}
            for r in res.timed
        ],
        "total_s": time.time() - t_proc,
    }
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result_line(spec["per_layer" if args.trace else "end_to_end"], values, checks)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
