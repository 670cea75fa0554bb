"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload epoch_drain --seed 1 --seconds 12 --trace 0

Runs one workload against the engine in this checkout (``local[n]``,
n <= 4), checks every output against an independent oracle, and prints
as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  A line before it holds the
run's record: inputs, per-operation samples, load average and oracle
breakdown.  Traced runs also write their spans to
``.perfbench_out/<workload>-seed<seed>.spans.jsonl``.  Everything the run
writes stays under the checkout; ``.perfbench_work`` is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_FEEDS = 1000
E2E_UNITS = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "api_read_ms_p50": "ms",
    "state_bytes_per_url": "B/url",
    "peak_rss_mb": "MB",
}
# the first set-up also pays for cold JVM code, and the median leaves it
# out; five set-ups measured a little steadier, but cost 5 s a run that the
# benchmark's time budget does not have in the machine's slow phases
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("epoch_drain", "epoch_steady"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--feeds", type=int, default=DEFAULT_FEEDS,
                   help="corpus size N (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "podcast_crawler_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.proctree import PeakRss, load1m, measure

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with PeakRss() as rss:
            record, result = _run(args, work, load1m, measure)
        if not args.trace:
            result["metrics"]["peak_rss_mb"] = {"value": rss.peak_mb, "unit": E2E_UNITS["peak_rss_mb"]}
        record["peak_rss_mb"] = rss.peak_mb
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


def _run(args, work, load1m, measure):
    from perfbench import oracle, workloads
    from perfbench.corpus import describe, feed_window
    from perfbench.session import CORES, start_session, stop_session
    from perfbench.stats import median, ratio, tail

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cores": CORES, "load1m_start": load1m()}
    window = feed_window(args.seed, args.feeds)
    record["corpus"] = describe(window)

    t0 = time.perf_counter()
    spark = start_session(ROOT, work, CORES)
    record["session_s"] = time.perf_counter() - t0
    try:
        from podcast_crawler_spark.operators.frontier import CrawlConfig

        init_cfg = CrawlConfig(num_partitions=2 * CORES)
        setups = []
        for rep in range(SETUP_REPS):
            (corpus, template), cost = measure(
                lambda: workloads.setup(spark, work, window, CORES, init_cfg, str(rep))
            )
            setups.append(cost)
        record["setup_costs"] = setups

        ctx = workloads.Ctx(spark, work, args.seconds, CORES, corpus, template,
                            con=oracle.connect())
        if args.trace:
            from perfbench.tracing import StageLog, Tracer

            ctx.tracer = Tracer(StageLog(spark), f"{args.workload}-seed{args.seed}")
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        record["workload_s"] = time.perf_counter() - t0
        record.update(res.detail)
        record["wrong_rows"] = res.wrong
        record["op_walls"] = res.op_walls
        record["op_urls"] = res.op_urls
        record["op_cpu_s"] = res.op_cpu
        record["op_unstolen_s"] = res.op_unstolen
        wrong = sum(res.wrong.values())
        if args.trace:
            from perfbench.layermetrics import PER_LAYER, layer_metrics

            values = layer_metrics(res, ctx.tracer, CORES, workloads.feedparse_kernel(ctx))
            metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{ctx.tracer.run_id}.spans.jsonl")
            ctx.tracer.dump(path)
            record["spans_file"] = os.path.relpath(path, ROOT)
            record["traced_step_walls"] = [s.wall for s in res.primary]
        else:
            # one run holds too few reads for a tail above the median; the
            # record keeps the highest percentile its samples support
            tail_ms, pct = tail(res.read_unstolen_ms)
            record["api_read_samples"] = len(res.read_unstolen_ms)
            record["api_read_tail"] = {"percentile": pct, "ms": tail_ms}
            # plain wall clock, steal included, and CPU cost
            record["urls_per_wall_s"] = median([u / w for u, w in zip(res.op_urls, res.op_walls)])
            record["api_read_wall_ms_p50"] = median([ms for v in res.read_ms.values() for ms in v])
            record["urls_per_cpu_s"] = median([u / c for u, c in zip(res.op_urls, res.op_cpu)])
            record["api_read_cpu_ms_p50"] = median(res.read_cpu_ms)
            values = {
                "setup_s": median([c.unstolen for c in setups]),
                "urls_per_s": median([u / w for u, w in zip(res.op_urls, res.op_unstolen)]),
                "api_read_ms_p50": median(res.read_unstolen_ms),
                "state_bytes_per_url": res.state_bytes_per_url,
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        record["failed_op_share"] = ratio(res.failed, res.attempted)
        result = {
            "correct": wrong == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        record["stop_s"] = time.perf_counter() - t0
    record["load1m_end"] = load1m()
    return record, result


if __name__ == "__main__":
    sys.exit(main())
