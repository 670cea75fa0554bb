"""Per-layer metrics of a traced run, assembled from its spans.

Per-step values are medians over the run's traced steps (epochs, or
admission passes); every ratio names its base in ``PER_LAYER``.
"""

from __future__ import annotations

from typing import Dict, List

from .stats import median, ratio
from .tracing import Span, Tracer

# name -> (unit, better, what it is)
PER_LAYER = {
    "frontier.schedule_s": ("s", "lower", "schedule_epoch, materialized"),
    "frontier.due_rows": ("rows", "higher", "frontier rows due before robots and budget"),
    "frontier.scheduled_rows": ("rows", "higher", "rows schedule_epoch selected"),
    "frontier.schedule_task_skew": ("ratio", "lower", "max / median task run time, schedule's largest stage"),
    "frontier.schedule_shuffle_bytes": ("B", "lower", "shuffle bytes written while scheduling"),
    "frontier.update_s": ("s", "lower", "apply_epoch_results + stage lineage, materialized"),
    "fetch.s": ("s", "lower", "fetch_join_bucketed, materialized"),
    "fetch.rows": ("rows", "higher", "rows out of the fetch join"),
    "fetch.hit_ratio": ("ratio", "higher", "fetch_ok rows / fetch rows"),
    "fetch.shuffle_bytes": ("B", "lower", "shuffle bytes written by the fetch join"),
    "parse.s": ("s", "lower", "parse_pages Arrow UDF, materialized to the epoch scratch"),
    "parse.rows": ("rows", "higher", "rows into the parse"),
    "parse.ok_ratio": ("ratio", "higher", "parsed ok / parse rows"),
    "parse.task_s": ("s", "lower", "Spark task time in the parse span"),
    "parse.gc_s": ("s", "lower", "JVM GC time in the parse span"),
    "feedparse.feeds_per_s": ("1/s", "higher", "parse kernel alone, one core, no Spark"),
    "feedparse.mb_per_s": ("MB/s", "higher", "parse kernel alone, feed bytes per second"),
    "checkpoint.frontier_write_s": ("s", "lower", "SnapshotTable.prepare of the new frontier"),
    "checkpoint.frontier_bytes": ("B", "lower", "frontier bytes written per epoch"),
    "checkpoint.delta_write_s": ("s", "lower", "podcasts + episodes delta commits per epoch"),
    "checkpoint.delta_bytes": ("B", "lower", "podcasts + episodes delta bytes per epoch"),
    "checkpoint.compact_s": ("s", "lower", "one SnapshotTable.compact"),
    "checkpoint.compactions": ("count", "lower", "compactions in the traced run"),
    "checkpoint.files_written": ("count", "lower", "data files written per epoch"),
    "checkpoint.bytes_per_scheduled_url": ("B/url", "lower", "bytes written per epoch / scheduled rows"),
    "checkpoint.read_segments": ("count", "lower", "podcasts + episodes segments a read resolves"),
    "api.podcast_count_ms_p50": ("ms", "lower", "route latency"),
    "api.podcasts_page_ms_p50": ("ms", "lower", "route latency"),
    "api.episodes_page_ms_p50": ("ms", "lower", "route latency"),
    "api.search_ms_p50": ("ms", "lower", "route latency"),
    "api.metrics_ms_p50": ("ms", "lower", "route latency"),
    "seen.probe_s": ("s", "lower", "bloom shard probe, new-URL passes"),
    "seen.maybe_ratio": ("ratio", "lower", "bloom maybes / candidates, new-URL passes"),
    "seen.false_positive_ratio": ("ratio", "lower", "maybes not in the frontier / candidates not in the frontier, new-URL passes"),
    "seen.fold_s": ("s", "lower", "bloom fold + shard commit, new-URL passes"),
    "seen.shard_bytes": ("B", "lower", "seen-shard snapshot bytes"),
    "admit.verify_s": ("s", "lower", "exact verify of bloom maybes, duplicate passes"),
    "admit.frontier_commit_s": ("s", "lower", "frontier growth commit, new-URL passes"),
    "admit.admitted_rows": ("rows", "higher", "rows one new-URL pass adds"),
    "spark.task_s": ("s", "lower", "task time per traced step"),
    "spark.gc_s": ("s", "lower", "JVM GC time per traced step"),
    "spark.shuffle_read_bytes": ("B", "lower", "per traced step"),
    "spark.shuffle_write_bytes": ("B", "lower", "per traced step"),
    "spark.spill_bytes": ("B", "lower", "memory + disk spill per traced step"),
    "spark.tasks": ("count", "lower", "tasks per traced step"),
    "spark.core_busy_share": ("ratio", "higher", "task time / (step wall x cores)"),
    "trace.overhead_s": ("s", "lower", "median traced step wall - median untraced step wall"),
    "trace.span_coverage": ("ratio", "higher", "sum of a step's top-level spans / step wall"),
}


def _med(xs: List[float]) -> float:
    return median(xs) if xs else 0.0


def _walls(tr: Tracer, sp: Span, name: str) -> float:
    return sum(s.wall for s in tr.children(sp) if s.name == name)


def _child(tr: Tracer, sp: Span, name: str) -> Span:
    return next(s for s in tr.children(sp) if s.name == name)


def layer_metrics(res, tr: Tracer, cores: int, kernel: Dict[str, float]) -> Dict[str, float]:
    m: Dict[str, float] = {}
    eps = res.epochs

    def per_epoch(fn) -> float:
        return _med([fn(e, e["span"]) for e in eps])

    m["frontier.schedule_s"] = per_epoch(lambda e, sp: _walls(tr, sp, "frontier.schedule"))
    m["frontier.due_rows"] = per_epoch(lambda e, sp: e["due_rows"])
    m["frontier.scheduled_rows"] = per_epoch(lambda e, sp: e["scheduled_rows"])
    m["frontier.schedule_task_skew"] = per_epoch(lambda e, sp: e["schedule_task_skew"])
    m["frontier.schedule_shuffle_bytes"] = per_epoch(
        lambda e, sp: _child(tr, sp, "frontier.schedule").spark_totals()["shuffle_write_bytes"]
    )
    m["frontier.update_s"] = per_epoch(lambda e, sp: _walls(tr, sp, "frontier.update"))
    m["fetch.s"] = per_epoch(lambda e, sp: _walls(tr, sp, "bucketed.fetch"))
    m["fetch.rows"] = per_epoch(lambda e, sp: e["fetch_rows"])
    m["fetch.hit_ratio"] = per_epoch(lambda e, sp: ratio(e["fetch_ok"], e["fetch_rows"]))
    m["fetch.shuffle_bytes"] = per_epoch(
        lambda e, sp: _child(tr, sp, "bucketed.fetch").spark_totals()["shuffle_write_bytes"]
    )
    m["parse.s"] = per_epoch(lambda e, sp: _walls(tr, sp, "udfs.parse"))
    m["parse.rows"] = per_epoch(lambda e, sp: e["total"])
    m["parse.ok_ratio"] = per_epoch(lambda e, sp: ratio(e["n_parse_ok"], e["total"]))
    m["parse.task_s"] = per_epoch(
        lambda e, sp: _child(tr, sp, "udfs.parse").spark_totals()["task_s"]
    )
    m["parse.gc_s"] = per_epoch(
        lambda e, sp: _child(tr, sp, "udfs.parse").spark_totals()["gc_s"]
    )
    m["feedparse.feeds_per_s"] = kernel["feeds_per_s"]
    m["feedparse.mb_per_s"] = kernel["mb_per_s"]
    m["checkpoint.frontier_write_s"] = per_epoch(
        lambda e, sp: _walls(tr, sp, "checkpoint.frontier_write")
    )
    m["checkpoint.frontier_bytes"] = per_epoch(lambda e, sp: e["frontier_bytes"])
    m["checkpoint.delta_write_s"] = per_epoch(
        lambda e, sp: _walls(tr, sp, "checkpoint.delta_write")
    )
    m["checkpoint.delta_bytes"] = per_epoch(lambda e, sp: e["delta_bytes"])
    compacts = [s.wall for s in tr.spans if s.name == "checkpoint.compact"]
    m["checkpoint.compact_s"] = _med(compacts)
    m["checkpoint.compactions"] = len(compacts)
    m["checkpoint.files_written"] = per_epoch(lambda e, sp: e["files_written"])
    m["checkpoint.bytes_per_scheduled_url"] = per_epoch(
        lambda e, sp: ratio(e["frontier_bytes"] + e["delta_bytes"], e["total"])
    )
    m["checkpoint.read_segments"] = _med([r["segments"] for r in res.reads])
    for route, ms in res.read_ms.items():
        m[f"api.{route}_ms_p50"] = _med(ms)

    new = [a for a in res.admits if a["kind"] == "new"]
    dup = [a for a in res.admits if a["kind"] == "dup"]
    m["seen.probe_s"] = _med([_walls(tr, a["span"], "seen.probe") for a in new])
    m["seen.maybe_ratio"] = _med([ratio(a["maybes"], a["candidates"]) for a in new])
    m["seen.false_positive_ratio"] = _med(
        [ratio(a["maybes"] - a["hits"], a["candidates"] - a["hits"]) for a in new]
    )
    m["seen.fold_s"] = _med([_walls(tr, a["span"], "seen.fold") for a in new])
    m["seen.shard_bytes"] = res.admits[-1]["shard_bytes"] if res.admits else 0
    m["admit.verify_s"] = _med([_walls(tr, a["span"], "admit.verify") for a in dup])
    m["admit.frontier_commit_s"] = _med(
        [_walls(tr, a["span"], "admit.frontier_commit") for a in new]
    )
    m["admit.admitted_rows"] = _med([a["admitted_rows"] for a in new])

    steps = res.primary
    totals = [s.spark_totals() for s in steps]
    for k in ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks"):
        m[f"spark.{k}"] = _med([t[k] for t in totals])
    m["spark.core_busy_share"] = _med(
        [ratio(t["task_s"], s.wall * cores) for s, t in zip(steps, totals)]
    )
    m["trace.overhead_s"] = _med([s.wall for s in steps]) - _med(res.op_walls)
    m["trace.span_coverage"] = _med(
        [ratio(sum(c.wall for c in tr.children(s)), s.wall) for s in steps]
    )
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return m
