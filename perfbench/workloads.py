"""The workloads.

Every workload is one driver process running a closed loop: one client
issues a write operation (a crawl epoch), waits for it, then sends one
round of API reads against the snapshots the write just published, and
only then issues the next write.  The loop runs for ``--seconds`` and at
least ``MIN_OPS[workload]`` writes; a run's samples are few and its read
latencies depend on how many delta segments the writes left, so the
minimum, not the clock, usually ends the loop.  Untraced runs time the
engine's entry point (``run_epoch``); traced runs time the same step
both ways on identical copies of the state and check that the two leave
identical state.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Callable, Dict, List, Optional

from podcast_crawler_spark.api.queries import PodcastQueryAPI
from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.functions.udfs import parse_pages
from podcast_crawler_spark.operators.frontier import CrawlConfig
from podcast_crawler_spark.plans.epoch import (
    CrawlState,
    admit_urls,
    discovered_urls,
    init_crawl,
    run_epoch,
)
from podcast_crawler_spark.sources.pagesgen import EPOCH0

from . import corpus as corpus_mod
from . import oracle
from .proctree import Cost, measure
from .stats import median, ratio
from .traced import traced_admit, traced_epoch
from .tracing import Tracer

# epoch_steady: timed epochs 5-8, so the compaction at 8 segments
# (CrawlConfig.compact_segments) falls inside every run
MIN_OPS = {"epoch_drain": 3, "epoch_steady": 4}
TRACED_MIN_OPS = 2
EPOCH_INTERVAL = timedelta(seconds=60)  # run_crawl's default spacing
STEADY_PREROLL = 4  # epoch 1 drains the tail; 2-4 clear the 3-retry backlog
ROUTES = ("podcast_count", "podcasts_page", "episodes_page", "search", "metrics")
PER_PAGE = 20
QUERY = "quartz"


@dataclass
class Ctx:
    spark: object
    work: str
    seconds: float
    cores: int
    corpus: corpus_mod.Corpus
    template: str  # state dir holding the initialized frontier
    tracer: Optional[Tracer] = None
    con: object = None  # DuckDB connection of the oracle
    t_loop: float = 0.0  # when the timed loop started

    def cfg(self, **kw) -> CrawlConfig:
        return CrawlConfig(
            num_partitions=2 * self.cores,
            pages_bucketed_table=self.corpus.pages_table,
            **kw,
        )

    def fresh_state(self, name: str) -> CrawlState:
        """A private copy of the freshly initialized crawl state."""
        dst = os.path.join(self.work, "states", name)
        shutil.copytree(self.template, dst)
        return CrawlState.open(dst)

    def copy_state(self, state: CrawlState, name: str) -> CrawlState:
        dst = os.path.join(self.work, "states", name)
        shutil.copytree(state.root, dst)
        return CrawlState.open(dst)


@dataclass
class Result:
    op_urls: List[float] = field(default_factory=list)  # URLs per timed write
    op_walls: List[float] = field(default_factory=list)  # seconds per timed write
    op_cpu: List[float] = field(default_factory=list)  # CPU seconds per timed write
    op_unstolen: List[float] = field(default_factory=list)  # steal-corrected s per timed write
    read_ms: Dict[str, List[float]] = field(default_factory=lambda: {r: [] for r in ROUTES})
    read_cpu_ms: List[float] = field(default_factory=list)
    read_unstolen_ms: List[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wrong: Dict[str, int] = field(default_factory=dict)
    detail: Dict = field(default_factory=dict)
    # live state bytes / frontier rows after MIN_OPS writes, so that runs
    # the clock lets do more writes report the same point
    state_bytes_per_url: float = 0.0
    # traced runs only: spans of the traced twins of the timed steps
    primary: List = field(default_factory=list)
    epochs: List[Dict] = field(default_factory=list)
    admits: List[Dict] = field(default_factory=list)
    reads: List[Dict] = field(default_factory=list)

    def add_op(self, urls: int, cost: Cost) -> None:
        self.op_urls.append(urls)
        self.op_walls.append(cost.wall)
        self.op_cpu.append(cost.cpu)
        self.op_unstolen.append(cost.unstolen)

    def add_wrong(self, key: str, n: int) -> None:
        self.wrong[key] = self.wrong.get(key, 0) + int(n)

    def attempt(self, fn: Callable):
        """Run one timed client operation; a raised error counts as a
        failed operation and ends the loop."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise _Stop()


class _Stop(Exception):
    pass


def setup(spark, work: str, window: range, cores: int, cfg: CrawlConfig, name: str):
    """Corpus generation, bucketed ingest and frontier initialization:
    everything a run needs before its first epoch."""
    out = os.path.join(work, f"setup-{name}")
    corpus = corpus_mod.build(spark, window, out, f"pages_bucketed_{name}", 2 * cores)
    template = os.path.join(out, "state")
    init_crawl(spark, corpus.seeds(spark), template, EPOCH0, cfg)
    return corpus, template


def read_round(ctx: Ctx, state: CrawlState, res: Result) -> Dict:
    """One API client round: the fixed route mix, each timed alone."""
    api = PodcastQueryAPI(ctx.spark, state)
    rec = {
        "root": state.root,
        "snapshots": {
            t: getattr(state, t).current_snapshot_id()
            for t in ("podcasts", "episodes", "metrics")
        },
        "segments": state.podcasts.num_segments() + state.episodes.num_segments(),
        "per_page": PER_PAGE,
        "query": QUERY,
        "results": {},
        "ms": {},
    }
    r = rec["results"]

    def route(name, fn):
        if ctx.tracer:
            with ctx.tracer.span(f"api.{name}") as sp:
                r[name] = res.attempt(fn)
            wall = sp.wall
        else:
            r[name], cost = measure(lambda: res.attempt(fn))
            wall = cost.wall
            res.read_cpu_ms.append(cost.cpu * 1000.0)
            res.read_unstolen_ms.append(cost.unstolen * 1000.0)
        rec["ms"][name] = wall * 1000.0
        res.read_ms[name].append(wall * 1000.0)

    with ctx.tracer.span("reads") if ctx.tracer else nullcontext():
        route("podcast_count", api.podcast_count)
        route(
            "podcasts_page",
            lambda: [x.podcast_id for x in api.podcasts_page(1, PER_PAGE).collect()],
        )
        rec["podcast_id"] = r["podcasts_page"][0]
        route(
            "episodes_page",
            lambda: [
                x.guid
                for x in api.episodes_page(rec["podcast_id"], 1, PER_PAGE).collect()
            ],
        )
        route("search", lambda: len(api.search(QUERY).collect()))
        route("metrics", lambda: [x.epoch for x in api.metrics().collect()])
    res.reads.append(rec)
    return rec


def _until(ctx: Ctx, workload: str, done: int) -> bool:
    # a traced step runs twice (untraced and traced); two of them give the
    # per-layer medians and keep a traced run about as long as an untraced one
    least = TRACED_MIN_OPS if ctx.tracer else MIN_OPS[workload]
    return done < least or time.perf_counter() - ctx.t_loop < ctx.seconds


def _state_bytes_per_url(st: CrawlState) -> float:
    return ratio(oracle.live_state_bytes(st.root), oracle.frontier_rows(st.root))


def _same_state(ctx: Ctx, a: CrawlState, b: CrawlState, res: Result, what: str) -> None:
    da, db = oracle.state_digests(ctx.con, a.root), oracle.state_digests(ctx.con, b.root)
    bad = sum(1 for t in da if da[t] != db[t])
    res.add_wrong(f"trace_digest_{what}", bad)


# -- epoch_drain -----------------------------------------------------------


def epoch_drain(ctx: Ctx) -> Result:
    """One ``run_epoch`` per op on a fresh frontier, unbounded per-host
    budget: nearly every row is fetched, parsed, exploded and upserted."""
    res = Result()
    cfg = ctx.cfg(per_host_budget=10**9)
    pages, robots = ctx.corpus.pages(ctx.spark), ctx.corpus.robots(ctx.spark)
    run_epoch(ctx.spark, ctx.fresh_state("warm"), pages, robots, EPOCH0, cfg)
    states = []
    ctx.t_loop = time.perf_counter()
    try:
        while _until(ctx, "epoch_drain", len(res.op_walls)):
            i = len(res.op_walls)
            st = ctx.fresh_state(f"op{i}")
            target = ctx.fresh_state(f"op{i}-untraced") if ctx.tracer else st
            m, cost = measure(
                lambda: res.attempt(
                    lambda: run_epoch(ctx.spark, target, pages, robots, EPOCH0, cfg)
                )
            )
            res.add_op(m["scheduled"], cost)
            if ctx.tracer:
                res.epochs.append(_traced_epoch(ctx, st, robots, EPOCH0, cfg, res))
                _same_state(ctx, target, st, res, "epoch")
            read_round(ctx, st, res)
            states.append(st)
    except _Stop:
        pass
    res.detail["loop_s"] = time.perf_counter() - ctx.t_loop
    for st in states:
        for k, v in oracle.check_drain(ctx.con, st.root, ctx.corpus).items():
            res.add_wrong(f"drain_{k}", v)
    if states:  # every write starts from the same state
        res.state_bytes_per_url = _state_bytes_per_url(states[0])
    _check_reads(ctx, res)
    res.add_wrong("parse_text", _check_texts(ctx))
    if ctx.tracer and states:
        _probe_tail(ctx, states[-1], res, cfg, compact=True)
    res.detail["expected_epoch"] = oracle.expected_epoch_counts(ctx.corpus.window)
    return res


def _traced_epoch(ctx: Ctx, st: CrawlState, robots, epoch_ts, cfg, res: Result) -> Dict:
    due = oracle.due_rows(ctx.con, oracle.manifest(st.root, "frontier"), epoch_ts)
    tr = ctx.tracer
    with tr.span("epoch") as sp:
        out = traced_epoch(ctx.spark, st, robots, epoch_ts, cfg, tr)
    sched = [s for s in tr.children(sp) if s.name == "frontier.schedule"]
    done = [s for s in sched[0].stages if s.status != "SKIPPED"] if sched else []
    # stage details age out of the status store, so read skew right away
    out["schedule_task_skew"] = (
        tr.stage_log.task_skew(max(done, key=lambda s: s.run_ms)) if done else 1.0
    )
    out.update(due_rows=due, span=sp)
    res.primary.append(sp)
    return out


def _check_reads(ctx: Ctx, res: Result) -> None:
    for rec in res.reads:
        res.add_wrong("api_reads", oracle.check_reads(ctx.con, rec["root"], rec))


def _check_texts(ctx: Ctx) -> int:
    """Parse every page through the Arrow UDF and compare the extracted
    text with the generator's golden ``text`` column."""
    rows = (
        parse_pages(ctx.corpus.pages(ctx.spark).select("url", "html"))
        .select("url", "extracted_text", "parse_error_kind")
        .collect()
    )
    return oracle.check_texts(ctx.con, ctx.corpus, [tuple(r) for r in rows])


# -- epoch_steady ----------------------------------------------------------


def epoch_steady(ctx: Ctx) -> Result:
    """Consecutive epochs at the reference politeness settings: after the
    pre-roll every epoch schedules ``per_host_budget`` URLs on each of
    the 3 hot hosts out of the whole frontier."""
    res = Result()
    cfg = ctx.cfg()
    pages, robots = ctx.corpus.pages(ctx.spark), ctx.corpus.robots(ctx.spark)
    st = ctx.fresh_state("steady")
    epochs = []  # (epoch_ts, frontier snapshot before, after)

    def one(state, i, timed_fn=None):
        ts = EPOCH0 + i * EPOCH_INTERVAL
        before = state.frontier.current_snapshot_id()
        out = (timed_fn or (lambda: run_epoch(ctx.spark, state, pages, robots, ts, cfg)))()
        epochs.append((ts, before, state.frontier.current_snapshot_id()))
        return out

    for i in range(STEADY_PREROLL):
        one(st, i)
    ctx.t_loop = time.perf_counter()
    counts = []  # podcast_count after each timed epoch
    try:
        while _until(ctx, "epoch_steady", len(res.op_walls)):
            i = STEADY_PREROLL + len(res.op_walls)
            ts = EPOCH0 + i * EPOCH_INTERVAL
            if ctx.tracer:
                twin = ctx.copy_state(st, f"steady-{i}-untraced")
                m, cost = measure(
                    lambda: res.attempt(lambda: run_epoch(ctx.spark, twin, pages, robots, ts, cfg))
                )
                res.epochs.append(
                    one(st, i, lambda: _traced_epoch(ctx, st, robots, ts, cfg, res))
                )
                _same_state(ctx, twin, st, res, "epoch")
            else:
                m, cost = measure(lambda: res.attempt(lambda: one(st, i)))
            res.add_op(m["scheduled"], cost)
            rec = read_round(ctx, st, res)
            counts.append((len(epochs), rec["results"]["podcast_count"]))
            if len(res.op_walls) == MIN_OPS["epoch_steady"]:
                res.state_bytes_per_url = _state_bytes_per_url(st)
    except _Stop:
        pass
    res.detail["loop_s"] = time.perf_counter() - ctx.t_loop
    _check_reads(ctx, res)

    scheduled_so_far, per_epoch = set(), []
    for ts, before, after in epochs:
        pre = oracle.manifest(st.root, "frontier", before)
        post = oracle.manifest(st.root, "frontier", after)
        got = oracle.scheduled_between(ctx.con, pre, post)
        want = oracle.expected_schedule(ctx.con, pre, ctx.corpus, ts, cfg.per_host_budget)
        res.add_wrong("steady_schedule", len(got ^ want))
        scheduled_so_far |= got
        per_epoch.append((len(got), oracle.expected_podcast_count(scheduled_so_far)))
    for n_epochs, count in counts:
        res.add_wrong("steady_podcast_count", abs(count - per_epoch[n_epochs - 1][1]))
    res.detail["scheduled_per_epoch"] = [n for n, _ in per_epoch]
    res.detail["frontier_rows"] = oracle.frontier_rows(st.root)
    res.detail["compactions"] = sum(
        1
        for t in ("podcasts", "episodes")
        for sid in range(1, (getattr(st, t).current_snapshot_id() or 0) + 1)
        if (oracle.manifest(st.root, t, sid)["metrics"] or {}).get("op") == "compact"
    )
    if ctx.tracer:
        _probe_tail(ctx, st, res, cfg, compact=res.detail["compactions"] == 0)
    return res


# -- traced-only tail: layers a workload's own path does not reach ---------


def _probe_tail(ctx: Ctx, st: CrawlState, res: Result, cfg, compact: bool) -> None:
    """Admit the run's discovered episode URLs (almost all new: bloom
    definite-new path), then the same set again (all duplicates: bloom
    maybe plus exact verify); compact once if the run did not."""
    urls = discovered_urls(st, ctx.spark).select("url")
    candidates = {r.url for r in urls.collect()}
    ts = EPOCH0 + EPOCH_INTERVAL * 1000
    for kind in ("new", "dup"):
        twin = ctx.copy_state(st, f"probe-{kind}-untraced")
        admit_urls(ctx.spark, twin, urls, ts, cfg)
        before = oracle.frontier_urls(ctx.con, st.root)
        with ctx.tracer.span(f"probe.admit_{kind}") as sp:
            out = traced_admit(ctx.spark, st, urls, ts, cfg, ctx.tracer)
        out.update(kind=kind, span=sp)
        res.admits.append(out)
        after = oracle.frontier_urls(ctx.con, st.root)
        # the frontier grows by exactly the candidates it lacked
        res.add_wrong(f"admit_{kind}", len(after ^ (before | candidates)))
        _same_state(ctx, twin, st, res, "admit")
    if compact:
        with ctx.tracer.span("probe.compact"):
            with ctx.tracer.span("checkpoint.compact"):
                st.episodes.compact(ctx.spark, metrics={"op": "compact"})


def feedparse_kernel(ctx: Ctx, limit: int = 600, repeats: int = 3) -> Dict[str, float]:
    """The pure-Python parse kernel alone: one core, no Spark, over this
    workload's own pages."""
    con = ctx.con
    rows = con.execute(
        f"SELECT url, html FROM read_parquet('{ctx.corpus.pages_dir}/*.parquet') "
        f"ORDER BY url LIMIT {limit}"
    ).fetchall()
    mb = sum(len(h) for _, h in rows) / 2**20
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for url, html in rows:
            parse_feed_result(bytes(html), url)
        walls.append(time.perf_counter() - t0)
    w = median(walls)
    return {"feeds_per_s": ratio(len(rows), w), "mb_per_s": ratio(mb, w)}


WORKLOADS = {
    "epoch_drain": epoch_drain,
    "epoch_steady": epoch_steady,
}
