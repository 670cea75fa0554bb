"""Spans around calls into the engine's layers, each carrying the Spark
stages that ran inside it.

Stages are attributed by snapshotting the application's stage list
(``AppStatusStore.stageList``, which works with the UI off) before and
after each call: the calls are sequential, so every stage newer than the
start snapshot belongs to the span.  Stage names are not used for
attribution; parquet writes all show up under one generic name.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterable, Iterator, List, Optional


@dataclass(frozen=True)
class StageRow:
    stage_id: int
    attempt_id: int
    status: str
    tasks: int
    run_ms: int
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def stages_after(listing: Iterable[StageRow], after_id: int) -> List[StageRow]:
    """Stages of a newest-first listing whose id is above *after_id*
    (stage ids only grow, so the walk stops at the first older stage)."""
    out = []
    for row in listing:
        if row.stage_id <= after_id:
            break
        out.append(row)
    return out


class StageLog:
    """Reads the driver's stage list through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._jvm = sc._jvm

    def _sync(self) -> None:
        # stage metrics reach the status store through the async listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _rows(self) -> Iterator[StageRow]:
        """Newest-first stage rows, converted lazily (each field is a
        py4j round trip, so callers stop as soon as they can)."""
        lst = self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(self._gw.jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        for i in range(lst.length()):
            sd = lst.apply(i)
            yield StageRow(
                stage_id=sd.stageId(),
                attempt_id=sd.attemptId(),
                status=sd.status().toString(),
                tasks=sd.numCompleteTasks(),
                run_ms=sd.executorRunTime(),
                gc_ms=sd.jvmGcTime(),
                shuffle_read_bytes=sd.shuffleReadBytes(),
                shuffle_write_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.diskBytesSpilled() + sd.memoryBytesSpilled(),
            )

    def newest_id(self) -> int:
        self._sync()
        return next((r.stage_id for r in self._rows()), -1)

    def since(self, after_id: int) -> List[StageRow]:
        self._sync()
        return stages_after(self._rows(), after_id)

    def task_skew(self, stage: StageRow) -> float:
        """Max over median task run time within one stage."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._jsc.statusStore().taskSummary(stage.stage_id, stage.attempt_id, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


@dataclass
class Span:
    span_id: int
    name: str
    parent: Optional[int]
    run_id: str
    start: float
    end: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)
    stages: List[StageRow] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def spark_totals(self) -> Dict[str, float]:
        done = [s for s in self.stages if s.status != "SKIPPED"]
        return {
            "task_s": sum(s.run_ms for s in done) / 1000.0,
            "gc_s": sum(s.gc_ms for s in done) / 1000.0,
            "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in done),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in done),
            "spill_bytes": sum(s.spill_bytes for s in done),
            "tasks": sum(s.tasks for s in done),
        }


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out once, at the end.
    Spans nest through a stack, so a span's parent is the span open
    around it."""

    def __init__(self, stage_log, run_id: str):
        self.stage_log = stage_log
        self.run_id = run_id
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        # the stage-list reads fall inside the span, so a step's spans
        # cover its wall and their cost shows in the layer it traces
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), name, parent, self.run_id, time.perf_counter())
        before = self.stage_log.newest_id()
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.stages = self.stage_log.since(before)
            sp.end = time.perf_counter()
            self.spans.append(sp)

    def children(self, sp: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(sp)
                rec["wall"] = sp.wall
                fh.write(json.dumps(rec) + "\n")
