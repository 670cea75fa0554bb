from perfbench.layermetrics import PER_LAYER
from perfbench.tracing import StageRow, Tracer, stages_after


def row(i, run_ms=10, status="COMPLETE", shuffle=0):
    return StageRow(i, 0, status, 2, run_ms, 1, shuffle, shuffle, 0)


def test_stages_after_walks_newest_first_and_stops():
    listing = [row(9), row(8), row(7), row(5), row(4)]
    assert [r.stage_id for r in stages_after(listing, 6)] == [9, 8, 7]
    assert stages_after(listing, 9) == []
    assert len(stages_after(listing, -1)) == 5


def test_stages_after_is_lazy():
    pulled = []

    def gen():
        for r in [row(3), row(2), row(1)]:
            pulled.append(r.stage_id)
            yield r

    stages_after(gen(), 2)
    assert pulled == [3, 2]  # stops at the first stage already seen


class FakeStageLog:
    """Appends the stages a fake job runs; newest first like Spark's."""

    def __init__(self):
        self.stages = []

    def run_job(self, n, run_ms=10):
        nxt = self.stages[0].stage_id + 1 if self.stages else 0
        for i in range(n):
            self.stages.insert(0, row(nxt + i, run_ms))

    def newest_id(self):
        return self.stages[0].stage_id if self.stages else -1

    def since(self, after_id):
        return stages_after(self.stages, after_id)


def test_tracer_attributes_stages_to_nested_spans():
    log = FakeStageLog()
    log.run_job(2)  # before tracing: belongs to no span
    tr = Tracer(log, "run-1")
    with tr.span("epoch") as ep:
        with tr.span("frontier.schedule") as a:
            log.run_job(3, run_ms=100)
        log.run_job(1)  # between children: only the parent sees it
        with tr.span("udfs.parse") as b:
            log.run_job(2, run_ms=1000)
    assert [s.stage_id for s in a.stages] == [4, 3, 2]
    assert [s.stage_id for s in b.stages] == [7, 6]
    assert len(ep.stages) == 6
    assert a.parent == ep.span_id and b.parent == ep.span_id and ep.parent is None
    assert {s.run_id for s in tr.spans} == {"run-1"}
    assert [c.name for c in tr.children(ep)] == ["frontier.schedule", "udfs.parse"]
    assert b.spark_totals()["task_s"] == 2.0
    assert ep.wall >= a.wall + b.wall


def test_skipped_stages_add_nothing():
    log = FakeStageLog()
    tr = Tracer(log, "r")
    with tr.span("x") as sp:
        log.stages.insert(0, row(0, run_ms=500, status="SKIPPED", shuffle=9))
    assert sp.spark_totals()["task_s"] == 0
    assert sp.spark_totals()["shuffle_write_bytes"] == 0


def test_dump_writes_one_line_per_span(tmp_path):
    tr = Tracer(FakeStageLog(), "r")
    with tr.span("a"):
        with tr.span("b"):
            pass
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    lines = path.read_text().splitlines()
    assert len(lines) == 2 and '"name": "a"' in lines[0]


def test_per_layer_table_is_well_formed():
    for name, (unit, better, why) in PER_LAYER.items():
        assert better in ("higher", "lower")
        assert unit and why and len(name) <= 64
