"""The cost of one call: wall, process-tree CPU and steal-corrected wall."""

from perfbench import proctree


def test_unstolen_wall_scales_by_the_share_of_cpu_time_received(monkeypatch):
    jiffies = iter([(1000, 50), (1300, 150)])  # busy +300, steal +100
    cpu = iter([2.0, 3.5])
    clock = iter([10.0, 14.0])
    monkeypatch.setattr(proctree, "machine_jiffies", lambda: next(jiffies))
    monkeypatch.setattr(proctree, "tree_cpu_s", lambda pid: next(cpu))
    monkeypatch.setattr(proctree.time, "perf_counter", lambda: next(clock))
    out, cost = proctree.measure(lambda: "done")
    assert out == "done"
    assert cost.wall == 4.0
    assert cost.cpu == 1.5
    assert cost.unstolen == 4.0 * 300 / 400


def test_no_steal_leaves_wall_unchanged(monkeypatch):
    jiffies = iter([(0, 7), (0, 7)])  # an idle machine: no ticks at all
    monkeypatch.setattr(proctree, "machine_jiffies", lambda: next(jiffies))
    _, cost = proctree.measure(lambda: sum(range(1000)))
    assert cost.unstolen == cost.wall


def test_machine_jiffies_reads_proc_stat():
    busy, steal = proctree.machine_jiffies()
    assert busy > 0 and steal >= 0
