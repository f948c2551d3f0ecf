"""A raising op and a wrong-output op raise failed_op_ratio; the run completes.

The ops here are plain Python callables, so the run loop is exercised
without starting Spark; the last test feeds the real map/reduce output check
hand-written TSV parts.
"""

import pytest

import run
from workloads import CheckFailed, MapReduceJobs, Op


class FakeWorkload:
    """Checks every run; the op named "wrong" always fails its check."""

    def __init__(self):
        self.checked: list[tuple[str, bool]] = []

    def verify(self, spark, op, first):
        self.checked.append((op.name, first))
        if op.name == "wrong":
            raise CheckFailed("injected wrong output")


def _ok(spark, tracer):
    pass


def _measure(ops, monkeypatch):
    monkeypatch.setattr(run, "steal_cpus", lambda since: 0.0)  # a quiet host
    wl = FakeWorkload()
    runner = run.Runner(None, wl)
    run.warm_up(runner, ops, 1)
    metrics, window = run.end_to_end(runner, ops, 0.05, [1.0])
    return runner, wl, metrics, window


def test_clean_ops_have_no_failures(monkeypatch):
    runner, _, metrics, window = _measure([Op("ok", 10, _ok)], monkeypatch)
    assert runner.attempted >= 3
    assert runner.failed == 0
    assert metrics["pass_s_p50"][0] > 0
    assert not window["contended"]


def test_raising_and_wrong_ops_count_as_failed(monkeypatch):
    def boom(spark, tracer):
        raise RuntimeError("injected")

    clean, *_ = _measure([Op("ok", 10, _ok)], monkeypatch)
    runner, _, metrics, window = _measure([Op("ok", 10, _ok), Op("raises", 1, boom), Op("wrong", 1, _ok)], monkeypatch)
    passes = 2 + len(window["timed_passes"])  # first pass, one warmup pass, timed passes
    assert runner.attempted == 3 * passes
    assert runner.failed == 2 * passes  # every attempt of both injected ops
    assert runner.failed / runner.attempted > clean.failed / clean.attempted
    assert metrics["pass_s_p50"][0] > 0  # the run still produced its metrics


def test_every_run_is_checked_and_only_the_first_pass_says_first(monkeypatch):
    def boom(spark, tracer):
        raise RuntimeError("injected")

    _, wl, _, window = _measure([Op("ok", 1, _ok), Op("raises", 1, boom)], monkeypatch)
    assert wl.checked[0] == ("ok", True)
    assert wl.checked[1:] == [("ok", False)] * (1 + len(window["timed_passes"]))  # a raised op is not checked


def test_contended_passes_are_left_out_unless_they_are_the_majority():
    low, high = run.GATE_STEAL_CPUS / 2, run.GATE_STEAL_CPUS * 5
    assert run.quiet([(1.0, 0.0), (9.0, high), (1.2, low)]) == [1.0, 1.2]
    assert run.quiet([(1.0, 0.0), (9.0, high)]) == [1.0]
    assert run.quiet([(1.0, 0.0), (9.0, high), (8.0, high)]) == [1.0, 9.0, 8.0]


def test_mapreduce_check_reads_tsv_parts_and_rejects_wrong_output(tmp_path):
    wl = MapReduceJobs(tmp_path, 5, run.SETTINGS["workloads"]["mapreduce_jobs"])
    op = {op.name: op for op in wl.ops()}["wordlength"]
    out = tmp_path / "out" / "wordlength"
    out.mkdir(parents=True)
    items = sorted(wl.golden["wordlength"])
    half = len(items) // 2

    def write(lines_a, lines_b):
        (out / "part-00000").write_text("".join(f"{k}\t{v}\n" for k, v in lines_a))
        (out / "part-00001").write_text("".join(f"{k}\t{v}\n" for k, v in lines_b))

    write(items[:half], items[half:])
    wl.verify(None, op, False)
    write(items[:half], [(k, v + 1) for k, v in items[half:]])  # wrong counts
    with pytest.raises(CheckFailed):
        wl.verify(None, op, False)
    (key, value), rest = items[0], items[1:]
    write([(key, 1)], [(key, value - 1), *rest])  # one key split over two lines, sums right
    with pytest.raises(CheckFailed):
        wl.verify(None, op, False)
