"""Op accounting: a failing op is counted and the run goes on."""

import pytest

import run
from gen import CorpusSpec
from spans import Tracer
from workloads import CheckFailed, Ctx, Serve


class MismatchedServe(Serve):
    """Serve on a small store where every odd op searches with a config
    whose Bloom ``log2_m`` differs from the store's, which the search
    rejects with a ValueError."""

    spec = CorpusSpec(n_repos=20, langs_per_repo=2, files_per_group=3)
    queries_per_op = 4

    def op(self, ctx, inp):
        if inp[0] % 2:
            import dataclasses
            from kwage_spark.kernels.bloom import BloomParams
            bad = dataclasses.replace(ctx.cfg, bloom=BloomParams(k=8, log2_m=15, num_hash=3))
            ctx = dataclasses.replace(ctx, cfg=bad)
        return super().op(ctx, inp[1])

    def prepare(self, i):
        return i, super().prepare(i)

    def check(self, ctx, inp, out):
        super().check(ctx, inp[1], out)


@pytest.fixture()
def mismatched(spark, tmp_path):
    from kwage_spark.config import SketchConfig
    wl = MismatchedServe(3, tmp_path)
    wl.generate()
    ctx = Ctx(spark=spark, cfg=SketchConfig(), tracer=Tracer(False), work=tmp_path)
    wl.setup(ctx)
    return wl, ctx


def test_mismatched_search_raises_value_error(mismatched):
    wl, ctx = mismatched
    with pytest.raises(Exception, match="ValueError"):
        wl.op(ctx, wl.prepare(1))


def test_failing_op_counts_as_failed_and_run_continues(mismatched):
    wl, ctx = mismatched
    stats = run.OpStats()
    times = [run.run_op(wl, ctx, i, stats) for i in range(4)]
    assert stats.attempted == 4
    assert stats.failed == 2
    assert [t is None for t in times] == [False, True, False, True]


def test_timed_loop_keeps_going_after_failures(mismatched):
    wl, ctx = mismatched
    stats = run.OpStats()
    run.timed_loop(wl, ctx, 0, 3.0, stats)
    assert stats.attempted >= 2
    assert 0 < stats.failed < stats.attempted
    assert len(stats.times) == stats.attempted - stats.failed


def test_check_failure_counts_as_failed(mismatched):
    wl, ctx = mismatched

    class Wrong(type(wl)):
        def check(self, ctx, inp, out):
            raise CheckFailed("wrong output")

    wrong = Wrong(wl.seed, wl.work)
    wrong.table, wrong.store, wrong.n_groups = wl.table, wl.store, wl.n_groups
    stats = run.OpStats()
    assert run.run_op(wrong, ctx, 0, stats) is None
    assert (stats.attempted, stats.failed) == (1, 1)


def test_store_ratio_refuses_a_missing_store(tmp_path):
    wl = Serve(3, tmp_path)
    wl.ingested_bytes = 1000
    with pytest.raises(RuntimeError, match="no store"):
        wl.store_ratio()
