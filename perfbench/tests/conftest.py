import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402


@pytest.fixture(scope="session")
def bench_dirs(tmp_path_factory):
    build = tmp_path_factory.mktemp("bench_build")
    work = build / "work"
    work.mkdir()
    return build, work


@pytest.fixture(scope="session")
def spark(bench_dirs):
    """A session configured the way the benchmark configures its own."""
    build, work = bench_dirs
    run.prepare_env(build, work, run.task_slots())
    from kwage_spark.sources.session import get_spark
    s = get_spark(app="perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
