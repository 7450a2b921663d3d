"""The benchmark's generator: determinism, and the input properties the
workloads rely on (printed; run with ``-s`` to see them)."""

import pyarrow.parquet as pq
import pytest

from gen import CorpusSpec, Vocab, make_files
from workloads import Ingest, Refresh, Serve


@pytest.mark.parametrize("cls", [Ingest, Serve, Refresh])
def test_same_seed_gives_identical_files(cls, tmp_path):
    tables = []
    for n in range(2):
        work = tmp_path / str(n)
        work.mkdir()
        wl = cls(7, work)
        wl.generate()
        tables.append(pq.read_table(wl.corpus_path()))
    assert tables[0].equals(tables[1])
    other = tmp_path / "other"
    other.mkdir()
    wl = cls(8, other)
    wl.generate()
    assert not pq.read_table(wl.corpus_path()).equals(tables[0])


def test_streams_are_independent_draws():
    spec = CorpusSpec(n_repos=3, langs_per_repo=2, files_per_group=2)
    vocab = Vocab(1, spec.n_repos)
    a, b = make_files(vocab, spec, 1, stream=0), make_files(vocab, spec, 1, stream=1)
    assert a.column("repo").equals(b.column("repo"))
    assert not a.column("content").equals(b.column("content"))


def _combine(spark, src, cfg):
    from kwage_spark.operators.ingest import choose_combine
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return choose_combine(src.select("repo", "lang", "content"), cfg, n)


def test_ingest_corpus_picks_partial(spark, tmp_path):
    from kwage_spark.config import SketchConfig
    wl = Ingest(1, tmp_path)
    wl.generate()
    mode = _combine(spark, spark.read.parquet(str(wl.corpus_path())), SketchConfig())
    print(f"\ningest corpus: {wl.table.num_rows} files, {wl.n_groups} groups, "
          f"{wl.ingested_bytes} content bytes -> combine={mode}")
    assert mode == "partial"


def test_refresh_slices_pick_raw(spark, tmp_path):
    from kwage_spark.config import SketchConfig
    wl = Refresh(1, tmp_path)
    wl.generate()
    modes = {_combine(spark, wl.slice_df(spark, b), SketchConfig()) for b in (0, 1)}
    print(f"\nrefresh slices: {wl.batch_rows[:2]} files -> combine={modes}")
    assert modes == {"raw"}


def test_serve_match_share_is_small(spark, tmp_path):
    from kwage_spark.config import SketchConfig
    from kwage_spark.operators.ingest import build_sketches
    from kwage_spark.operators.search import containment_search
    from kwage_spark.sources.store import read_sketch_store, write_sketch_store
    cfg = SketchConfig()
    wl = Serve(1, tmp_path)
    wl.generate()
    write_sketch_store(build_sketches(spark.read.parquet(str(wl.corpus_path())), cfg),
                       str(wl.store), "repo")
    queries = wl.prepare(0)
    rows = containment_search(read_sketch_store(spark, str(wl.store)),
                              [(q, s) for q, s, _ in queries], cfg,
                              threshold=wl.threshold).collect()
    wl.check(None, queries, rows)
    share = wl.match_share()
    print(f"\nserve: {len(rows)} result rows for {len(queries)} queries x {wl.n_groups} "
          f"groups at t={wl.threshold}: match share {share:.6f}")
    assert 0 < share < 0.01
