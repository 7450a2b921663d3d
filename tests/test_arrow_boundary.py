"""The library crosses into Python as Arrow: no module under functions/
or operators/ but checkpoint.py uses pandas, the state readers decode
over one helper (``registry.decode_column``), and every reader fails on
a corrupt state."""

import ast
import glob
import os

import pytest
from pyspark.sql import functions as F

from kwage_spark import functions as fx
from kwage_spark.config import SketchConfig
from kwage_spark.kernels import BloomParams
from kwage_spark.operators.diff import dump_states, sketch_diff
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.merge import verify_states
from kwage_spark.operators.text import kmv_group_overlap, kmv_token_sketches
from kwage_spark.sources.fixtures import make_source_files

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "kwage_spark")
#: every module under functions/ and operators/, found by glob so that a
#: new module is covered; checkpoint.verify_manifest returns a pandas frame
ARROW_ONLY = sorted(
    os.path.relpath(p, PKG)
    for d in ("functions", "operators")
    for p in glob.glob(os.path.join(PKG, d, "*.py"))
    if os.path.basename(p) != "checkpoint.py")
BANNED = {"pandas_udf", "mapInPandas", "applyInPandas"}


@pytest.mark.parametrize("module", ARROW_ONLY)
def test_module_uses_no_pandas(module):
    with open(os.path.join(PKG, module)) as f:
        tree = ast.parse(f.read())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names
                      if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                found.append(node.module)
            found += [a.name for a in node.names if a.name in BANNED]
        elif isinstance(node, ast.Attribute) and node.attr in BANNED:
            found.append(node.attr)
        elif isinstance(node, ast.Name) and node.id in BANNED:
            found.append(node.id)
    assert not found, f"{module} crosses into Python as pandas: {found}"


CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=12, num_hash=3),
                   kinds=("bloom", "hll", "cms", "kll"))
GCOLS = ["repo", "lang"]


@pytest.fixture(scope="module")
def tables(spark):
    df = spark.createDataFrame(make_source_files(n_repos=3, files_per_repo=6))
    sketches = build_sketches(df, CFG, combine="raw")
    kmv = kmv_token_sketches(df, "content", "lang")
    return ((sketches.collect(), sketches.schema),
            (kmv.collect(), kmv.schema))


def _corrupt(spark, table, kind=None):
    """The table as a DataFrame, with one payload byte flipped in its
    first state (of ``kind``, when given)."""
    rows, schema = table
    rows = [list(r) for r in rows]
    at = schema.names.index("state")
    i = next(j for j, r in enumerate(rows)
             if kind is None or r[schema.names.index("kind")] == kind)
    bad = bytearray(rows[i][at])
    bad[-5] ^= 0xFF  # a payload byte: KMV and MG states end in their crc
    rows[i][at] = bytes(bad)
    return (spark.createDataFrame(rows, schema),
            spark.createDataFrame(table[0], schema))


READERS = {
    "verify_states": ("bloom", lambda bad, ok: verify_states(bad)),
    "hll_estimate": ("hll", lambda bad, ok: bad.filter("kind = 'hll'")
                     .select(fx.hll_estimate("state")).collect()),
    "sketch_quantiles": ("kll", lambda bad, ok: bad.filter("kind = 'kll'")
                         .select(fx.sketch_quantiles("state", [0.5]))
                         .collect()),
    "bloom_stats": ("bloom", lambda bad, ok: bad.filter("kind = 'bloom'")
                    .select(fx.bloom_stats("state")).collect()),
    "dump_states": ("cms", lambda bad, ok: dump_states(bad, GCOLS).collect()),
    "sketch_diff": ("hll", lambda bad, ok: sketch_diff(bad, ok, GCOLS)
                    .collect()),
    "kmv_group_overlap": (None, lambda bad, ok: kmv_group_overlap(bad, "lang")
                          .collect()),
}


@pytest.mark.parametrize("reader", sorted(READERS))
def test_reader_rejects_corrupt_state(spark, tables, reader):
    kind, read = READERS[reader]
    table = tables[1] if reader == "kmv_group_overlap" else tables[0]
    bad, ok = _corrupt(spark, table, kind)
    with pytest.raises(Exception, match="crc32"):
        read(bad, ok)
