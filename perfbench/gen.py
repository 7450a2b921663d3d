"""Seeded source-file generator for the sketch-engine benchmark.

Emits ``(repo, path, commit, lang, content)`` tables whose content is a
token stream of two vocabularies:

* shared keywords (the same ~50 tokens in every repo), drawn with a
  Zipf-like frequency so a few dominate, and
* per-repo identifiers (a pool of random names owned by one repo), also
  Zipf-drawn, with a per-language rotation of the ranking so two
  languages of one repo favour different names.

Because most 8-byte windows span an identifier, a snippet cut from one
file is fully contained in its own (repo, lang) group and in few others:
containment matches are a small share of query x group pairs.

Everything is a pure function of the seed and the spec; nothing here
imports Spark, so inputs are made before the session starts.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

KEYWORDS = (
    "def", "return", "import", "from", "for", "while", "if", "else",
    "class", "struct", "void", "int", "float", "func", "package", "static",
    "const", "let", "var", "self", "this", "new", "try", "catch", "match",
    "yield", "async", "await", "pub", "fn", "impl", "use", "mod", "enum",
    "type", "interface", "public", "private", "true", "false", "null",
    "None", "=", "==", "(", ")", "{", "}", ";", "+=",
)
LANGS = ("py", "go", "rs", "js", "java", "c", "ts", "rb")
IDS_PER_REPO = 96     # identifier pool of each repo
KEYWORD_SHARE = 0.4   # share of tokens drawn from the shared keywords
ZIPF_S = 1.1          # exponent of both Zipf-like frequency rankings
GROUP_COLS = ("repo", "lang")
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789_", dtype=np.uint8)


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus: ``n_repos`` repos with
    ``langs_per_repo`` languages each, ``files_per_group`` files per
    (repo, lang) group and ``tokens_per_file`` tokens (inclusive range)
    per file."""

    n_repos: int
    langs_per_repo: int
    files_per_group: int
    tokens_per_file: tuple[int, int] = (60, 240)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w / w.sum())


def _identifiers(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random lowercase names of 5-11 characters."""
    lens = rng.integers(5, 12, size=n)
    chars = _ALPHABET[rng.integers(0, _ALPHABET.size, size=int(lens.sum()))]
    ends = np.cumsum(lens)
    raw = chars.tobytes()
    return [raw[e - ln:e].decode() for e, ln in zip(ends.tolist(), lens.tolist())]


class Vocab:
    """Keyword list plus every repo's identifier pool, fixed by the seed.
    Token ids: keywords first, then repo r's pool at
    ``len(KEYWORDS) + r * IDS_PER_REPO``."""

    def __init__(self, seed: int, n_repos: int):
        rng = np.random.default_rng([seed, 0x5EED])
        self.n_repos = n_repos
        self.tokens = pa.array(list(KEYWORDS) + _identifiers(rng, n_repos * IDS_PER_REPO),
                               type=pa.string())
        # each repo keeps its own language list, drawn without replacement
        self.repo_langs = [rng.permutation(len(LANGS)) for _ in range(n_repos)]


def repo_name(r: int) -> str:
    return f"org{r % 16:02d}/repo{r:05d}"


def make_files(vocab: Vocab, spec: CorpusSpec, seed: int, stream: int = 0,
               files_per_group: np.ndarray | None = None,
               groups: np.ndarray | None = None) -> pa.Table:
    """One table of generated files, rows clustered by (repo, lang).

    ``stream`` separates independent draws from the same seed (the base
    corpus and each later batch of new files). ``groups`` is an (n, 2)
    array of (repo index, language slot) pairs; by default every repo's
    first ``spec.langs_per_repo`` languages. ``files_per_group`` gives
    each group's file count (default ``spec.files_per_group``)."""
    rng = np.random.default_rng([seed, stream])
    if groups is None:
        groups = np.array([(r, s) for r in range(spec.n_repos)
                           for s in range(spec.langs_per_repo)], dtype=np.int64)
    if files_per_group is None:
        files_per_group = np.full(len(groups), spec.files_per_group, dtype=np.int64)
    file_group = np.repeat(np.arange(len(groups)), files_per_group)
    n_files = file_group.size
    lo, hi = spec.tokens_per_file
    n_tok = rng.integers(lo, hi + 1, size=n_files)
    tok_file = np.repeat(np.arange(n_files), n_tok)
    total = tok_file.size

    kw_cdf = _zipf_cdf(len(KEYWORDS), ZIPF_S)
    id_cdf = _zipf_cdf(IDS_PER_REPO, ZIPF_S)
    is_kw = rng.random(total) < KEYWORD_SHARE
    kw = np.minimum(np.searchsorted(kw_cdf, rng.random(total)), len(KEYWORDS) - 1)
    rank = np.minimum(np.searchsorted(id_cdf, rng.random(total)), IDS_PER_REPO - 1)
    g_repo = groups[file_group[tok_file], 0]
    g_slot = groups[file_group[tok_file], 1]
    # rotate the Zipf ranking per language slot: one repo, two favourite sets
    ident = (rank + g_slot * 17) % IDS_PER_REPO
    tok = np.where(is_kw, kw, len(KEYWORDS) + g_repo * IDS_PER_REPO + ident)

    offsets = np.concatenate(([0], np.cumsum(n_tok))).astype(np.int32)
    words = pa.ListArray.from_arrays(pa.array(offsets), pc.take(vocab.tokens, pa.array(tok)))
    content = pc.binary_join(words, " ")

    f_repo = groups[file_group, 0]
    f_lang_ix = np.array([vocab.repo_langs[r][s] for r, s in groups], dtype=np.int64)[file_group]
    langs = np.array(LANGS, dtype=object)[f_lang_ix]
    repos = np.array([repo_name(r) for r in range(vocab.n_repos)], dtype=object)[f_repo]
    idx = np.arange(n_files)
    paths = [f"src/s{stream}/m{i % 50}/f{i}.{lg}" for i, lg in zip(idx.tolist(), langs.tolist())]
    commit = hashlib.sha1(f"{seed}/{stream}".encode()).hexdigest()
    return pa.table({
        "repo": pa.array(repos.tolist(), type=pa.string()),
        "path": pa.array(paths, type=pa.string()),
        "commit": pa.array([commit] * n_files, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "content": content,
    })


def group_counts(table: pa.Table, k: int) -> dict[tuple[str, str], tuple[int, int]]:
    """(repo, lang) -> (n_rows, n_kgrams) as ingest must report them:
    k-grams are byte windows, ``max(len - k + 1, 0)`` per file."""
    lens = pc.binary_length(table.column("content")).to_numpy(zero_copy_only=False)
    kg = np.maximum(lens.astype(np.int64) - k + 1, 0)
    t = pa.table({"repo": table.column("repo"), "lang": table.column("lang"),
                  "kg": pa.array(kg)})
    agg = t.group_by(list(GROUP_COLS)).aggregate([("kg", "count"), ("kg", "sum")])
    return {(r, lg): (int(n), int(s)) for r, lg, n, s in zip(
        agg.column("repo").to_pylist(), agg.column("lang").to_pylist(),
        agg.column("kg_count").to_pylist(), agg.column("kg_sum").to_pylist())}


def snippets(table: pa.Table, n: int, length: int, rng: np.random.Generator
             ) -> list[tuple[int, str, tuple[str, str]]]:
    """``n`` (query id, snippet, source group) triples: each snippet is a
    ``length``-byte substring of a random file at least that long."""
    lens = pc.binary_length(table.column("content")).to_numpy(zero_copy_only=False)
    eligible = np.flatnonzero(lens >= length)
    rows = rng.choice(eligible, size=n, replace=False)
    out = []
    for qid, i in enumerate(rows.tolist()):
        text = table.column("content")[i].as_py()
        start = int(rng.integers(0, len(text) - length + 1))
        out.append((qid, text[start:start + length],
                    (table.column("repo")[i].as_py(), table.column("lang")[i].as_py())))
    return out
