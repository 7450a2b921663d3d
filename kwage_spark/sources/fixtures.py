"""Deterministic synthetic `source_files` corpus + query snippets (FIXTURES.md F1/F2).

Mirrors the reference's ingest input (SRA read collections,
`make_bloom.cpp:170-300`) reshaped to source code per BASELINE.json
input_hint: (repo, path, commit, lang, content). Fixed seed, no wall-clock;
`content_sha256` gives the per-row invariant manifest.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["py", "c", "go", "md"]
_VOCAB = [
    "def", "return", "import", "for", "while", "class", "struct", "void",
    "int", "float", "func", "package", "static", "const", "buffer", "index",
    "hash", "merge", "filter", "sketch", "query", "table", "column", "row",
]


def _signature(repo: str, j: int) -> str:
    """A repo-unique planted token — queryable ground truth."""
    return f"SIG_{hashlib.sha1(repo.encode()).hexdigest()[:10]}_{j:03d}"


def make_source_files(n_repos: int = 3, files_per_repo: int = 20,
                      seed: int = 42, mega_repo_factor: int = 1,
                      tokens_per_file: int = 40) -> pd.DataFrame:
    """Token-soup corpus: shared vocabulary + per-repo signature k-grams.

    ``mega_repo_factor`` > 1 inflates repo 0 to exercise skew
    (FIXTURES.md: one mega-repo holding ~40% of rows);
    ``tokens_per_file`` scales per-file content for throughput benches.
    """
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_repos):
        repo = f"org{i % 7}/repo{i}"
        nf = files_per_repo * (mega_repo_factor if i == 0 else 1)
        for f in range(nf):
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            toks = list(rng.choice(_VOCAB, size=tokens_per_file))
            # plant signatures: sig 0..4 appear often (>= min_count),
            # sig 900 appears once (below-threshold variant)
            for j in range(5):
                toks.extend([_signature(repo, j)] * 3)
            if f == 0:
                toks.append(_signature(repo, 900))
            rng.shuffle(toks)
            content = " ".join(toks)
            commit = hashlib.sha1(f"{repo}/{f}".encode()).hexdigest()
            rows.append({
                "repo": repo,
                "path": f"src/d{f % 5}/file{f}.{lang}",
                "commit": commit,
                "lang": lang,
                "content": content,
                "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
            })
    return pd.DataFrame(rows)


def make_query_snippets(files: pd.DataFrame, k: int, seed: int = 7) -> pd.DataFrame:
    """Query classes per FIXTURES.md F2: exact / partial(mosaic) / absent / short."""
    rng = np.random.default_rng(seed)
    repos = sorted(files["repo"].unique())
    rows = []
    qid = 0
    # (a) verbatim substring of one repo's file -> hit at t=1.0
    for repo in repos[:2]:
        content = files.loc[files.repo == repo, "content"].iloc[0]
        start = int(rng.integers(0, max(1, len(content) - 120)))
        rows.append({"query_id": qid, "snippet": content[start:start + 120],
                     "expected_class": "exact", "src_repo": repo})
        qid += 1
    # (b) mosaic of two repos -> hit only at t < 1.0
    if len(repos) >= 2:
        c0 = files.loc[files.repo == repos[0], "content"].iloc[0][:80]
        c1 = files.loc[files.repo == repos[1], "content"].iloc[0][:80]
        rows.append({"query_id": qid, "snippet": c0 + c1,
                     "expected_class": "partial", "src_repo": repos[0]})
        qid += 1
    # (c) pure noise -> no hit (FP measurement)
    noise = "".join(chr(int(x)) for x in rng.integers(0x4E00, 0x9FFF, size=200))
    rows.append({"query_id": qid, "snippet": noise,
                 "expected_class": "absent", "src_repo": ""})
    qid += 1
    # (d) shorter than k -> silent no-match (kwage.cpp:366-371)
    rows.append({"query_id": qid, "snippet": "ab"[: k - 1],
                 "expected_class": "short", "src_repo": ""})
    return pd.DataFrame(rows)


def make_source_files_spark(spark, n_files: int, files_per_repo: int = 100,
                            tokens_per_file: int = 200, seed: int = 42,
                            mega_repo_factor: int = 4, partitions: int = 256):
    """Distributed deterministic corpus for throughput benches.

    Same shape as make_source_files but generated executor-side with
    mapInPandas, so multi-GB corpora materialize in parallel (the driver
    version is pandas-bound at ~10 MB/s). Content is a pure function of
    (seed, row id): rerunning at any partitioning yields identical rows.
    Repo 0 is a mega-repo holding ``mega_repo_factor``× the normal file
    count (skew exercise, FIXTURES.md F1).
    """
    n_repos = max(1, n_files // max(files_per_repo, 1))
    mega_files = files_per_repo * mega_repo_factor

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = {k: [] for k in ("repo", "path", "commit", "lang",
                                   "content", "content_sha256")}
            for rid in ids:
                rid = int(rid)
                rng = np.random.default_rng(seed * 1_000_003 + rid)
                if rid < mega_files:
                    i, f = 0, rid
                else:
                    # CONTIGUOUS repo blocks: consecutive ids belong to the
                    # same repo, so range partitions hold whole repos — the
                    # layout an Iceberg table bucketed by repo gives, and
                    # what makes map-side partial aggregation worthwhile
                    r = rid - mega_files
                    i = 1 + r // files_per_repo if n_repos > 1 else 0
                    f = r % files_per_repo
                repo = f"org{i % 7}/repo{i}"
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                toks = list(rng.choice(_VOCAB, size=tokens_per_file))
                for j in range(5):
                    toks.extend([_signature(repo, j)] * 3)
                rng.shuffle(toks)
                content = " ".join(toks)
                out["repo"].append(repo)
                out["path"].append(f"src/d{f % 5}/file{f}.{lang}")
                out["commit"].append(hashlib.sha1(f"{repo}/{f}".encode()).hexdigest())
                out["lang"].append(lang)
                out["content"].append(content)
                out["content_sha256"].append(
                    hashlib.sha256(content.encode()).hexdigest())
            yield pd.DataFrame(out)

    schema = ("repo string, path string, commit string, lang string, "
              "content string, content_sha256 string")
    # range partitions (NOT a round-robin repartition): keeps the id space
    # contiguous per partition, preserving repo clustering on disk
    return (spark.range(0, n_files, numPartitions=partitions)
            .mapInPandas(gen, schema=schema))
