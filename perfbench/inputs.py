"""Seeded workload inputs, generated once per (workload, size, seed) into a
Parquet cache under ``perfbench/.cache`` so the timed set-up only reads them.

Everything here is numpy/pyarrow: no Spark session is needed to build the
cache, and the engine sees only the written tables. The same seed always
gives byte-identical tables.

* ``powerlaw`` — hub-skewed edges drawn with the inverse-CDF shape of
  ``sparkgraph.io.synth.powerlaw_edges`` (``u ** (1 / (1 - 0.7)) * V``).
* ``codegraph`` — ``sources(repo, path, commit, lang, content)`` in the
  FIXTURES §3 grammar of ``sparkgraph.io.synth``: file f of repo r imports
  ``import_targets(f, r, F, k)``; commit c touches the files with
  ``(f + c) % stride < span``, commit 0 touches every file. Repo names carry
  a seed-derived tag, so vertex ids (and hence partitioning) change with the
  seed while the graph's structure stays fixed.
* ``corpus`` — ``documents(doc_id, text)`` with planted one-word-edit
  near-duplicates over a Zipfian vocabulary, and ``embeddings(vec_id,
  embedding: array<float>, label)`` drawn around ten cluster centres with
  planted near-copies; row order is permuted by the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkgraph.io.synth import LANGS, _EXT, _IMPORT_FMT, import_targets

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

SIZES = {
    "powerlaw": {
        # PageRank reaches tol 1e-6 in 8 supersteps on every seed tried (40);
        # at 200k edges over 20k vertices it takes 8 or 10 depending on seed
        "full": {"edges": 100_000, "vertices": 5_000, "exponent": 0.7},
        "tiny": {"edges": 3_000, "vertices": 500, "exponent": 0.7},
    },
    "codegraph": {
        # files sets the diameter of the step-1 repos (about files / (2 *
        # imports)), hence the connected-components superstep count; cc stops
        # after cc_split supersteps and the resume op finishes it
        "full": {"repos": 12, "files": 180, "imports": 4, "commits": 40,
                 "stride": 180, "span": 3, "max_commit_files": 100, "cc_split": 20},
        "tiny": {"repos": 3, "files": 30, "imports": 3, "commits": 8,
                 "stride": 30, "span": 3, "max_commit_files": 20, "cc_split": 3},
    },
    "corpus": {
        "full": {"docs": 1_500, "vocab": 5_000, "dup_frac": 0.15,
                 "vectors": 1_000, "dim": 64, "vec_dup_frac": 0.05},
        "tiny": {"docs": 200, "vocab": 400, "dup_frac": 0.15,
                 "vectors": 150, "dim": 16, "vec_dup_frac": 0.1},
    },
}


def repo_tag(seed: int) -> str:
    return hashlib.sha256(f"perfbench-seed-{seed}".encode()).hexdigest()[:6]


def repo_name(seed: int, r: int) -> str:
    return f"org-{repo_tag(seed)}/project-{r:03d}"


def file_path(f: int) -> str:
    return f"src/mod_{f}.{_EXT[LANGS[f % len(LANGS)]]}"


def file_content(seed: int, r: int, f: int, files: int, imports: int) -> str:
    lang = LANGS[f % len(LANGS)]
    lines = [_IMPORT_FMT[lang] % t for t in import_targets(f, r, files, imports)]
    filler = f"\n// module {f} of {repo_name(seed, r)}\nvalue = {(f * 2654435761) % 1000003}\n"
    return "\n".join(lines) + filler


def commit_files(c: int, p: dict) -> list[int]:
    """Files commit ``c`` touches (same for every repo)."""
    if c == 0:
        return list(range(p["files"]))
    return [f for f in range(p["files"]) if (f + c) % p["stride"] < p["span"]]


def commit_id(seed: int, r: int, c: int) -> str:
    return hashlib.sha256(f"{repo_name(seed, r)}@commit-{c}".encode()).hexdigest()[:12]


def _powerlaw(seed: int, p: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    u = rng.random((p["edges"], 2))
    ends = (u ** (1.0 / (1.0 - p["exponent"])) * p["vertices"]).astype(np.int64) % p["vertices"]
    ends = ends[ends[:, 0] != ends[:, 1]]
    return {"edges": pa.table({"src": ends[:, 0], "dst": ends[:, 1]})}


def _codegraph(seed: int, p: dict) -> dict[str, pa.Table]:
    cols = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    members = [commit_files(c, p) for c in range(p["commits"])]
    for r in range(p["repos"]):
        repo = repo_name(seed, r)
        contents = [file_content(seed, r, f, p["files"], p["imports"]) for f in range(p["files"])]
        for c, files in enumerate(members):
            cid = commit_id(seed, r, c)
            for f in files:
                cols["repo"].append(repo)
                cols["path"].append(file_path(f))
                cols["commit"].append(cid)
                cols["lang"].append(LANGS[f % len(LANGS)])
                cols["content"].append(contents[f])
    order = np.random.default_rng([seed, 2]).permutation(len(cols["repo"]))
    return {"sources": pa.table({k: [v[i] for i in order] for k, v in cols.items()})}


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _corpus(seed: int, p: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_words(rng, p["vocab"]))
    zipf = 1.0 / np.arange(1, p["vocab"] + 1) ** 0.8
    zipf /= zipf.sum()
    n_docs = p["docs"]
    n_dup = int(n_docs * p["dup_frac"])
    docs: list[list[str]] = []
    for _ in range(n_docs - n_dup):
        docs.append(list(rng.choice(vocab, rng.integers(40, 101), p=zipf)))
    for _ in range(n_dup):
        # one-word substitution of an earlier document: Jaccard of word
        # 3-gram sets stays around 0.9, far above the 0.5 threshold
        words = list(docs[rng.integers(len(docs))])
        words[rng.integers(len(words))] = str(rng.choice(vocab, p=zipf))
        docs.append(words)
    order = rng.permutation(n_docs)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": [" ".join(docs[i]) for i in order],
    })

    n_vec, dim = p["vectors"], p["dim"]
    centres = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, n_vec)
    x = 0.45 * centres[label] + rng.standard_normal((n_vec, dim))
    n_copy = int(n_vec * p["vec_dup_frac"])
    src = rng.integers(0, n_vec - n_copy, n_copy)
    x[n_vec - n_copy:] = x[src] + 0.35 * rng.standard_normal((n_copy, dim))
    label[n_vec - n_copy:] = label[src]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    order = rng.permutation(n_vec)
    x, label = x[order].astype(np.float32), label[order].astype(np.int32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label,
    })
    return {"documents": documents, "embeddings": embeddings}


_GENERATORS = {"powerlaw": _powerlaw, "codegraph": _codegraph, "corpus": _corpus}


def ensure_inputs(workload: str, size: str, seed: int) -> tuple[str, dict]:
    """Directory of the cached tables for (workload, size, seed), generating
    them on first use; returns ``(directory, size parameters)``."""
    params = SIZES[workload][size]
    key = hashlib.sha256(json.dumps([workload, params, seed]).encode()).hexdigest()[:10]
    out = os.path.join(CACHE_DIR, f"{workload}-{size}-{seed}-{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in _GENERATORS[workload](seed, params).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out, params

