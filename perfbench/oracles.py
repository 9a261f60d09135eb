"""Independent oracles for every benchmarked op, run after the timed pass.

Each oracle recomputes the op's answer from the generated input tables with
numpy, hashlib or this package's own XXH64, never through the engine's
DataFrame code; the only engine import is the closed-form grammar function
``import_targets``. Each ``check_*`` returns ``None`` when the engine's
output matches, else a one-line reason. Outputs arrive as pandas frames
collected from the engine's result DataFrames.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from inputs import commit_files, file_path, repo_name
from xxh64 import spark_xxhash64
from sparkgraph.io.synth import import_targets

PAGERANK_ATOL = 1e-6
DAMPING = 0.85
# Minimum recall per LSH op. MinHash and hyperplane LSH miss true pairs with
# a small probability by design; the floors sit below every recall the
# unchanged engine measured (perfbench/baseline.json).
RECALL_FLOOR = {"minhash": 0.95, "embed_lsh": 0.95}


class SymGraph:
    """Symmetrized multigraph over dense vertex indices (parallel edges kept)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s, d = inv[: len(src)], inv[len(src):]
        self.src = np.concatenate([s, d])
        self.dst = np.concatenate([d, s])
        self.n = len(self.ids)
        self.deg = np.bincount(self.src, minlength=self.n).astype(np.float64)

    def index(self, ids) -> np.ndarray:
        ids = np.asarray(ids, dtype=np.int64)
        pos = np.searchsorted(self.ids, ids)
        if np.any(pos >= self.n) or np.any(self.ids[np.minimum(pos, self.n - 1)] != ids):
            raise KeyError("id not in graph")
        return pos


# -- graph oracles -------------------------------------------------------------

def pagerank(g: SymGraph, mode: str, iterations: int = 10, tol: float = 1e-6,
             max_iter: int = 200) -> tuple[np.ndarray, int]:
    """(values by vertex index, supersteps): reference mode = zeros init and
    a fixed number of damped updates; convergence mode = uniform init until
    the max-abs delta drops below ``tol``."""
    x = np.zeros(g.n) if mode == "reference" else np.full(g.n, 1.0 / g.n)
    steps = 0
    while steps < (iterations if mode == "reference" else max_iter):
        sums = np.bincount(g.dst, weights=(x / g.deg)[g.src], minlength=g.n)
        new = (1.0 - DAMPING) / g.n + DAMPING * sums
        delta = np.max(np.abs(new - x))
        x, steps = new, steps + 1
        if mode == "convergence" and delta < tol:
            break
    return x, steps


def hash_min(g: SymGraph, steps: int | None = None) -> np.ndarray:
    """Min vertex id within ``steps`` hops (to the fixpoint when None) —
    the connected-components labels after that many synchronous supersteps."""
    label = g.ids.copy()
    k = 0
    while steps is None or k < steps:
        new = label.copy()
        np.minimum.at(new, g.dst, label[g.src])
        k += 1
        if np.array_equal(new, label):
            break
        label = new
    return label


def _by_index(g: SymGraph, df: pd.DataFrame, col: str) -> np.ndarray | str:
    if len(df) != g.n or df["id"].nunique() != g.n:
        return f"{len(df)} rows for {g.n} vertices"
    try:
        pos = g.index(df["id"].to_numpy())
    except KeyError:
        return "unknown vertex id in output"
    out = np.empty(g.n, dtype=df[col].dtype)
    out[pos] = df[col].to_numpy()
    return out


def check_values(g: SymGraph, df: pd.DataFrame, col: str, expected: np.ndarray,
                 atol: float | None = None) -> str | None:
    got = _by_index(g, df, col)
    if isinstance(got, str):
        return got
    if atol is None:
        bad = int(np.sum(got != expected))
    else:
        bad = int(np.sum(~np.isclose(got, expected, rtol=0.0, atol=atol)))
    return f"{bad} of {g.n} vertices differ from the oracle" if bad else None


# -- codegraph oracles ---------------------------------------------------------

def vertex_id(seed: int, r: int, f: int) -> int:
    return spark_xxhash64(repo_name(seed, r), file_path(f))


def code_edges(seed: int, p: dict) -> tuple[set, set]:
    """Closed-form (import, cochange) edge sets of the FIXTURES §3 grammar."""
    imports, cochange = set(), set()
    for r in range(p["repos"]):
        ids = [vertex_id(seed, r, f) for f in range(p["files"])]
        for f in range(p["files"]):
            for t in import_targets(f, r, p["files"], p["imports"]):
                imports.add((ids[f], ids[t]))
        for c in range(p["commits"]):
            files = commit_files(c, p)
            if len(files) > p["max_commit_files"]:
                continue
            for i in files:
                for j in files:
                    if ids[i] < ids[j]:
                        cochange.add((ids[i], ids[j]))
    return imports, cochange


def check_edges(df: pd.DataFrame, expected: set, kind: str) -> str | None:
    got = list(zip(df["src"].tolist(), df["dst"].tolist()))
    if len(got) != len(set(got)):
        return f"duplicate {kind} edges"
    if set(got) != expected:
        return f"{len(set(got) ^ expected)} {kind} edges differ from the closed form"
    if (df["kind"] != kind).any() or (df["weight"] != 1.0).any():
        return f"wrong kind or weight on {kind} edges"
    return None


def check_ingest(p: dict, df: pd.DataFrame, sources: pd.DataFrame) -> str | None:
    """One row per file, ids equal xxhash64(repo, path), and content_sha is
    the hashlib sha256 of the raw content."""
    raw = sources.drop_duplicates(["repo", "path"]).set_index(["repo", "path"])["content"]
    if len(df) != len(raw) or len(df) != p["repos"] * p["files"]:
        return f"{len(df)} ingested rows for {len(raw)} files"
    bad = 0
    for row in df.itertuples(index=False):
        content = raw.loc[(row.repo, row.path)]
        if row.content_sha != hashlib.sha256(content.encode("utf-8")).hexdigest():
            bad += 1
        elif row.id != spark_xxhash64(row.repo, row.path) or row.content != content:
            bad += 1
    return f"{bad} ingested rows fail the sha256/id check" if bad else None


# -- corpus oracles ------------------------------------------------------------

def _pairs_from_postings(keys: np.ndarray, docs: np.ndarray, n_docs: int):
    """Co-occurrence counts of every doc pair sharing a key: (a, b, count)."""
    order = np.lexsort((docs, keys))
    keys, docs = keys[order], docs[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    ends = np.r_[starts[1:], len(keys)]
    codes = []
    for s, e in zip(starts, ends):
        if e - s > 1:
            group = docs[s:e]
            i, j = np.triu_indices(e - s, 1)
            codes.append(group[i] * n_docs + group[j])
    if not codes:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    code, cnt = np.unique(np.concatenate(codes), return_counts=True)
    return code // n_docs, code % n_docs, cnt


def shingle_sets(texts: list[str], n: int = 3) -> list[set]:
    out = []
    for t in texts:
        toks = t.strip().split()
        out.append({" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)})
    return out


def jaccard_pairs(doc_ids: np.ndarray, texts: list[str], threshold: float) -> dict:
    """Every pair (a < b) whose exact shingle Jaccard, rounded to 6 digits
    as the engine rounds, reaches ``threshold``: {(a, b): jaccard}."""
    sets = shingle_sets(texts)
    vocab: dict[str, int] = {}
    keys, docs = [], []
    for i, s in enumerate(sets):
        for sh in s:
            keys.append(vocab.setdefault(sh, len(vocab)))
            docs.append(i)
    a, b, inter = _pairs_from_postings(np.array(keys), np.array(docs), len(sets))
    sizes = np.array([len(s) for s in sets])
    jac = np.round(inter / (sizes[a] + sizes[b] - inter), 6)
    keep = jac >= threshold
    out = {}
    for i, j, v in zip(a[keep], b[keep], jac[keep]):
        x, y = int(doc_ids[i]), int(doc_ids[j])
        out[(min(x, y), max(x, y))] = float(v)
    return out


def cosine_pairs(vec_ids: np.ndarray, x: np.ndarray, threshold: float) -> tuple[dict, np.ndarray]:
    """({(a, b): cosine ≥ threshold}, full cosine matrix by row position)."""
    x = x.astype(np.float64)
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    cos = unit @ unit.T
    out = {}
    for i, j in zip(*np.nonzero(np.triu(cos >= threshold, 1))):
        a, b = int(vec_ids[i]), int(vec_ids[j])
        out[(min(a, b), max(a, b))] = float(cos[i, j])
    return out, cos


def check_pairs(got: pd.DataFrame, value_col: str, truth: dict, exact_value,
                passes, op: str) -> tuple[str | None, float]:
    """Every emitted pair is a real near-dup with the right score, and
    recall against the brute-force truth reaches the op's floor.
    ``exact_value(a, b)`` gives the oracle's score for any pair and
    ``passes(score)`` the op's threshold test."""
    pairs = list(zip(got["a"].tolist(), got["b"].tolist()))
    if len(pairs) != len(set(pairs)):
        return "duplicate pairs emitted", 0.0
    for (a, b), v in zip(pairs, got[value_col].tolist()):
        if a >= b:
            return f"pair ({a}, {b}) is not ordered a < b", 0.0
        want = exact_value(a, b)
        if not math.isclose(v, want, rel_tol=0.0, abs_tol=2e-6):
            return f"pair ({a}, {b}) scores {v}, oracle {want}", 0.0
        if not passes(want):
            return f"pair ({a}, {b}) is not a near-duplicate (oracle {want})", 0.0
    found = len(truth.keys() & set(pairs))
    recall = found / len(truth) if truth else 1.0
    if recall < RECALL_FLOOR[op]:
        return f"recall {recall:.4f} below floor {RECALL_FLOOR[op]}", recall
    return None, recall

