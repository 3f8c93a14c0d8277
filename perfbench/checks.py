"""Correctness checks. They run after the timed phase and read the
engine's outputs back with pyarrow and DuckDB, never through the code
paths being timed.

- ``ingest_output``: chunks and embeddings line up, ids are unique,
  every distinct file yields chunks, and sampled vectors match
  :func:`stub_embed`, an independent re-implementation of the
  documented md5-vote stub model.
- ``topk_expected``: the exact top-k a chat query must return, from a
  numpy cosine scan with ties broken by id.
- ``result_hash``: a query result's hash under the order-insensitive
  row normalization of the repository's oracle gate
  (``tools/check_correctness.py``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import sys

import numpy as np

# the gate module puts a fixed checkout path first on sys.path when
# imported; keep the engine importing from this checkout
_path = list(sys.path)
from tools.check_correctness import normalize  # noqa: E402

sys.path[:] = _path

DIM = 16


def stub_embed(text: str) -> np.ndarray:
    """The documented stub model: dim j sums ``2 * hexdigit_j(md5(w)) - 15``
    over the text's distinct whitespace-split words, then L2-normalizes."""
    votes = np.zeros(DIM, dtype=np.int64)
    for w in set((text or "").split()):
        h = hashlib.md5(w.encode("utf-8")).hexdigest()
        votes += np.array([2 * int(c, 16) - 15 for c in h[:DIM]], dtype=np.int64)
    norm = float(np.sqrt(float((votes * votes).sum())))
    if norm == 0.0:
        return np.zeros(DIM)
    return votes / norm


def read_dir(path: str):
    """Read a Spark parquet output directory into pandas (pyarrow)."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    import pyarrow as pa

    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def ingest_output(out_dir: str, groups: list[list[str]], rng: np.random.Generator,
                  sample: int = 64) -> list[str]:
    """Check one ``RagEngine.ingest`` output. ``groups`` lists the
    batch's file names grouped by identical content. Returns the list
    of failed checks (empty when the output is correct)."""
    problems: list[str] = []
    chunks = read_dir(os.path.join(out_dir, "chunks"))
    emb = read_dir(os.path.join(out_dir, "embeddings"))
    if chunks["id"].duplicated().any():
        problems.append("duplicate chunk ids")
    if emb["id"].duplicated().any():
        problems.append("duplicate embedding ids")
    if set(chunks["id"]) != set(emb["id"]):
        problems.append("chunks and embeddings do not line up")
    by_file = set(chunks["source_file"])
    missing = [g[0] for g in groups if not by_file.intersection(g)]
    if missing:
        problems.append(f"{len(missing)} distinct files yield no chunks, e.g. {missing[0]}")
    text = dict(zip(chunks["id"], chunks["chunk"]))
    idx = rng.choice(len(emb), size=min(sample, len(emb)), replace=False)
    bad = 0
    for i in idx:
        cid, vec = emb["id"].iloc[i], np.asarray(emb["embedding"].iloc[i])
        if cid not in text or not np.allclose(vec, stub_embed(text[cid]),
                                              rtol=0, atol=1e-12):
            bad += 1
    if bad:
        problems.append(f"{bad}/{len(idx)} sampled vectors differ from the stub model")
    return problems


def cosine_scores(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    """``dot(x, q) / (sqrt(dot(x, x)) * sqrt(dot(q, q)))`` with each dot
    summed left to right, as the engine's ``cosine`` folds it."""

    def fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        acc = np.zeros(a.shape[0])
        for j in range(a.shape[1]):
            acc = acc + a[:, j] * b[:, j]
        return acc

    qm = np.broadcast_to(q, matrix.shape)
    return fold(matrix, qm) / (np.sqrt(fold(matrix, matrix)) * np.sqrt(fold(qm, qm)))


def topk_expected(ids: np.ndarray, matrix: np.ndarray, text: str,
                  k: int) -> list[tuple[str, float]]:
    """Exact top-k (id, score) for ``RagEngine.query(text, k)``: score
    descending, ties broken by id ascending."""
    scores = cosine_scores(matrix, stub_embed("query: " + text))
    order = np.lexsort((ids, -scores))[:k]
    return [(ids[i], float(scores[i])) for i in order]


def result_hash(rows, colnames) -> str:
    return hashlib.md5("\n".join(normalize(rows, colnames)).encode()).hexdigest()
