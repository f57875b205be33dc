"""Seeded input generators and numpy ground truth.

Everything here is a pure function of (seed, size): the same arguments give
byte-identical parquet files. The engine only ever sees the files; the truth
(planted duplicate pairs, exact top-k neighbours) stays with the benchmark and
is computed in numpy, independently of the engine.

Inputs are cached on disk under ``<cache>/<workload>-<seed>-<size-key>/`` and
generated outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 20                      # the reference's top-k (Program.cs:216)
SHINGLE = 5                 # char-shingle width used by minhash_dedup
DUP_THRESHOLD = 0.6         # minhash_dedup's default jaccard threshold


@dataclass(frozen=True)
class TextSize:
    docs: int               # base documents (duplicates are added on top)
    files: int              # parquet files the corpus is split across
    vocab: int              # Zipfian vocabulary size
    words: tuple[int, int]  # min/max words per document
    clusters: int           # planted near-duplicate clusters
    dim: int                # width of the (unused by curate) embedding column


@dataclass(frozen=True)
class VectorSize:
    n: int                  # corpus vectors
    dim: int
    clusters: int           # planted Gaussian clusters
    noise: float            # per-coordinate std of a point around its center
    queries: int
    files: int
    subset: int             # leading vectors that also get an HNSW truth


def size_key(size) -> str:
    return hashlib.sha1(json.dumps(asdict(size), sort_keys=True).encode()) \
        .hexdigest()[:10]


# ---------------------------------------------------------------------------
# text corpus (curate)
# ---------------------------------------------------------------------------

def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(2, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_words(rng, vocab, p, n):
    return [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]


def shingles(text: str, n: int = SHINGLE) -> set[str]:
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter / union if union else 0.0


def text_corpus(seed: int, size: TextSize):
    """dbpedia-shaped rows (doc_id, title, text, embedding) plus the planted
    near-duplicate pairs ``[(a, b)]`` with a < b.

    Each planted cluster copies one base document 1-3 times with ~2% of its
    words replaced, so every planted pair sits well above DUP_THRESHOLD;
    unplanted documents are independent Zipfian draws."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, size.vocab)
    ranks = np.arange(1, size.vocab + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    titles, texts = [], []
    for _ in range(size.docs):
        titles.append(" ".join(_zipf_words(rng, vocab, p, 3)).title())
        n = int(rng.integers(size.words[0], size.words[1] + 1))
        texts.append(" ".join(_zipf_words(rng, vocab, p, n)))
    pairs: list[tuple[int, int]] = []
    bases = rng.choice(size.docs, size=size.clusters, replace=False)
    for base in bases:
        members = [int(base)]
        for _ in range(int(rng.integers(1, 4))):
            words = texts[base].split(" ")
            for j in rng.choice(len(words), size=max(1, len(words) // 50),
                                replace=False):
                words[j] = vocab[int(rng.integers(len(vocab)))]
            members.append(len(texts))
            titles.append(titles[base])
            texts.append(" ".join(words))
        pairs += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    n = len(texts)
    order = rng.permutation(n)  # scatter duplicates across files
    emb = rng.standard_normal((n, size.dim), dtype=np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[order] = np.arange(n)
    pairs = sorted((min(doc_ids[a], doc_ids[b]), max(doc_ids[a], doc_ids[b]))
                   for a, b in pairs)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "title": pa.array([titles[i] for i in order]),
        "text": pa.array([texts[i] for i in order]),
        "embedding": _vec_array(emb[order]),
    })
    return table, [(int(a), int(b)) for a, b in pairs]


# ---------------------------------------------------------------------------
# vector corpora (index_build, serve)
# ---------------------------------------------------------------------------

def _vec_array(x: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(x.reshape(-1)), x.shape[1]).cast(pa.list_(pa.float32()))


def vector_corpus(seed: int, size: VectorSize):
    """Unit vectors around planted cluster centers, and queries drawn from the
    same clusters. Returns (corpus table, corpus matrix, query matrix)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((size.clusters, size.dim), dtype=np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(m):
        c = rng.integers(size.clusters, size=m)
        x = centers[c] + size.noise * rng.standard_normal((m, size.dim),
                                                          dtype=np.float32)
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)

    x = draw(size.n)
    q = draw(size.queries)
    table = pa.table({"vec_id": pa.array(np.arange(size.n, dtype=np.int64)),
                      "embedding": _vec_array(x)})
    return table, x, q


def exact_topk(x: np.ndarray, q: np.ndarray, k: int = K):
    """Exact top-k by dot-product distance 1 - q·x in float64, ties broken on
    the smaller id (the engine's order). Returns (ids, distances), (nq, k)."""
    d = 1.0 - q.astype(np.float64) @ x.astype(np.float64).T
    ids = np.empty((len(q), k), dtype=np.int64)
    for j in range(len(q)):
        ids[j] = np.lexsort((np.arange(x.shape[0]), d[j]))[:k]
    return ids, np.take_along_axis(d, ids, axis=1)


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------

def _write_files(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))


def materialize(cache: str, workload: str, seed: int, size) -> dict:
    """Write the inputs for (workload, seed, size) once and return
    ``{"dir": <cache dir>, "corpus": <parquet dir>}``. The truth (planted
    pairs, exact top-k ids and distances) is stored in the cache dir as
    .json / .npy files."""
    d = os.path.join(cache, f"{workload}-{seed}-{size_key(size)}")
    done = os.path.join(d, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if isinstance(size, TextSize):
            table, pairs = text_corpus(seed, size)
            _write_files(table, os.path.join(tmp, "corpus"), size.files)
            with open(os.path.join(tmp, "pairs.json"), "w") as f:
                json.dump(pairs, f)
        else:
            table, x, q = vector_corpus(seed, size)
            _write_files(table, os.path.join(tmp, "corpus"), size.files)
            ids, dist = exact_topk(x, q)
            np.save(os.path.join(tmp, "queries.npy"), q)
            np.save(os.path.join(tmp, "truth_ids.npy"), ids)
            np.save(os.path.join(tmp, "truth_dist.npy"), dist)
            if size.subset:
                np.save(os.path.join(tmp, "truth_sub_ids.npy"),
                        exact_topk(x[:size.subset], q)[0])
        open(os.path.join(tmp, "DONE"), "w").close()
        os.rename(tmp, d)
    return {"dir": d, "corpus": os.path.join(d, "corpus")}


def load_pairs(d: str) -> list[tuple[int, int]]:
    with open(os.path.join(d, "pairs.json")) as f:
        return [tuple(p) for p in json.load(f)]


def load_queries(d: str):
    return (np.load(os.path.join(d, "queries.npy")),
            np.load(os.path.join(d, "truth_ids.npy")),
            np.load(os.path.join(d, "truth_dist.npy")))
