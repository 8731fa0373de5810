"""Seeded inputs and the exact references the correctness checks use.

Every input of a run is a function of ``--seed`` and the scale factor
``sf`` (0.1 is the benchmark's size, 0.001 the smoke test's). The
engine only sees the parquet files and DataFrames made here; nothing
is read from outside the checkout.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
T0_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in epoch microseconds
DIM = 64  # embedding width = the reference's feature rank


@dataclass(frozen=True)
class Sizes:
    events: int  # events rows behind the ALS ratings (~0.9 distinct ratings each)
    users: int
    table_rows: int  # rows of the snapshot table's base version
    docs: int
    vectors: int
    queries: int

    @classmethod
    def at(cls, sf: float) -> "Sizes":
        return cls(
            events=max(2_000, round(250_000 * sf)),
            users=max(40, round(2_500 * sf)),
            table_rows=max(2_000, round(400_000 * sf)),
            docs=max(300, round(15_000 * sf)),
            vectors=max(1_000, round(20_000 * sf)),
            queries=max(20, min(200, round(2_000 * sf))),
        )


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------


def events_frame(rng: np.random.Generator, n: int, n_users: int,
                 first_id: int = 0) -> pd.DataFrame:
    """``events``-shaped rows with ids ``first_id .. first_id+n-1``."""
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pd.to_datetime(
            T0_US + rng.integers(0, 30 * 86_400_000_000, n), unit="us", utc=True
        ),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.gamma(2.0, 10.0, n), 2),
    })


# ---------------------------------------------------------------------------
# documents: planted near-duplicate groups in a random-token corpus
# ---------------------------------------------------------------------------


def documents_frame(rng: np.random.Generator, n_docs: int,
                    dup_share: float = 0.2) -> pd.DataFrame:
    """Random-token documents with planted near-duplicate groups of 2-4.

    A group is a base text of 30-60 tokens plus copies that each swap
    one token at positions at least 7 apart, so every pair inside a
    group has 3-shingle Jaccard >= 0.64 and pairs across groups share
    almost no shingle (tokens come from a 30k vocabulary). Ids are a
    seeded permutation, so group members are scattered."""
    vocab = 30_000
    texts, langs = [], []
    while len(texts) < n_docs * dup_share:
        size = int(rng.integers(2, 5))
        length = int(rng.integers(30, 61))
        base = rng.integers(0, vocab, length)
        lang = LANGS[rng.integers(0, len(LANGS))]
        for k in range(size):
            toks = base.copy()
            if k:
                toks[(k * length) // 4] = rng.integers(0, vocab)
            texts.append(toks)
            langs.append(lang)
    while len(texts) < n_docs:
        texts.append(rng.integers(0, vocab, int(rng.integers(10, 61))))
        langs.append(LANGS[rng.integers(0, len(LANGS))])
    texts, langs = texts[:n_docs], langs[:n_docs]
    order = rng.permutation(n_docs)
    strs = [" ".join(f"w{t:x}" for t in texts[i]) for i in order]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": strs,
        "lang": [langs[i] for i in order],
        "source": [f"src{i % 4}" for i in order],
        "n_chars": np.array([len(s) for s in strs], dtype=np.int64),
    })


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _round6(x: float) -> float:
    """The engine's portable rounding: floor(x * 1e6 + 0.5) / 1e6."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def exact_jaccard_pairs(docs: pd.DataFrame, threshold: float = 0.5,
                        block_col: str | None = "lang") -> set[tuple[int, int]]:
    """Every (a, b), a < b, whose word 3-shingle Jaccard (rounded like
    the engine) is >= ``threshold``, blocked by ``block_col``. Exact:
    candidates are all pairs sharing a shingle (inverted index)."""
    sh = {int(d): _shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    blocks = docs[block_col] if block_col else [None] * len(docs)
    post: dict[tuple, list[int]] = {}
    for d, b in zip(docs["doc_id"], blocks):
        for s in sh[int(d)]:
            post.setdefault((b, s), []).append(int(d))
    cands = set()
    for ids in post.values():
        if len(ids) > 1:
            ids = sorted(ids)
            cands.update(
                (ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))
            )
    out = set()
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        if _round6(inter / (len(sh[a]) + len(sh[b]) - inter)) >= threshold:
            out.add((a, b))
    return out


def components(pairs) -> dict[int, int]:
    """doc_id -> smallest doc_id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for p in pairs for x in p}
    return {x: find(x) for x in nodes}


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------


def embeddings(rng: np.random.Generator, n: int, n_centers: int = 48):
    """(vec_id, float32 matrix, label): a Gaussian mixture, so an
    inverted-file index has real cells. ``vec_id`` is a seeded
    permutation, so the query set (``vec_id < queries``) varies."""
    centers = rng.normal(size=(n_centers, DIM))
    label = rng.integers(0, n_centers, n)
    x = (centers[label] + 1.2 * rng.normal(size=(n, DIM))).astype(np.float32)
    return rng.permutation(n).astype(np.int64), x, label.astype(np.int32)


def write_embeddings(vec_id, x, label, path: str) -> None:
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    pq.write_table(
        pa.table({
            "vec_id": vec_id,
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": label,
        }),
        path,
    )


def exact_knn(vec_id, x, n_queries: int, k: int = 10) -> dict[int, set[int]]:
    """Cosine top-k neighbours (self excluded) of every ``vec_id <
    n_queries``, by brute force in NumPy."""
    v = x.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    q_rows = np.flatnonzero(vec_id < n_queries)
    sims = v[q_rows] @ v.T
    sims[np.arange(len(q_rows)), q_rows] = -np.inf
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    return {int(vec_id[r]): {int(vec_id[j]) for j in top[i]} for i, r in enumerate(q_rows)}
