"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow: the same seed gives byte-identical
inputs, and nothing touches Spark, so the generators are unit-testable and
their cost is charged to set-up, never to a timed op.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

DIM = 64
N_CATEGORIES = 16
EDGE_LABELS = ("CITES", "LINKS")
ZIPF_S = 1.07

# op types of the interactive stream, in the order they are reported
INTERACTIVE_OPS = ("search", "search_with_filter", "text_search",
                   "hybrid_search", "velesql_select", "velesql_match",
                   "traverse_bfs")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream); crc32, not hash(), so the
    stream is the same in every process."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


def vocabulary(size: int) -> list[str]:
    # every word is >= 2 characters, so the BM25 tokenizer keeps all of them
    return [f"w{i}" for i in range(size)]


def zipf_probs(size: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def zipf_texts(rng: np.random.Generator, n: int, vocab: list[str],
               min_len: int = 6, max_len: int = 20) -> list[str]:
    probs = zipf_probs(len(vocab))
    lengths = rng.integers(min_len, max_len + 1, n)
    words = rng.choice(len(vocab), size=int(lengths.sum()), p=probs)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(vocab[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def gaussian_vectors(rng: np.random.Generator, n: int,
                     dim: int = DIM) -> np.ndarray:
    return rng.standard_normal((n, dim)).astype(np.float32)


def query_vector(rng: np.random.Generator, dim: int = DIM) -> list[float]:
    # 4-decimal literals: what a client would send, and exact in both engines
    return [round(float(x), 4) for x in rng.standard_normal(dim)]


@dataclass
class Corpus:
    """Points (id, vector, text, category) plus typed edges."""

    ids: np.ndarray
    vectors: np.ndarray
    texts: list[str]
    categories: np.ndarray
    edge_src: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    edge_dst: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    edge_label: list[str] = field(default_factory=list)

    def points_table(self) -> pa.Table:
        return points_table(self.ids, self.vectors, self.texts,
                            self.categories)

    def edges_table(self) -> pa.Table:
        n = len(self.edge_src)
        return pa.table({
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "src": pa.array(self.edge_src, pa.int64()),
            "dst": pa.array(self.edge_dst, pa.int64()),
            "label": pa.array(self.edge_label, pa.string()),
        })


def points_table(ids, vectors, texts, categories) -> pa.Table:
    dim = vectors.shape[1]
    return pa.table({
        "id": pa.array(np.asarray(ids, np.int64)),
        "vector": pa.FixedSizeListArray.from_arrays(
            pa.array(np.ascontiguousarray(vectors, np.float32).reshape(-1)),
            dim).cast(pa.list_(pa.float32())),
        "text": pa.array(texts, pa.string()),
        "category": pa.array(np.asarray(categories, np.int64)),
    })


def interactive_corpus(seed: int, n: int = 20_000, n_edges: int = 60_000,
                       vocab_size: int = 2_000) -> Corpus:
    rng = rng_for(seed, "interactive.corpus")
    vocab = vocabulary(vocab_size)
    src = rng.integers(0, n, n_edges)
    dst = rng.integers(0, n, n_edges)
    keep = src != dst  # no self loops
    labels = rng.choice(len(EDGE_LABELS), n_edges)
    return Corpus(
        ids=np.arange(n, dtype=np.int64),
        vectors=gaussian_vectors(rng, n),
        texts=zipf_texts(rng, n, vocab),
        categories=rng.integers(0, N_CATEGORIES, n),
        edge_src=src[keep].astype(np.int64),
        edge_dst=dst[keep].astype(np.int64),
        edge_label=[EDGE_LABELS[i] for i in labels[keep]],
    )


def query_terms(rng: np.random.Generator, vocab_size: int,
                n_terms: int) -> str:
    # skip the ~20 head terms (stop-word-like) so a query selects documents
    ranks = rng.integers(20, min(vocab_size, 400), n_terms)
    return " ".join(f"w{r}" for r in ranks)


def interactive_ops(seed: int, n_nodes: int, n_rounds: int = 200,
                    vocab_size: int = 2_000) -> list[dict]:
    """A closed-loop op stream: each round is a seeded permutation of every
    op type, so all types get samples at the same rate. Every op carries
    fresh parameters (vector, terms, category, start node, k)."""
    rng = rng_for(seed, "interactive.ops")
    ops = []
    for _ in range(n_rounds):
        for t in rng.permutation(len(INTERACTIVE_OPS)):
            ops.append({
                "type": INTERACTIVE_OPS[t],
                "vector": query_vector(rng),
                "terms": query_terms(rng, vocab_size, int(rng.integers(1, 4))),
                "category": int(rng.integers(0, N_CATEGORIES)),
                "start": int(rng.integers(0, n_nodes)),
                "k": int(rng.integers(5, 16)),
            })
    return ops


@dataclass
class IngestPlan:
    base: Corpus
    batches: list[dict]  # {"ids", "vectors", "texts", "categories", "marker"}
    deletes: dict[int, list[int]]  # cycle index -> ids deleted in that cycle


def ingest_plan(seed: int, n_base: int = 10_000, batch: int = 1_000,
                n_cycles: int = 20, delete_every: int = 3,
                n_delete: int = 20, vocab_size: int = 2_000) -> IngestPlan:
    """Base load plus a sequence of upsert batches (half new ids, half
    updates of live ids) and periodic deletes. Each batch's texts carry a
    batch-unique marker term, so a text search for it must return exactly
    the live documents of that batch holding it (read-your-writes)."""
    rng = rng_for(seed, "ingest")
    vocab = vocabulary(vocab_size)
    base = Corpus(ids=np.arange(n_base, dtype=np.int64),
                  vectors=gaussian_vectors(rng, n_base),
                  texts=zipf_texts(rng, n_base, vocab),
                  categories=rng.integers(0, N_CATEGORIES, n_base))
    live = set(range(n_base))
    next_id = n_base
    batches, deletes = [], {}
    for c in range(n_cycles):
        n_new = batch // 2
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        upd = rng.choice(np.fromiter(sorted(live), np.int64),
                         batch - n_new, replace=False)
        ids = np.concatenate([new_ids, np.sort(upd)])
        texts = zipf_texts(rng, batch, vocab)
        marker = f"zbatch{c}"
        for j in range(0, batch, 50):  # every 50th doc of the batch
            texts[j] = f"{texts[j]} {marker}"
        batches.append({"ids": ids, "vectors": gaussian_vectors(rng, batch),
                        "texts": texts, "marker": marker,
                        "categories": rng.integers(0, N_CATEGORIES, batch)})
        live.update(int(i) for i in new_ids)
        if c % delete_every == delete_every // 2:
            gone = sorted(int(i) for i in rng.choice(
                np.fromiter(sorted(live), np.int64), n_delete, replace=False))
            deletes[c] = gone
            live.difference_update(gone)
    return IngestPlan(base, batches, deletes)
