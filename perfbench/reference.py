"""Independent references for every op the benchmark times.

k-NN runs in numpy (float64 over the generated float32 vectors), BM25 in
DuckDB over the same texts, graph walks in plain Python over the generated
edge lists. Each ``check_*`` returns None when the result matches and a
one-line reason when it does not. Checks compare scores with a tolerance
and ids through their reference scores, so exact score ties may come back
in either order.
"""

from __future__ import annotations

from collections import defaultdict, deque

import numpy as np
import pyarrow as pa

TOL = 1e-6

# BM25 parameters of velesdb_spark.functions.bm25 (the reference's bm25.rs)
K1, B = 1.2, 0.75


def cosine_scores(vectors: np.ndarray, query) -> np.ndarray:
    v = vectors.astype(np.float64)
    q = np.asarray(query, np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def check_scored(got: list[tuple[int, float]], ref: dict[int, float],
                  k: int) -> str | None:
    """got: (id, score) in returned order; ref: every candidate's score."""
    want = sorted(ref.values(), reverse=True)[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    scores = [s for _, s in got]
    if any(a < b - TOL for a, b in zip(scores, scores[1:])):
        return "scores not in descending order"
    for i, s in got:
        if i not in ref:
            return f"id {i} is not a candidate"
        if abs(ref[i] - s) > TOL * max(1.0, abs(s)):
            return f"id {i} score {s} != reference {ref[i]}"
    for a, b in zip(sorted(scores, reverse=True), want):
        if abs(a - b) > TOL * max(1.0, abs(b)):
            return f"top-{k} scores differ: {a} vs {b}"
    return None


def check_knn(got, ids: np.ndarray, vectors: np.ndarray, query, k: int,
              mask: np.ndarray | None = None) -> str | None:
    s = cosine_scores(vectors, query)
    if mask is not None:
        ids, s = ids[mask], s[mask]
    return check_scored(got, dict(zip(ids.tolist(), s.tolist())), k)


def check_knn_ids(got_ids: list[int], ids: np.ndarray, vectors: np.ndarray,
                  query, k: int, mask: np.ndarray) -> str | None:
    """For results that carry no score: the ids are k candidates and none
    ranks below the reference's k-th best."""
    s = cosine_scores(vectors, query)
    ref = dict(zip(ids[mask].tolist(), s[mask].tolist()))
    want = sorted(ref.values(), reverse=True)[:k]
    if len(got_ids) != len(want):
        return f"{len(got_ids)} rows, expected {len(want)}"
    for i in got_ids:
        if i not in ref or ref[i] < want[-1] - TOL:
            return f"id {i} is not in the reference top-{k}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids"
    return None


class Bm25Reference:
    """BM25 over a corpus table in DuckDB; tokenization mirrors the
    program's (the oracle's regex from __spark_entry__)."""

    def __init__(self, token_sql: str):
        import duckdb

        self.con = duckdb.connect()
        self.token_sql = token_sql

    def load(self, ids, texts) -> None:
        tbl = pa.table({"doc_id": pa.array(np.asarray(ids, np.int64)),
                        "text": pa.array(list(texts), pa.string())})
        self.con.register("corpus_arrow", tbl)
        toks = self.token_sql.format(c="text")
        self.con.execute(f"""
            CREATE OR REPLACE TABLE docs AS
            SELECT doc_id, len(t) AS dl, t FROM (
              SELECT doc_id, {toks} AS t FROM corpus_arrow) WHERE len(t) > 0
        """)
        self.con.execute("""
            CREATE OR REPLACE TABLE tf AS
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(t) AS term FROM docs)
            GROUP BY doc_id, term""")
        self.con.execute("""
            CREATE OR REPLACE TABLE dfreq AS
            SELECT term, count(*) AS df FROM tf GROUP BY term""")
        self.con.unregister("corpus_arrow")

    def scores(self, query_terms: list[str]) -> dict[int, float]:
        counts: dict[str, int] = {}
        for t in query_terms:
            counts[t] = counts.get(t, 0) + 1
        if not counts:
            return {}
        vals = ", ".join(f"('{t}', {c})" for t, c in counts.items())
        rows = self.con.execute(f"""
            WITH stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM docs),
            q(term, qtf) AS (VALUES {vals})
            SELECT tf.doc_id,
                   sum(q.qtf * ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                       * tf.tf * {K1 + 1.0}
                       / (tf.tf + {K1} * (1 - {B} + {B} * dd.dl / s.avgdl)))
            FROM tf JOIN q USING (term) JOIN dfreq d USING (term)
            JOIN docs dd ON dd.doc_id = tf.doc_id CROSS JOIN stats s
            GROUP BY tf.doc_id""").fetchall()
        return {int(i): float(s) for i, s in rows if s > 0}

    def close(self) -> None:
        self.con.close()


def tokenize(text: str) -> list[str]:
    """Query-side tokens, the rule of the program's driver-side tokenizer:
    lower-case, split on non-alphanumerics and '_', keep tokens longer
    than one byte."""
    import re

    return [t for t in re.split(r"[\W_]+", text.lower())
            if len(t.encode("utf-8")) > 1]


def rrf_reference(vec_ref: dict[int, float], text_ref: dict[int, float],
                  k: int) -> dict[int, float]:
    """Hybrid RRF over the two legs' top-2k: sum of 1/(rank + 60), 0-based
    rank by score descending, id ascending."""
    fused: dict[int, float] = defaultdict(float)
    for leg in (vec_ref, text_ref):
        ranked = sorted(leg.items(), key=lambda kv: (-kv[1], kv[0]))[:2 * k]
        for rank, (i, _) in enumerate(ranked):
            fused[i] += 1.0 / (rank + 60.0)
    return dict(fused)


def check_hybrid(got, fused: dict[int, float], k: int) -> str | None:
    """Fused scores must equal the reference's top-k; ids must be fused
    candidates. A rank tie inside a leg may swap two ids' fused scores, so
    ids are not pinned to a score here."""
    want = sorted(fused.values(), reverse=True)[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, _ in got:
        if i not in fused:
            return f"id {i} is in neither leg"
    for a, b in zip(sorted((s for _, s in got), reverse=True), want):
        if abs(a - b) > 1e-9:
            return f"fused scores differ: {a} vs {b}"
    return None


class Graph:
    def __init__(self, src, dst, labels):
        self.out: dict[int, list[tuple[int, str]]] = defaultdict(list)
        for s, d, lbl in zip(src.tolist(), dst.tolist(), labels):
            self.out[s].append((d, lbl))

    def bfs(self, start: int, max_depth: int) -> set[tuple[int, int]]:
        """(node, min depth) reachable in 1..max_depth hops, start
        excluded."""
        depth = {start: 0}
        queue = deque([start])
        while queue:
            n = queue.popleft()
            if depth[n] == max_depth:
                continue
            for d, _ in self.out.get(n, ()):
                if d not in depth:
                    depth[d] = depth[n] + 1
                    queue.append(d)
        return {(n, d) for n, d in depth.items() if n != start}

    def two_hop(self, start: int, l1: str, l2: str) -> set[tuple[int, int]]:
        """Distinct (b, c) with start -l1-> b -l2-> c."""
        return {(b, c) for b, la in self.out.get(start, ()) if la == l1
                for c, lb in self.out.get(b, ()) if lb == l2}
