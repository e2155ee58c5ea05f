"""The benchmark's workloads, driven through the public API.

A workload owns its inputs and the program objects built from them. The
harness calls ``setup()`` (one complete set-up from a seed), ``warm()``
once, then draws ``rounds()``: each round is a list of ops, and each op is
a closure that calls the API and returns a DataFrame to collect, or None
for a write. Every op carries a ``check`` that compares the collected
rows with an independent reference after the timed window.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

import numpy as np
import pyarrow.parquet as pq

import gen
import reference as ref


@dataclass
class Op:
    type: str
    family: str  # knn | text | hybrid | graph | sql | write
    build: Callable[[], object]
    check: Optional[Callable[[list], Optional[str]]] = None
    rows: int = 0  # rows written, for write ops
    read: bool = True
    # reference bookkeeping, run by the harness outside the timed op
    before: Optional[Callable[[], None]] = None
    after: Optional[Callable[[], None]] = None


FAMILY = {"search": "knn", "search_with_filter": "knn",
          "text_search": "text", "hybrid_search": "hybrid",
          "velesql_select": "sql", "velesql_match": "graph",
          "traverse_bfs": "graph"}


def _scored(rows, id_col="id"):
    return [(int(r[id_col]), float(r["score"])) for r in rows]


def _token_sql() -> str:
    import __spark_entry__ as entry

    return entry._DK_BM25_TOKS


class Interactive:
    """In-memory collection, persisted; BM25 index built in set-up; a
    seeded permutation of the seven read op types per round."""

    name = "interactive"
    nominal_round_s = 3.5  # 3 rounds in a 10 s window
    sizes = {"points": 20_000, "vocab": 2_000, "edges": 60_000}

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.bm25_ref = ref.Bm25Reference(_token_sql())

    def setup(self) -> None:
        from velesdb_spark.database import Collection

        self.spark.catalog.clearCache()
        s = self.sizes
        c = gen.interactive_corpus(self.seed, s["points"], s["edges"],
                                   s["vocab"])
        pdir = os.path.join(self.work, "points.parquet")
        edir = os.path.join(self.work, "edges.parquet")
        pq.write_table(c.points_table(), pdir)
        pq.write_table(c.edges_table(), edir)
        points = self.spark.read.parquet(pdir).cache()
        edges = self.spark.read.parquet(edir).cache()
        points.count()
        edges.count()
        self.col = Collection(self.spark, "docs", gen.DIM, "cosine",
                              df=points, text_col="text", edges=edges)
        self.col.text_search("w30", 5).collect()  # builds the BM25 index
        self.corpus = c
        self._refs_for = None
        self._stream = iter(gen.interactive_ops(
            self.seed, s["points"], vocab_size=s["vocab"]))

    def _refs(self):
        """Graph and BM25 references, built on first use (after the timed
        window), so their cost is not charged to set-up."""
        if self._refs_for is not self.corpus:
            c = self.corpus
            self.graph = ref.Graph(c.edge_src, c.edge_dst, c.edge_label)
            self.bm25_ref.load(c.ids, c.texts)
            self._refs_for = c
        return self.graph, self.bm25_ref

    def warm(self) -> None:
        for op in self.round():
            df = op.build()
            if df is not None:
                df.collect()

    def round(self) -> list[Op]:
        return [self._op(next(self._stream))
                for _ in range(len(gen.INTERACTIVE_OPS))]

    def rounds(self) -> Iterator[list[Op]]:
        while True:
            yield self.round()

    def _op(self, p: dict) -> Op:
        from pyspark.sql import functions as F

        col, c, t = self.col, self.corpus, p["type"]
        v, k, cat = p["vector"], p["k"], p["category"]
        mask = c.categories == cat
        if t == "search":
            build = lambda: col.search(v, k)  # noqa: E731
            check = lambda rows: ref.check_knn(  # noqa: E731
                _scored(rows), c.ids, c.vectors, v, k)
        elif t == "search_with_filter":
            build = lambda: col.search_with_filter(  # noqa: E731
                v, F.col("category") == cat, k)
            check = lambda rows: ref.check_knn(  # noqa: E731
                _scored(rows), c.ids, c.vectors, v, k, mask)
        elif t == "text_search":
            terms = p["terms"]
            build = lambda: col.text_search(terms, k)  # noqa: E731
            check = lambda rows: ref.check_scored(  # noqa: E731
                _scored(rows), self._refs()[1].scores(ref.tokenize(terms)), k)
        elif t == "hybrid_search":
            terms = p["terms"]
            build = lambda: col.hybrid_search(terms, v, k)  # noqa: E731

            def check(rows):
                vec = dict(zip(c.ids.tolist(),
                               ref.cosine_scores(c.vectors, v).tolist()))
                fused = ref.rrf_reference(
                    vec, self._refs()[1].scores(ref.tokenize(terms)), k)
                return ref.check_hybrid(_scored(rows), fused, k)
        elif t == "velesql_select":
            sql = (f"SELECT id, category FROM docs WHERE category = {cat} "
                   f"ORDER BY similarity(vector, $v) DESC LIMIT {k}")
            build = lambda: col.query(sql, {"v": v})  # noqa: E731

            def check(rows):
                if any(int(r["category"]) != cat for r in rows):
                    return "row outside the WHERE filter"
                return ref.check_knn_ids([int(r["id"]) for r in rows],
                                         c.ids, c.vectors, v, k, mask)
        elif t == "velesql_match":
            start = p["start"]
            sql = (f"MATCH (a)-[:CITES]->(b)-[:LINKS]->(c) "
                   f"WHERE a.id = {start} RETURN b.id AS b, c.id AS c")
            build = lambda: col.query(sql)  # noqa: E731

            def check(rows):
                got = [(int(r["b"]), int(r["c"])) for r in rows]
                want = self._refs()[0].two_hop(start, "CITES", "LINKS")
                if len(got) != len(set(got)) or set(got) != want:
                    return f"{len(got)} paths, expected {len(want)}"
                return None
        else:  # traverse_bfs
            start = p["start"]
            build = lambda: col.traverse_bfs(start, 3)  # noqa: E731

            def check(rows):
                got = {(int(r["node_id"]), int(r["depth"])) for r in rows}
                want = self._refs()[0].bfs(start, 3)
                if len(rows) != len(got) or got != want:
                    return f"{len(rows)} nodes, expected {len(want)}"
                return None
        return Op(t, FAMILY[t], build, check)

    def skip_warm_round(self) -> None:
        """After a fresh set-up, step the op stream past the warm round,
        so no timed op repeats one the process already ran."""
        self.round()

    def layer_state(self) -> dict:
        return {"bm25.plan_nodes": plan_nodes(self.col._bm25.postings)}

    def extra_metrics(self) -> dict:
        return {}

    def close(self) -> None:
        self.bm25_ref.close()


class Ingest:
    """Durable collection on the log-structured store. A round (cycle)
    upserts a batch, then reads it back with two k-NN searches and one
    text search; some cycles also delete ids and flush."""

    name = "ingest"
    # the first cycles on 4 cores; later ones are slower, because each
    # upsert composes one more delta into the text index
    nominal_round_s = 5.0
    sizes = {"base": 10_000, "batch": 1_000, "vocab": 2_000,
             "delete_every": 3, "deletes": 20}

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.bm25_ref = ref.Bm25Reference(_token_sql())

    def setup(self) -> None:
        from velesdb_spark.database import Database

        self.spark.catalog.clearCache()
        s = self.sizes
        self.plan = gen.ingest_plan(self.seed, s["base"], s["batch"],
                                    delete_every=s["delete_every"],
                                    n_delete=s["deletes"],
                                    vocab_size=s["vocab"])
        self.db_path = os.path.join(self.work, "db")
        shutil.rmtree(self.db_path, ignore_errors=True)
        base = os.path.join(self.work, "base.parquet")
        pq.write_table(self.plan.base.points_table(), base)
        db = Database(self.spark, self.db_path)
        self.col = db.create_collection("docs", gen.DIM, "cosine",
                                        text_col="text")
        self.col.upsert(self.spark.read.parquet(base))
        self.col.text_search("w30", 5).collect()  # builds the BM25 index
        b = self.plan.base
        self.live = {"ids": b.ids, "vectors": b.vectors,
                     "texts": dict(zip(b.ids.tolist(), b.texts))}
        self.upserted_bytes = 0
        self._cycle = 0

    def warm(self) -> None:
        """Run one cycle with a delete and a flush on the state set-up
        left; the next set-up starts from scratch again."""
        for op in self._cycle_ops(1):
            out = op.build()
            if op.read:
                out.collect()

    def rounds(self) -> Iterator[list[Op]]:
        while self._cycle < len(self.plan.batches):
            yield self._cycle_ops(self._cycle)
            self._cycle += 1

    def _apply(self, ids, vectors=None, texts=None) -> None:
        """Advance the reference state: upsert (vectors given) or delete."""
        live = self.live
        keep = ~np.isin(live["ids"], ids)
        new_texts = dict(live["texts"])
        if vectors is None:
            for i in ids:
                new_texts.pop(int(i), None)
            self.live = {"ids": live["ids"][keep],
                         "vectors": live["vectors"][keep], "texts": new_texts}
            return
        new_texts.update(zip(ids.tolist(), texts))
        self.live = {"ids": np.concatenate([live["ids"][keep], ids]),
                     "vectors": np.concatenate([live["vectors"][keep],
                                                vectors]),
                     "texts": new_texts}

    def _cycle_ops(self, c: int) -> list[Op]:
        col, b = self.col, self.plan.batches[c]
        tbl = gen.points_table(b["ids"], b["vectors"], b["texts"],
                               b["categories"])
        batch_df = self.spark.createDataFrame(tbl.to_pandas())
        n = len(b["ids"])
        self.upserted_bytes += user_bytes(b["texts"], n)

        # one query per half of the batch, each with a row's new vector, so
        # the top hit must be that row: an insert and an update made visible
        queries = [[float(x) for x in b["vectors"][j]] for j in (0, n // 2)]
        marker, k, k_text = b["marker"], 10, 30
        snap = {}

        def take_snapshot():
            snap["live"] = self.live  # _apply never mutates a state

        def knn_op(qv, before=None):
            def check(rows):
                live = snap["live"]
                return ref.check_knn(_scored(rows), live["ids"],
                                     live["vectors"], qv, k)

            return Op("search", "knn", lambda: col.search(qv, k), check,
                      before=before)

        def text_check(rows):
            return ref.check_scored(
                _scored(rows), self._text_ref(snap["live"], marker), k_text)

        ops = [Op("upsert", "write", lambda: col.upsert(batch_df), rows=n,
                  read=False,
                  after=lambda: self._apply(b["ids"], b["vectors"],
                                            b["texts"])),
               knn_op(queries[0], before=take_snapshot),
               knn_op(queries[1]),
               Op("text_search", "text", lambda: col.text_search(marker,
                                                                 k_text),
                  text_check)]
        gone = self.plan.deletes.get(c)
        if gone:
            ops += [Op("delete", "write", lambda: col.delete(gone),
                       rows=len(gone), read=False,
                       after=lambda: self._apply(np.asarray(gone, np.int64))),
                    Op("flush", "write", col.flush, read=False)]
        return ops

    def _text_ref(self, live: dict, marker: str):
        """Reference scores for a marker query over a live state. Only the
        docs holding the marker can score, but BM25 needs the corpus
        statistics, so the whole live corpus is loaded."""
        texts = live["texts"]
        self.bm25_ref.load(list(texts), list(texts.values()))
        return self.bm25_ref.scores([marker])

    def skip_warm_round(self) -> None:
        """The warm cycle ran on a discarded state: nothing to skip."""

    def layer_state(self) -> dict:
        import json

        with open(os.path.join(self.db_path, "docs", "points_log",
                               "MANIFEST.json")) as f:
            segments = len(json.load(f)["segments"])
        b = self.plan.base
        written = user_bytes(b.texts, len(b.ids)) + self.upserted_bytes
        return {"bm25.plan_nodes": plan_nodes(self.col._bm25.postings),
                "storage.segments": segments,
                "storage.bytes_written_per_user_byte":
                    disk_bytes(self.db_path) / written}

    def extra_metrics(self) -> dict:
        disk = disk_bytes(self.db_path)
        live_bytes = user_bytes(list(self.live["texts"].values()),
                                len(self.live["ids"]))
        return {"space_amp": disk / live_bytes, "disk_mb": disk / 2**20}

    def close(self) -> None:
        self.bm25_ref.close()


def plan_nodes(df) -> int:
    """Operators in a frame's analyzed plan (one per tree line)."""
    return len(df._jdf.queryExecution().analyzed().treeString()
               .strip().splitlines())


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def user_bytes(texts, n: int) -> int:
    """Bytes of user data in n points: id and category (8 bytes each), the
    f32 vector and the UTF-8 text."""
    return n * (16 + 4 * gen.DIM) + sum(len(t.encode()) for t in texts)


WORKLOADS = {w.name: w for w in (Interactive, Ingest)}
