"""Spans and counters recorded from outside the program.

The tracer wraps the public functions of each layer inside the benchmark's
own process; the program is never edited. A wrapped call opens a span
(name, layer, start, end, parent, op id); spans live in memory and are
written out once, when the run ends. While a tracer is active it also
counts py4j gateway round-trips (``send_command``, except the proxy
releases the garbage collector triggers) and charges each to the innermost
open span.

``self_times`` is the one piece of arithmetic the per-layer table rests on:
a span's self time is its duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from dataclasses import dataclass
from typing import Callable, Optional

# (module, attribute path, layer). An attribute path "Cls.meth" wraps a
# method on the class, so every instance sees it. A plain function is also
# re-bound in every loaded module that imported it by name, because such
# callers look the name up in their own namespace.
LAYER_TARGETS = [
    ("velesdb_spark.velesql.parser", "parse", "velesql.parse"),
    ("velesdb_spark.velesql.translator", "translate", "velesql.translate"),
    ("velesdb_spark.database", "Collection.search", "database"),
    ("velesdb_spark.database", "Collection.search_with_filter", "database"),
    ("velesdb_spark.database", "Collection.text_search", "database"),
    ("velesdb_spark.database", "Collection.hybrid_search", "database"),
    ("velesdb_spark.database", "Collection.query", "database"),
    ("velesdb_spark.database", "Collection.traverse_bfs", "database"),
    ("velesdb_spark.database", "Collection.upsert", "database"),
    ("velesdb_spark.database", "Collection.delete", "database"),
    ("velesdb_spark.database", "Collection.flush", "database"),
    ("velesdb_spark.operators.topk", "knn", "topk"),
    ("velesdb_spark.functions.bm25", "Bm25Index.scores", "bm25.scores"),
    ("velesdb_spark.functions.bm25", "Bm25Index.__init__",
     "bm25.index_build"),
    ("velesdb_spark.functions.bm25", "Bm25Index.incremental_update",
     "bm25.incremental_update"),
    ("velesdb_spark.functions.fusion", "fuse_hybrid_rrf", "fusion"),
    ("velesdb_spark.operators.graph", "bfs", "graph"),
    ("velesdb_spark.operators.graph", "translate_match", "graph"),
    ("velesdb_spark.functions.staging", "stage", "staging.stage"),
    ("velesdb_spark.functions.staging", "release_staged", "staging.release"),
    ("velesdb_spark.storage", "LogStore.append_upsert", "storage.append"),
    ("velesdb_spark.storage", "LogStore.append_delete", "storage.append"),
    ("velesdb_spark.storage", "LogStore.read", "storage.read"),
    ("velesdb_spark.storage", "LogStore.compact", "storage.compact"),
]


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op_id: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    py4j: int = 0  # round-trips while this span was innermost

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "op": self.op_id, "parent": self.parent,
                "start": self.start, "end": self.end, "py4j": self.py4j}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent), so overlapping children are not counted
    twice."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in children.get(s.sid, []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans while installed; ``uninstall`` restores every patched
    name. Single client thread, so the span stack needs no lock."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op_id = -1
        self.enabled = True  # when False, wrapped calls record nothing
        self.missing: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, layer, self.op_id, parent,
                 self.clock())
        self.spans.append(s)
        self.stack.append(s)
        return s

    def close(self, span: Span) -> None:
        span.end = self.clock()
        # tolerate exceptions unwinding several frames at once
        while self.stack and self.stack[-1] is not span:
            self.stack.pop().end = span.end
        if self.stack:
            self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def count_py4j(self) -> None:
        if self.stack:
            self.stack[-1].py4j += 1

    # ------------------------------------------------------------ patching
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            s = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(s)

        traced.__perfbench_orig__ = fn
        return traced

    def _set(self, owner, attr: str, value) -> None:
        # a class keeps the raw function from its __dict__, not the
        # descriptor-bound attribute, so restoring is exact
        self._patches.append((owner, attr, vars(owner)[attr]
                              if isinstance(owner, type)
                              else getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self, targets=LAYER_TARGETS, gateway_client=None) -> None:
        for mod_name, path, layer in targets:
            try:
                mod = importlib.import_module(mod_name)
                owner, attr = mod, path
                if "." in path:
                    cls_name, attr = path.split(".", 1)
                    owner = getattr(mod, cls_name)
                orig = getattr(owner, attr)
            except (ImportError, AttributeError):
                self.missing.append(f"{mod_name}.{path}")
                continue
            wrapped = self._wrap(orig, path, layer)
            self._set(owner, attr, wrapped)
            if owner is mod:
                # names bound at import sites: `from m import f` callers
                for other in list(sys.modules.values()):
                    name = getattr(other, "__name__", "")
                    if other is mod or not (
                            name.startswith("velesdb_spark")
                            or name == "__spark_entry__"):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            self._set(other, k, wrapped)
        if gateway_client is not None:
            orig_send = gateway_client.send_command

            @functools.wraps(orig_send)
            def counted(command, *args, **kwargs):
                # proxy releases ("m\nd\n...") follow Python's garbage
                # collector, not the program, so they are not counted
                if not command.startswith("m\nd\n"):
                    self.count_py4j()
                return orig_send(command, *args, **kwargs)

            self._set(gateway_client, "send_command", counted)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]
