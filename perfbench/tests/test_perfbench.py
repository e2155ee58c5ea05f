"""Tests of the benchmark's own machinery; none of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider -p no:benchmark
"""

import numpy as np
import pytest

import gen
import layers
import reference as ref
import stats
from tracer import Span, Tracer, self_times


# ---------------------------------------------------------------- generators
def test_interactive_corpus_is_deterministic():
    a = gen.interactive_corpus(7, n=500, n_edges=1500, vocab_size=200)
    b = gen.interactive_corpus(7, n=500, n_edges=1500, vocab_size=200)
    assert np.array_equal(a.vectors, b.vectors)
    assert a.texts == b.texts
    assert np.array_equal(a.categories, b.categories)
    assert np.array_equal(a.edge_src, b.edge_src)
    assert a.edge_label == b.edge_label
    assert a.points_table().equals(b.points_table())
    c = gen.interactive_corpus(8, n=500, n_edges=1500, vocab_size=200)
    assert not np.array_equal(a.vectors, c.vectors)


def test_interactive_ops_are_deterministic_and_balanced():
    a = gen.interactive_ops(3, n_nodes=100, n_rounds=5)
    assert a == gen.interactive_ops(3, n_nodes=100, n_rounds=5)
    assert a != gen.interactive_ops(4, n_nodes=100, n_rounds=5)
    n = len(gen.INTERACTIVE_OPS)
    for r in range(5):  # every round holds each op type once
        assert sorted(o["type"] for o in a[r * n:(r + 1) * n]) == \
            sorted(gen.INTERACTIVE_OPS)


def test_ingest_plan_is_deterministic():
    a = gen.ingest_plan(5, n_base=300, batch=40, n_cycles=4, delete_every=2,
                        n_delete=3)
    b = gen.ingest_plan(5, n_base=300, batch=40, n_cycles=4, delete_every=2,
                        n_delete=3)
    assert a.base.texts == b.base.texts
    assert a.deletes == b.deletes
    for x, y in zip(a.batches, b.batches):
        assert np.array_equal(x["ids"], y["ids"])
        assert np.array_equal(x["vectors"], y["vectors"])
        assert x["texts"] == y["texts"]


def test_ingest_batches_mix_new_and_live_ids():
    plan = gen.ingest_plan(1, n_base=300, batch=40, n_cycles=6,
                           delete_every=2, n_delete=3)
    live = set(range(300))
    for c, b in enumerate(plan.batches):
        ids = b["ids"].tolist()
        assert len(set(ids)) == len(ids) == 40
        new = [i for i in ids if i not in live]
        assert len(new) == 20  # half new ids, half updates of live ids
        assert all(b["marker"] in t for t in b["texts"][::50])
        live.update(ids)
        live.difference_update(plan.deletes.get(c, []))


# ---------------------------------------------------------------- percentiles
def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 91))  # p90 = 81.1: only 82..90 lie beyond
    assert stats.percentile(xs, 0.90) is None
    xs = list(range(1, 101))  # p90 = 90.1: 91..100 lie beyond
    assert stats.percentile(xs, 0.90) == pytest.approx(90.1)
    for n in range(1, 160):
        xs = [float(i) for i in range(n)]
        v = stats.percentile(xs, 0.90)
        beyond = sum(x > float(np.percentile(xs, 90)) for x in xs)
        assert (v is None) == (beyond < stats.MIN_BEYOND)
    assert stats.percentile([], 0.5) is None


def test_highest_reportable_keeps_ten_beyond():
    for n in (20, 37, 100, 250):
        xs = [float(i) for i in range(n)]
        pct, v = stats.highest_reportable(xs)
        assert sum(x > v for x in xs) >= stats.MIN_BEYOND
        nxt = stats.percentile(xs, (pct + 1) / 100) if pct < 99 else None
        assert nxt is None  # one step higher would be under-sampled
    assert stats.highest_reportable([1.0] * 19) is None


def test_iqr_share_matches_definition():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, q2, q3 = 10.5, 12.0, 13.5  # statistics.quantiles' exclusive method
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / q2)


# ---------------------------------------------------------------- spans
def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", "x", 0, parent, start, end)


def test_self_time_is_span_minus_child_covered_time():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0),
             _span(2, 0, 3.0, 6.0),   # overlaps child 1: union is 1..6
             _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
             _span(4, 1, 2.0, 3.0)]   # grandchild: not the root's child
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_times_of_an_op_add_up_to_its_wall():
    spans = [_span(0, None, 0.0, 5.0), _span(1, 0, 0.5, 2.0),
             _span(2, 1, 1.0, 1.5), _span(3, 0, 2.0, 4.5)]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(5.0)


def test_tracer_nests_spans_and_counts_round_trips():
    t = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(t)))
    with tracer.span("op", "op"):
        tracer.count_py4j()
        with tracer.span("inner", "topk"):
            tracer.count_py4j()
            tracer.count_py4j()
    op, inner = tracer.spans
    assert inner.parent == op.sid and op.parent is None
    assert (op.py4j, inner.py4j) == (1, 2)
    m = layers.op_layers(tracer.spans, self_times(tracer.spans), op)
    assert m["topk.build_ms"] == pytest.approx(1000.0 * (inner.end
                                                        - inner.start))


def test_tracer_wraps_names_bound_at_import_sites():
    from velesdb_spark.velesql import parser, translator

    orig = parser.parse
    tracer = Tracer()
    tracer.install(targets=[("velesdb_spark.velesql.parser", "parse",
                             "velesql.parse")])
    try:
        assert parser.parse is not orig
        assert translator.parse is parser.parse  # `from parser import parse`
    finally:
        tracer.uninstall()
    assert parser.parse is orig and translator.parse is orig


def test_tracer_reports_unreachable_layers_as_missing():
    tracer = Tracer()
    tracer.install(targets=[("velesdb_spark.velesql.parser", "no_such_fn",
                             "velesql.parse")])
    tracer.uninstall()
    assert tracer.missing == ["velesdb_spark.velesql.parser.no_such_fn"]


# ---------------------------------------------------------------- plans
def test_count_scans_skips_plans_under_cached_relations():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) Project [id#1L]
   +- BroadcastHashJoin [id#1L], [id#9L], Inner, BuildRight
      :- InMemoryTableScan [id#1L]
      :     +- InMemoryRelation [id#1L], StorageLevel(disk, memory)
      :           +- *(1) ColumnarToRow
      :              +- FileScan parquet [id#1L] Batched: true
      +- *(1) ColumnarToRow
         +- FileScan parquet [id#9L] Batched: true
+- == Initial Plan ==
   FileScan parquet [id#9L]
"""
    assert layers.count_scans(plan) == {"exec.file_scans": 1,
                                        "exec.cached_scans": 1}


# ---------------------------------------------------------------- references
def test_knn_check_accepts_ties_and_rejects_wrong_ids():
    rng = np.random.default_rng(0)
    vec = rng.standard_normal((50, 8)).astype(np.float32)
    ids = np.arange(50)
    q = rng.standard_normal(8).tolist()
    s = ref.cosine_scores(vec, q)
    top = np.argsort(-s)[:5]
    got = [(int(i), float(s[i])) for i in top]
    assert ref.check_knn(got, ids, vec, q, 5) is None
    worst = int(np.argmin(s))
    bad = got[:4] + [(worst, float(s[worst]))]
    assert ref.check_knn(bad, ids, vec, q, 5) is not None
    assert ref.check_knn(got[:4], ids, vec, q, 5) is not None
    # a duplicate of the 5th hit ties with it: either id is a right answer
    twin = np.vstack([vec, vec[top[4]]])
    twin_ids = np.append(ids, 99)
    alt = got[:4] + [(99, got[4][1])]
    assert ref.check_knn(alt, twin_ids, twin, q, 5) is None
    assert ref.check_knn(got, twin_ids, twin, q, 5) is None


def test_bm25_reference_matches_hand_computed_score():
    import math

    b = ref.Bm25Reference(
        r"list_filter(regexp_split_to_array(lower({c}), "
        r"'[^\p{{L}}\p{{N}}]+'), x -> octet_length(encode(x)) > 1)")
    b.load([1, 2, 3], ["aa bb", "aa aa cc", "cc dd ee"])
    got = b.scores(["aa"])
    b.close()
    n, df, avgdl = 3, 2, 8 / 3
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def score(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert got == pytest.approx({1: score(1, 2), 2: score(2, 3)})


def test_graph_reference_bfs_and_two_hop():
    g = ref.Graph(np.array([1, 2, 2, 3, 1]), np.array([2, 3, 4, 1, 3]),
                  ["CITES", "LINKS", "LINKS", "CITES", "LINKS"])
    assert g.bfs(1, 2) == {(2, 1), (3, 1), (4, 2)}
    assert g.two_hop(1, "CITES", "LINKS") == {(2, 3), (2, 4)}
