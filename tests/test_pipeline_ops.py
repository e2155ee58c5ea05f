"""Round-8 pipeline operators: decontamination, repetition metrics,
epoch shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import ODD_NAMES
from velesdb_spark.functions import decontam as dc
from velesdb_spark.functions.sampling import epoch_shuffle, shuffle_key
from velesdb_spark.functions.text_analysis import repetition_stats_df


def test_repetition_stats_hand_computed(spark):
    """top_frac / dup_frac against hand-counted 2-gram multisets,
    including the empty-doc and all-identical edge cases."""
    rows = [(1, "a b a b a b c"),   # grams: ab ba ab ba ab bc
            (2, "x y z w"),        # 3 distinct grams
            (3, ""),               # no grams
            (4, "q q q q q")]      # 'q q' ×4
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r["_id"]: r for r in repetition_stats_df(df).collect()}
    assert out[1]["n_grams"] == 6
    assert abs(out[1]["top_frac"] - 3 / 6) < 1e-12      # 'a b' ×3
    assert abs(out[1]["dup_frac"] - 5 / 6) < 1e-12      # ab×3 + ba×2
    assert out[2]["n_grams"] == 3 and out[2]["dup_frac"] == 0.0
    assert abs(out[2]["top_frac"] - 1 / 3) < 1e-12
    assert out[3]["n_grams"] == 0
    assert out[3]["top_frac"] == 0.0 and out[3]["dup_frac"] == 0.0
    assert out[4]["top_frac"] == 1.0 and out[4]["dup_frac"] == 1.0


def test_repetition_stats_matches_explode_groupby(spark):
    """The map-only run-length fold must equal the explode+groupBy
    frequency-table formulation on arbitrary corpus text (differential
    against the shuffle-based reference implementation)."""
    import random

    from velesdb_spark.functions.text_analysis import (ngram_multiset,
                                                       normalized_text,
                                                       word_tokens)

    rng = random.Random(8)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 25))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, text string")

    fold = {r["_id"]: (r["n_grams"], round(r["top_frac"], 9),
                       round(r["dup_frac"], 9))
            for r in repetition_stats_df(df).collect()}

    toks = df.select(F.col("id").alias("_id"),
                     word_tokens(normalized_text(F.col("text")))
                     .alias("_toks"))
    ref = (toks.select("_id",
                       F.explode(ngram_multiset(F.col("_toks"), 2))
                       .alias("_g"))
           .groupBy("_id", "_g").agg(F.count("*").alias("c"))
           .groupBy("_id")
           .agg(F.sum("c").alias("total"), F.max("c").alias("best"),
                F.sum(F.when(F.col("c") > 1, F.col("c"))
                      .otherwise(F.lit(0))).alias("dup")))
    ref_map = {r["_id"]: (r["total"],
                          round(r["best"] / r["total"], 9),
                          round(r["dup"] / r["total"], 9))
               for r in ref.collect()}
    for _id, vals in ref_map.items():
        assert fold[_id] == vals, (_id, fold[_id], vals)
    # docs with <2 tokens never reach ref_map (no exploded rows): the
    # fold must report the zero struct for them
    for _id, vals in fold.items():
        if _id not in ref_map:
            assert vals == (0, 0.0, 0.0)


def test_decontaminate_flags_shared_shingles_only(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over dogs"),
         (2, "totally unrelated words appear here now"),
         (3, "a quick brown fox runs away fast"),
         (4, "")],
        "id bigint, text string")
    ev = spark.createDataFrame(
        [(100, "watch the quick brown fox appear")],
        "id bigint, text string")
    rows = dc.contamination_report(train, ev).collect()
    rep = {(r.train_id, r.eval_id): r.shared for r in rows}
    # docs 1 and 3 share the 'quick brown fox' 3-gram; 2 and 4 are clean
    assert set(rep) == {(1, 100), (3, 100)}
    assert rep[(1, 100)] >= 1
    # containment = shared / |train shingle set| (5 shingles for doc 1's
    # 7 tokens, 1 shared)
    cont = {(r.train_id, r.eval_id): r.containment for r in rows}
    assert abs(cont[(1, 100)] - rep[(1, 100)] / 5) < 1e-12
    assert all(0.0 < c <= 1.0 for c in cont.values())
    kept = sorted(r.id for r in dc.decontaminate(train, ev).collect())
    assert kept == [2, 4]
    # min_shared above the overlap keeps everything
    kept2 = sorted(r.id for r in
                   dc.decontaminate(train, ev, min_shared=5).collect())
    assert kept2 == [1, 2, 3, 4]
    # decontaminate preserves the full row schema
    assert dc.decontaminate(train, ev).columns == ["id", "text"]


def test_decontam_plan_broadcasts_eval_side(spark):
    """The train corpus must never shuffle for the contamination join:
    the eval postings are broadcast (plan-asserted)."""
    train = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
        "id bigint, text string")
    ev = spark.createDataFrame([(9, "w10 w11 w12 w13")],
                               "id bigint, text string")
    plan = dc.contamination_report(train, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_exact_permutation_and_plan(spark):
    df = spark.range(0, 500)
    out = epoch_shuffle(df, "epochA", "id", partitions=7)
    rows = out.collect()
    assert sorted(r.pos for r in rows) == list(range(1, 501))
    # equals the single-sort global order (the semantics being avoided
    # physically must still be matched exactly)
    exp = df.withColumn("_k", shuffle_key(F.col("id"), "epochA")) \
        .orderBy("_k", "id").collect()
    expmap = {r.id: i + 1 for i, r in enumerate(exp)}
    assert all(expmap[r.id] == r.pos for r in rows)
    # a different seed is a different permutation
    other = {r.id: r.pos for r in
             epoch_shuffle(df, "epochB", "id", partitions=7).collect()}
    assert any(other[r.id] != r.pos for r in rows)
    # deterministic across invocations
    again = {r.id: r.pos for r in
             epoch_shuffle(df, "epochA", "id", partitions=7).collect()}
    assert {(r.id, r.pos) for r in rows} == set(again.items())
    # scale shape: the numbering window is partitioned — no global sort,
    # no single-partition exchange in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6's scale contract: every filter reaches the parquet scan
    (PushedFilters) and only the four referenced columns are read
    (ReadSchema) — at 100 TB this query is scan-bound with one
    map-combinable aggregate and no join."""
    import __spark_entry__ as e

    df = e.queries()["tpch_q6"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, (col, line)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity",
                "l_extendedprice"):
        assert col in read
    # column pruning: none of the other 7 lineitem columns are read
    for col in ("l_orderkey", "l_partkey", "l_comment", "l_tax",
                "l_returnflag"):
        assert col not in read, (col, read)


def test_cap_per_group_equals_single_window(spark):
    from pyspark.sql import Window

    from velesdb_spark.functions.sampling import cap_per_group

    # skewed fixture: one 400-row group, one 7-row group (< k), one 10-row
    rows = ([(i, "big") for i in range(400)]
            + [(1000 + i, "tiny") for i in range(7)]
            + [(2000 + i, "mid") for i in range(10)])
    df = spark.createDataFrame(rows, "id bigint, g string")
    naive_key = F.md5(F.concat(F.lit("cap:"), F.col("id").cast("string")))
    w = Window.partitionBy("g").orderBy(naive_key, "id")
    expect = sorted(
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10).select("g", "id").collect())
    for buckets in (1, 4, 32):
        got = sorted(cap_per_group(df, "g", 10, id_col="id", seed="cap",
                                   salt_buckets=buckets)
                     .select("g", "id").collect())
        assert got == expect, f"salt_buckets={buckets}"
    # groups smaller than k survive whole
    tiny = [r for r in expect if r[0] == "tiny"]
    assert len(tiny) == 7


def test_cap_per_group_cap_counts(spark):
    from velesdb_spark.functions.sampling import cap_per_group

    df = spark.range(0, 300).withColumn(
        "g", (F.col("id") % 3).cast("string"))
    out = cap_per_group(df, "g", 5, id_col="id").groupBy("g") \
        .count().collect()
    assert all(r["count"] == 5 for r in out) and len(out) == 3


def test_make_mixture_weighted_hits_char_shares(spark):
    from velesdb_spark.functions.mixture import (make_mixture,
                                                 make_mixture_weighted)

    # en docs are 10x longer than zh docs: a DOC-count 50/50 mix would
    # put ~91% of chars in en; the weighted mix must not
    rows = ([(i, "en", 1000) for i in range(2000)]
            + [(10_000 + i, "zh", 100) for i in range(2000)]
            + [(90_000 + i, "xx", 500) for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars int")
    targets = {"en": 0.5, "zh": 0.5}
    kept = make_mixture_weighted(df, "lang", targets,
                                 weight_col="n_chars", id_col="doc_id")
    by_lang = {r["lang"]: r["w"] for r in
               kept.groupBy("lang").agg(F.sum("n_chars").alias("w"))
               .collect()}
    assert set(by_lang) == {"en", "zh"}  # untargeted stratum dropped
    total = sum(by_lang.values())
    assert abs(by_lang["en"] / total - 0.5) < 0.05
    assert abs(by_lang["zh"] / total - 0.5) < 0.05
    # the doc-count mixture on the same corpus is char-skewed (sanity
    # that the weighted variant is actually doing something different)
    doc_kept = make_mixture(df, "lang", targets, id_col="doc_id")
    doc_by_lang = {r["lang"]: r["w"] for r in
                   doc_kept.groupBy("lang").agg(F.sum("n_chars").alias("w"))
                   .collect()}
    doc_total = sum(doc_by_lang.values())
    assert doc_by_lang["en"] / doc_total > 0.85


def test_make_mixture_weighted_deterministic_across_partitionings(spark):
    from velesdb_spark.functions.mixture import make_mixture_weighted

    rows = [(i, "a" if i % 3 else "b", 10 + i % 90) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars int")
    t = {"a": 0.6, "b": 0.4}
    one = sorted(r["doc_id"] for r in make_mixture_weighted(
        df.coalesce(1), "lang", t, "n_chars", "doc_id").collect())
    many = sorted(r["doc_id"] for r in make_mixture_weighted(
        df.repartition(13), "lang", t, "n_chars", "doc_id").collect())
    assert one == many and len(one) > 0


def test_percentile_prune_tie_heavy_scores(spark):
    from velesdb_spark.functions.sampling import percentile_prune

    # worst case for a threshold cut: 60% of one stratum shares a single
    # score value; jitter must split the tie mass uniformly
    rows = ([(i, "a", 0.5) for i in range(600)]
            + [(1000 + i, "a", float(i % 5) / 10) for i in range(400)]
            + [(5000 + i, "b", float(i)) for i in range(200)])
    df = spark.createDataFrame(rows, "id bigint, g string, q double")
    kept = percentile_prune(df, "q", "g", 0.75, id_col="id")
    n = {r["g"]: r["count"] for r in kept.groupBy("g").count().collect()}
    assert abs(n["a"] / 1000 - 0.75) < 0.05
    assert abs(n["b"] / 200 - 0.75) < 0.05
    # pruning keeps the top: every dropped "b" row scores below every
    # kept "b" row (continuous scores, jitter can't reorder them)
    kept_b = {r["id"] for r in kept.filter("g = 'b'").collect()}
    dropped_b = {5000 + i for i in range(200)} - kept_b
    assert max(5000 + i for i in range(200) if 5000 + i in dropped_b) \
        < min(kept_b) or not dropped_b


def test_percentile_prune_deterministic(spark):
    from velesdb_spark.functions.sampling import percentile_prune

    rows = [(i, "x" if i % 2 else "y", float(i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, g string, q double")
    a = sorted(r["id"] for r in
               percentile_prune(df.coalesce(1), "q", "g", 0.6,
                                id_col="id").collect())
    b = sorted(r["id"] for r in
               percentile_prune(df.repartition(17), "q", "g", 0.6,
                                id_col="id").collect())
    assert a == b and len(a) > 0


def test_tpch_batch2_plan_shapes(spark):
    """Scale contracts for the round-8 TPC-H batch: dims and
    HAVING-filtered build sides broadcast (BroadcastHashJoin), and no
    plan degenerates to a nested-loop or cartesian join."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("tpch_q7", "tpch_q12", "tpch_q13", "tpch_q15",
                 "tpch_q18", "tpch_q19", "tpch_q22"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name == "tpch_q22":
            # the scalar avg is a conditionless 1-row broadcast join —
            # Spark plans that as BroadcastNestedLoopJoin, which is the
            # RIGHT plan here (O(n) map-side multiply against a single
            # aggregated row); what must never appear is an unbounded
            # nested loop, i.e. more than this one BNLJ
            assert plan.count("BroadcastNestedLoopJoin") == 1, name
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # q18: the HAVING-filtered order set is the broadcast build side
    plan18 = qs["tpch_q18"](spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan18
    # q19: part joins broadcast, filter not expanded to a union of scans
    plan19 = qs["tpch_q19"](spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan19
    assert plan19.count("Scan parquet") <= 2


def test_tpch_batch3_plan_shapes(spark):
    """Scale contracts for the TPC-H completion batch (Q1, Q2, Q9,
    Q11, Q16, Q20, Q21): Q1 stays scan-bound (date filter pushed to
    the parquet scan, exactly one aggregate exchange); the scalar
    totals in Q11 broadcast as 1-row builds; nothing degenerates to a
    cartesian or unbounded nested-loop join."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("tpch_q1", "tpch_q2", "tpch_q9", "tpch_q11",
                 "tpch_q16", "tpch_q20", "tpch_q21"):
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name == "tpch_q11":
            # the (total, n_parts) scalar is a conditionless 1-row
            # broadcast — exactly one BNLJ, same contract as q22
            assert plan.count("BroadcastNestedLoopJoin") == 1, name
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name
    # Q1: date predicate reaches the scan; one shuffle total (the
    # partial→final aggregate exchange) — the signature of a
    # scan-bound query at 100 TB
    plan1 = qs["tpch_q1"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" \
        in plan1
    assert plan1.count("Exchange") <= 2  # agg exchange + result sort
    # Q16: the negative-balance supplier exclusion is a broadcast
    # anti-join, never a shuffle of the pair-distinct set against a
    # 6-row table
    plan16 = qs["tpch_q16"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan16
    assert "LeftAnti" in plan16


def test_top_tokens_exact_within_capacity(spark):
    from velesdb_spark.functions.text_analysis import top_tokens

    rows = [(1, "a a a b b c"), (2, "a b b d"), (3, "a c c c")]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {r["token"]: r["cnt"]
           for r in top_tokens(df, "text", 3, max_items=100).collect()}
    # exact counts: a=5, b=4, c=4 (d=1 falls outside top-3)
    assert got == {"a": 5, "b": 4, "c": 4}


def test_lloyd_kmeans_matches_naive(spark):
    """Distributed Lloyd rounds equal a naive driver-side implementation
    on random integer points (same init, tie, and empty-cluster rules),
    including the assignment map and final counts."""
    import random

    from velesdb_spark.functions.clustering import (assign_clusters,
                                                    lloyd_kmeans)

    rng = random.Random(23)
    rows = [(i, float(rng.randrange(0, 500)), float(rng.randrange(0, 500)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, x double, y double")
    for k, iters in ((4, 1), (5, 3)):
        cents, summary = lloyd_kmeans(df, ["x", "y"], k=k,
                                      iterations=iters)
        # naive reference
        pts = sorted(rows)
        c = [(i, [float(pts[i][1]), float(pts[i][2])]) for i in range(k)]
        counts = {}
        for _ in range(iters):
            groups = {}
            for _id, x, y in pts:
                best = min(((x - cx) ** 2 + (y - cy) ** 2, cid)
                           for cid, (cx, cy) in c)
                groups.setdefault(best[1], []).append((x, y))
            counts = {cid: len(groups.get(cid, [])) for cid, _ in c}
            c = [(cid, [sum(p[0] for p in g) / len(g),
                        sum(p[1] for p in g) / len(g)]
                  if (g := groups.get(cid)) else coords)
                 for cid, coords in c]
        got = {r.cluster: (r.n, r.x, r.y) for r in summary.collect()}
        want = {cid: (counts[cid], coords[0], coords[1])
                for cid, coords in c}
        assert got == want, f"k={k} iters={iters}"
        # the assignment map is a pure map: no Exchange in its plan
        plan = assign_clusters(df, cents, ["x", "y"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    import pytest as _pt
    with _pt.raises(ValueError):
        lloyd_kmeans(df, ["x", "y"], k=0)
    with _pt.raises(ValueError):
        lloyd_kmeans(df.limit(2), ["x", "y"], k=5)


def test_cohort_retention_manual(spark):
    """Hand-built activity: two cohorts, known retention cells."""
    from datetime import datetime

    from velesdb_spark.operators.retention import WEEK_US, cohort_retention

    def t(day):
        return datetime(2024, 1, 1 + day)

    rows = [
        # users 1,2 start week 0; user 1 returns week 1; user 2 never
        (1, t(0)), (1, t(2)), (1, t(8)),
        (2, t(1)),
        # user 3 starts week 1, returns week 2
        (3, t(7)), (3, t(14)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort_bucket, r.k): (r.n_users, r.n_active, r.retention)
           for r in cohort_retention(df).collect()}
    base = next(b for (b, k) in got if k == 0 and got[(b, k)][0] == 2)
    assert got[(base, 0)] == (2, 2, 1.0)
    assert got[(base, 1)] == (2, 1, 0.5)
    assert (base + 1, 0) in got and got[(base + 1, 0)] == (1, 1, 1.0)
    assert got[(base + 1, 1)] == (1, 1, 1.0)
    assert (base, 2) not in got  # nobody from cohort 0 active week 2


def test_cohort_retention_guard(spark):
    from velesdb_spark.operators.retention import cohort_retention

    df = spark.createDataFrame([(1,)], "user_id long") \
        .selectExpr("user_id", "current_timestamp() as ts")
    import pytest as _pt
    with _pt.raises(ValueError, match="positive"):
        cohort_retention(df, bucket_us=0)


def test_robust_outliers_manual(spark):
    from velesdb_spark.operators.anomaly import robust_outliers

    rows = ([("a", i, float(10 + (i % 3))) for i in range(9)]
            + [("a", 99, 50.0),           # obvious outlier
               ("b", 200, 5.0), ("b", 201, 5.0), ("b", 202, 5.0)])
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = {r.id: r.score
           for r in robust_outliers(df, "v", "g", threshold=3.0)
           .collect()}
    assert 99 in got and got[99] > 3.0
    assert all(i not in got for i in range(9))
    # constant group: no anomalies
    assert all(i not in got for i in (200, 201, 202))
    # odd value-column names are quoted into the percentile SQL and
    # score exactly like the plain name
    for name in ODD_NAMES:
        odd = df.withColumnRenamed("v", name)
        assert {r.id: r.score
                for r in robust_outliers(odd, name, "g", threshold=3.0)
                .collect()} == got, name


def test_robust_outliers_mad_zero_flags_any_deviation(spark):
    from velesdb_spark.operators.anomaly import robust_outliers

    rows = [("c", i, 7.0) for i in range(5)] + [("c", 9, 7.5)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = [r.id for r in robust_outliers(df, "v", "g").collect()]
    assert got == [9]  # MAD 0, one deviating value → flagged (inf score)


def test_robust_outliers_guard(spark):
    from velesdb_spark.operators.anomaly import robust_outliers

    df = spark.createDataFrame([("a", 1, 1.0)], "g string, id long, v double")
    import pytest as _pt
    with _pt.raises(ValueError, match="positive"):
        robust_outliers(df, "v", "g", threshold=0)

def test_make_mixture_weighted_all_null_stratum(spark):
    """A targeted stratum whose weights are all NULL must raise the
    intended 'no servable weight' error, not TypeError on None."""
    import pytest

    from velesdb_spark.functions.mixture import make_mixture_weighted

    df = spark.createDataFrame(
        [("en", 1, 100), ("en", 2, 300), ("fr", 3, None), ("fr", 4, None)],
        "lang string, doc_id long, n_chars long")
    with pytest.raises(ValueError):
        make_mixture_weighted(df, "lang", {"en": 0.5, "fr": 0.5},
                              "n_chars", id_col="doc_id")
