"""BM25 full-text scoring as DataFrame programs.

Reference: crates/velesdb-core/src/index/bm25.rs —
score(D,Q) = Σ_q IDF(q) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
IDF(q) = ln((N − df + 0.5)/(df + 0.5) + 1), k1=1.2, b=0.75 (bm25.rs:10-20,
idf bm25.rs:298-303). Tokenizer: lowercase, split on non-alphanumeric, drop
tokens of byte-length ≤ 1 (bm25.rs:114-120 — note the reference's `s.len()`
is BYTES, so single multi-byte chars survive; we use octet_length for parity).
Duplicate query terms score multiply (scoring loop iterates the query bag,
bm25.rs:348-360).

Scale design: the corpus statistics (postings tf, per-term df, doc lengths,
N/avgdl) are DataFrames produced by explode + groupBy — the classic
distributed inverted-index build, one shuffle each, all map-side combinable.
A query's per-term IDF weights are folded in Python from a bounded df
lookup; per-doc score is one partial aggregation over the postings filtered
to the query's terms. Nothing corpus-sized is collected.

Index lifecycle, each step written once:
- compose: ``_compose`` folds a mutation batch into an index (postings and
  doc lengths minus the shadowed docs by a broadcast anti join, union the
  added rows; term df adjusted by arithmetic). Bm25Index.incremental_update
  (Collection upserts/deletes) and IncrementalBm25Index.as_bm25 (the durable
  snapshot + delta log) both call it;
- persist: Bm25Index.save is the one snapshot writer and Bm25Index.load the
  one reader, for saved indexes and durable snapshots alike;
- log: segments, manifest, snapshot versions and vacuum are storage.py's
  helpers, shared with LogStore.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.arraylit import sql_ident, sql_str
from velesdb_spark.storage import (append_segment, commit_snapshot,
                                   read_manifest, vacuum)

K1 = 1.2
B = 0.75
# Unicode-aware split (Rust char::is_alphanumeric ≈ \p{L} | \p{N})
TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def tokenize(col: Column) -> Column:
    """lowercase → split non-alphanumeric → drop byte-length ≤ 1 tokens
    (bm25.rs:114-120)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE),
        lambda t: F.octet_length(t) > 1,
    )


def tokenize_py(text: str) -> list[str]:
    """Driver-side tokenizer (for query strings) — must match tokenize()."""
    import re

    # [\W_]+ = non-alphanumeric incl. underscore (Rust '_'.is_alphanumeric()
    # is false, so '_' separates tokens)
    out = []
    for tok in re.split(r"[\W_]+", text.lower(), flags=re.UNICODE):
        if len(tok.encode("utf-8")) > 1:
            out.append(tok)
    return out


def _query_bag(query: str) -> dict[str, int]:
    """Query term → multiplicity, in first-occurrence order (duplicate
    terms score multiply, bm25.rs:348-360; _scan_scores_sql sums its
    per-term pieces in this order)."""
    from collections import Counter

    return Counter(tokenize_py(query))


def term_bucket_expr(col: Column, n_buckets: int) -> Column:
    """Term → bucket id, md5-based so the SAME bucket is computable
    driver-side (term_bucket_py) — that is what turns the partitioned
    postings layout into real partition pruning: a query's terms map to
    literal bucket ids the scan can prune on."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % n_buckets)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of term_bucket_expr."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


class Bm25Index:
    """Corpus statistics for BM25 over (id, text) — all lazy DataFrames.

    Mirrors Bm25Index in the reference (index/bm25.rs): ``add``-time work
    becomes the postings build; ``search`` becomes a score join.
    """

    term_buckets: int | None = None  # set on saved/loaded indexes

    def __init__(self, docs: DataFrame, id_col: str = "id", text_col: str = "text",
                 cache: bool = False):
        from velesdb_spark.functions.util import spread

        self.id_col = id_col
        spark = docs.sparkSession
        # Stage the token array before exploding (keeps the regex chain out
        # of the generator) and spread small single-file inputs across cores.
        toks = spread(docs).select(
            F.col(id_col).alias("_doc_id"),
            tokenize(F.col(text_col)).alias("_toks"),
        )
        tokens = toks.select("_doc_id", F.explode("_toks").alias("term"))
        # Per-doc length; empty docs are NOT indexed (bm25.rs:146-148)
        self.doc_lengths = tokens.groupBy("_doc_id").agg(F.count("*").alias("dl"))
        # Postings: term frequency per (term, doc)
        self.postings = tokens.groupBy("term", "_doc_id").agg(F.count("*").alias("tf"))
        # Document frequency per term
        self.term_df = self.postings.groupBy("term").agg(F.count("*").alias("df"))
        # Corpus stats: N and avgdl (1-row DataFrame, broadcastable)
        self.stats = self.doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        self.spark = spark
        if cache:
            self.postings = self.postings.cache()
            self.doc_lengths = self.doc_lengths.cache()
            self.stats = self.stats.cache()
            # Serving layout, built ONCE at add time (the reference's
            # add/search split, index/bm25.rs):
            # - term_df and the search base are range-partitioned by term
            #   and sorted within partitions — a sorted term dictionary —
            #   so the in-memory scan's per-batch min/max stats prune a
            #   query's In(term, ...) filter to the few batches actually
            #   holding its terms (measured 2× on the sf0.1 corpus);
            # - the search base carries dl inline with the postings (the
            #   classic norms-in-postings layout), so a search needs NO
            #   doc-side join: filter → map-lookup → one aggregation.
            # Partition counts track cluster width, not a constant, so the
            # layout survives a wide cluster; the range shuffle + sort are
            # paid once and amortized across every search.
            par = spark.sparkContext.defaultParallelism
            self.term_df = (self.term_df
                            .repartitionByRange(max(2, par // 16), "term")
                            .sortWithinPartitions("term").cache())
            self._postings_dl = (self.postings
                                 .join(self.doc_lengths, "_doc_id")
                                 .repartitionByRange(max(8, par // 4), "term")
                                 .sortWithinPartitions("term").cache())

    def _corpus_stats(self) -> tuple[int, float]:
        """(n_docs, avgdl), collected once per index instance. The
        reference keeps these as plain struct fields read per search
        (bm25.rs:298-303); here they are a 1-row aggregate memoized on
        first use — bounded driver state, never corpus-sized."""
        vals = getattr(self, "_stats_vals", None)
        if vals is None:
            row = self.stats.select("n_docs", "avgdl").first()
            vals = (int(row["n_docs"] or 0), float(row["avgdl"] or 0.0))
            self._stats_vals = vals
        return vals

    def _empty_scores(self) -> DataFrame:
        return (self.doc_lengths
                .select(F.col("_doc_id").alias(self.id_col)).limit(0)
                .withColumn("_bm25_score", F.lit(0.0)))

    def scores(self, query: str) -> DataFrame:
        """Per-document BM25 scores for ``query`` → (id, _bm25_score).

        Docs containing none of the query terms are absent; score > 0
        filter matches the reference (bm25.rs:321-327).

        Scale shape: the query's terms are known driver-side, so
        - the term-membership filter is applied EXPLICITLY to the
          postings before any other op — Catalyst pushes it through to
          the parquet scans (PushedFilters: In(term, ...)), so a search
          over a saved or snapshot+delta index reads only row groups
          (and, via the literal ``_tb`` bucket ids, only PARTITIONS)
          containing its terms instead of the whole postings table;
        - per-term IDF·qtf weights are folded driver-side from a bounded
          (≤ |query terms| rows) term_df lookup — exactly the reference's
          in-memory df hashmap read (bm25.rs:298-303) — so the search
          plan carries no query-terms dimension join at all;
        - on a cached index the denormalized ``_postings_dl`` base also
          removes the doc_lengths join: the whole search is filter →
          literal-map lookup → one partial aggregation.
        """
        import math

        counts = _query_bag(query)
        terms = list(counts)
        if not terms:
            return self._empty_scores()
        n_docs, avgdl = self._corpus_stats()
        if n_docs == 0 or avgdl == 0.0:
            return self._empty_scores()
        # bounded driver lookup: df for the query's terms only
        dfs = {r["term"]: int(r["df"])
               for r in self.term_df.filter(F.col("term").isin(terms))
                                    .collect()}
        weights = {
            t: counts[t] * math.log(
                (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            for t in terms if t in dfs
        }
        if not weights:
            return self._empty_scores()

        base = getattr(self, "_postings_dl", None)
        src = base if base is not None else self.postings
        if self.term_buckets and "_tb" in src.columns:
            # literal bucket ids → PARTITION pruning on the saved layout,
            # not just row-group skipping
            bkts = sorted({term_bucket_py(t, self.term_buckets)
                           for t in weights})
            src = src.filter(F.col("_tb").isin(bkts))
        src = src.filter(F.col("term").isin(list(weights)))
        if "_tb" in src.columns:
            src = src.drop("_tb")
        if base is None:
            src = src.join(self.doc_lengths, "_doc_id")
        wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
        scored = (
            src.withColumn(
                "_term_score",
                wmap[F.col("term")]
                * (F.col("tf") * (K1 + 1.0))
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.lit(avgdl))
                ),
            )
            .groupBy("_doc_id")
            .agg(F.sum("_term_score").alias("_bm25_score"))
            .filter(F.col("_bm25_score") > 0.0)
        )
        return scored.select(F.col("_doc_id").alias(self.id_col), "_bm25_score")

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Top-k by BM25 score descending (TakeOrderedAndProject — no full
        sort at scale)."""
        return self.scores(query).orderBy(F.desc("_bm25_score"), F.asc(self.id_col)).limit(k)

    def incremental_update(self, new_docs: DataFrame | None = None,
                           deleted_ids=None,
                           text_col: str = "text") -> "Bm25Index":
        """Composed index after an upsert/delete batch WITHOUT re-tokenizing
        the corpus: only ``new_docs`` go through tokenize/explode, and
        _compose folds them onto the existing postings/doc_lengths (cached
        by the collection). Corpus stats re-aggregate the composed doc
        lengths: a narrow, map-combinable aggregate over the mostly cached
        set."""
        spark = self.spark
        shadow_parts = []
        add_postings = add_dl = None
        if new_docs is not None:
            delta = Bm25Index(new_docs, id_col=self.id_col, text_col=text_col)
            add_postings, add_dl = delta.postings, delta.doc_lengths
            shadow_parts.append(new_docs.select(
                F.col(self.id_col).alias("_doc_id")))
        if deleted_ids:
            shadow_parts.append(spark.createDataFrame(
                [(int(i),) for i in deleted_ids], "_doc_id bigint"))
        if not shadow_parts:
            return self
        shadowed = shadow_parts[0]
        for p in shadow_parts[1:]:
            shadowed = shadowed.unionByName(p)
        out = _compose(self, shadowed.distinct(), add_postings, add_dl)
        out.stats = out.doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        return out

    def save(self, path: str, term_buckets: int = 64) -> str:
        """Materialize the inverted index to parquet: the one snapshot
        writer, for saved indexes and IncrementalBm25Index snapshots alike.
        Postings are partitioned by a hash bucket of the term (``_tb``), so
        a query's score join reads only its terms' buckets (the 100 TB
        layout; locally the same files). Stats carry ``sum_dl`` so a durable
        delta composes them arithmetically.

        The reference persists its index on flush (crud.rs flush →
        index/bm25.rs serialization); this is that, as columnar artifacts.
        """
        import json

        # persist the shared lineage: term_df derives from postings and
        # stats from doc_lengths — without this, the four writes would each
        # re-scan and re-shuffle the whole corpus. A loaded or composed
        # source may carry an old ``_tb``; it is re-bucketed here.
        postings = self.postings.drop("_tb").persist()
        doc_lengths = self.doc_lengths.persist()
        try:
            # repartition on the bucket key before the partitionBy write:
            # without it every upstream task writes a sliver into every
            # bucket directory (buckets x tasks files — 256 at 8 buckets
            # on local[32]); with it each bucket is one task's single
            # well-sized file, and a query's per-term bucket read opens
            # 1 file instead of tasks-many (guide §6 file sizing)
            (postings.withColumn("_tb",
                                 term_bucket_expr(F.col("term"), term_buckets))
             .repartition(term_buckets, F.col("_tb"))
             .write.mode("overwrite").partitionBy("_tb")
             .parquet(f"{path}/postings"))
            doc_lengths.write.mode("overwrite").parquet(f"{path}/doc_lengths")
            postings.groupBy("term").agg(F.count("*").alias("df")) \
                .write.mode("overwrite").parquet(f"{path}/term_df")
            doc_lengths.agg(
                F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("sum_dl")) \
                .write.mode("overwrite").parquet(f"{path}/stats")
        finally:
            postings.unpersist()
            doc_lengths.unpersist()
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump({"term_buckets": term_buckets}, f)
        return path

    @classmethod
    def load(cls, spark, path: str, id_col: str = "id") -> "Bm25Index":
        """Open a saved index without recomputing corpus statistics. The
        bucket column rides along so scores() can prune partitions."""
        import json

        idx = cls.__new__(cls)
        idx.id_col = id_col
        idx.spark = spark
        idx.postings = spark.read.parquet(f"{path}/postings")
        idx.doc_lengths = spark.read.parquet(f"{path}/doc_lengths")
        idx.term_df = spark.read.parquet(f"{path}/term_df")
        idx.stats = spark.read.parquet(f"{path}/stats")
        try:
            with open(os.path.join(path, "_meta.json")) as f:
                idx.term_buckets = json.load(f)["term_buckets"]
        except (FileNotFoundError, KeyError):
            idx.term_buckets = None  # pre-meta layout: no pruning
            idx.postings = idx.postings.drop("_tb")
        return idx


def _compose(base: Bm25Index, shadowed: DataFrame,
             add_postings: DataFrame | None,
             add_dl: DataFrame | None) -> Bm25Index:
    """Fold one mutation batch into ``base``, lazily: the only BM25 delta
    composition, shared by Bm25Index.incremental_update and
    IncrementalBm25Index.as_bm25.

    - postings and doc_lengths: the base minus the ``shadowed`` docs (a
      broadcast anti join on ``_doc_id``, so the base is never shuffled),
      union the added rows;
    - term_df: base df − removed docs + added docs, by arithmetic instead
      of a corpus re-aggregation.

    ``add_postings`` (term, _doc_id, tf) gets the base's bucket column when
    the base is bucketed, so the union keeps partition pruning. Corpus
    stats are the caller's: the two callers have different inputs."""
    out = Bm25Index.__new__(Bm25Index)
    out.id_col, out.spark = base.id_col, base.spark
    out.term_buckets = base.term_buckets
    shadowed = F.broadcast(shadowed)
    out.postings = base.postings.join(shadowed, "_doc_id", "left_anti")
    out.doc_lengths = base.doc_lengths.join(shadowed, "_doc_id", "left_anti")
    # df pieces are parsed expressions: one py4j call each, not a Column tree
    rem_tdf = (base.postings.join(shadowed, "_doc_id", "left_semi")
               .groupBy("term").agg(F.expr("count(*) AS _rem")))
    term_df = base.term_df.join(rem_tdf, "term", "full")
    df = "coalesce(df, 0) - coalesce(_rem, 0)"
    if add_postings is not None:
        if base.term_buckets:
            add_postings = add_postings.withColumn(
                "_tb", term_bucket_expr(F.col("term"), base.term_buckets))
        out.postings = out.postings.unionByName(add_postings)
        out.doc_lengths = out.doc_lengths.unionByName(add_dl)
        add_tdf = add_postings.groupBy("term").agg(F.expr("count(*) AS _add"))
        term_df = term_df.join(add_tdf, "term", "full")
        df += " + coalesce(_add, 0)"
    out.term_df = term_df.selectExpr("term", f"{df} AS df").filter("df > 0")
    return out


class IncrementalBm25Index:
    """Incremental BM25 maintenance: a snapshot index plus a postings
    delta log on storage.py's segment/manifest protocol (the reference
    updates its text index transactionally per upsert — crud.rs:19-118;
    this is that contract at batch scale).

    - ``upsert_docs``/``delete_docs`` append one immutable log segment
      computed from ONLY the mutated docs (tokenize cost ∝ batch size,
      never corpus size — no full re-index per upsert→search cycle).
    - Search composes the live view lazily with the same ``_compose`` as
      Bm25Index.incremental_update: the snapshot (read by Bm25Index.load)
      minus shadowed docs, union the log's last-writer-wins postings, term
      df adjusted arithmetically. Only the corpus stats are this class's
      own: the snapshot's n_docs and sum_dl adjusted by the delta, so a
      search never rescans the snapshot's doc lengths.
    - ``compact()`` writes the composed view as the next snapshot with
      Bm25Index.save and truncates the log atomically (the manifest rename
      is the commit point); ``vacuum()`` deletes what the manifest no
      longer references.

    Layout: MANIFEST.json, snapshot/v=N/ (a Bm25Index.save directory),
    log/NNNNNN.parquet with rows (_doc_id, term, tf, dl, _op, _seq); a
    delete (or an upsert whose new text has no tokens) is a single
    term=NULL tombstone row.
    """

    def __init__(self, spark, path: str, id_col: str = "id",
                 text_col: str = "text"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col

    # ------------------------------------------------------------ build
    @classmethod
    def build(cls, docs: DataFrame, path: str, id_col: str = "id",
              text_col: str = "text",
              term_buckets: int = 64) -> "IncrementalBm25Index":
        """Full index build → the first snapshot with an empty log.
        ``term_buckets`` sizes the postings partitioning (a query's score
        join reads only its terms' buckets); small corpora can use fewer
        to cut per-directory write overhead."""
        src = Bm25Index(docs, id_col=id_col, text_col=text_col)
        commit_snapshot(path, lambda d: src.save(d, term_buckets))
        return cls(docs.sparkSession, path, id_col, text_col)

    # ------------------------------------------------------------ writes
    def upsert_docs(self, docs: DataFrame) -> "IncrementalBm25Index":
        """Append one postings-delta segment for ``docs`` (replaces any
        prior version of each doc). Tokenization touches only this batch."""
        toks = docs.select(
            F.col(self.id_col).alias("_doc_id"),
            tokenize(F.col(self.text_col)).alias("_toks"))
        tokens = toks.select("_doc_id", F.size("_toks").alias("dl"),
                             F.explode_outer("_toks").alias("term"))
        posting_rows = (
            tokens.filter(F.col("term").isNotNull())
            .groupBy("_doc_id", "dl", "term").agg(F.count("*").alias("tf"))
            .select("_doc_id", "term", "tf", "dl", F.lit("upsert").alias("_op")))
        # a doc whose new text has no tokens (or NULL text) still shadows
        # its old postings
        empty_rows = (
            toks.filter(F.coalesce(F.size("_toks"), F.lit(0)) <= 0)
            .select("_doc_id", F.lit(None).cast("string").alias("term"),
                    F.lit(None).cast("long").alias("tf"),
                    F.lit(None).cast("long").alias("dl"),
                    F.lit("delete").alias("_op")))
        append_segment(self.path, posting_rows.unionByName(empty_rows), "_seq")
        return self

    def delete_docs(self, ids) -> "IncrementalBm25Index":
        rows = self.spark.createDataFrame(
            [(int(i), None, None, None, "delete") for i in ids],
            "_doc_id bigint, term string, tf bigint, dl bigint, _op string")
        append_segment(self.path, rows, "_seq")
        return self

    # ------------------------------------------------------------ reads
    def _snapshot(self, m) -> Bm25Index:
        if m["snapshot"]:
            return Bm25Index.load(
                self.spark, os.path.join(self.path, m["snapshot"]), self.id_col)
        # opened on a directory with no snapshot yet: an empty index
        idx = Bm25Index.__new__(Bm25Index)
        idx.id_col, idx.spark = self.id_col, self.spark
        empty = self.spark.createDataFrame
        idx.postings = empty([], "term string, _doc_id bigint, tf bigint")
        idx.doc_lengths = empty([], "_doc_id bigint, dl bigint")
        idx.term_df = empty([], "term string, df bigint")
        idx.stats = empty([(0, 0.0, 0)],
                          "n_docs bigint, avgdl double, sum_dl bigint")
        return idx

    def as_bm25(self) -> Bm25Index:
        """Compose the live index view as a Bm25Index (same scores/search).

        Plan shape: _compose over the snapshot and the log's latest
        postings; stats are the snapshot's adjusted by the removed and
        added doc lengths — no corpus-wide re-aggregation, no tokenization
        anywhere."""
        from pyspark.sql import Window

        m = read_manifest(self.path)
        snap = self._snapshot(m)
        if not m["segments"]:
            return snap
        log = self.spark.read.parquet(
            *[os.path.join(self.path, s) for s in m["segments"]])
        # last-writer-wins per doc: all postings rows of the winning seq
        w = Window.partitionBy("_doc_id")
        latest = (log.withColumn("_max_seq", F.max("_seq").over(w))
                  .filter(F.col("_seq") == F.col("_max_seq")))
        live = latest.filter(F.col("_op") != "delete")
        shadowed = log.select("_doc_id").distinct()
        add_dl = live.select("_doc_id", "dl").distinct()
        idx = _compose(snap, shadowed, live.select("term", "_doc_id", "tf"),
                       add_dl)
        # corpus stats adjustment (map-combinable aggs over narrow columns)
        rem_stats = (snap.doc_lengths.join(F.broadcast(shadowed), "_doc_id",
                                           "left_semi")
                     .agg(F.count("*").alias("_rn"),
                          F.coalesce(F.sum("dl"), F.lit(0)).alias("_rs")))
        add_stats = add_dl.agg(F.count("*").alias("_an"),
                               F.coalesce(F.sum("dl"), F.lit(0)).alias("_as"))
        idx.stats = (snap.stats.crossJoin(rem_stats).crossJoin(add_stats)
                     .select(
                         (F.col("n_docs") - F.col("_rn") + F.col("_an"))
                         .alias("n_docs"),
                         ((F.col("sum_dl") - F.col("_rs") + F.col("_as"))
                          / (F.col("n_docs") - F.col("_rn") + F.col("_an")))
                         .alias("avgdl")))
        return idx

    def scores(self, query: str) -> DataFrame:
        return self.as_bm25().scores(query)

    def search(self, query: str, k: int = 10) -> DataFrame:
        return self.as_bm25().search(query, k)

    # ------------------------------------------------------------ maintenance
    def compact(self) -> None:
        """Fold the delta log into a new snapshot version and truncate the
        log; superseded versions stay until vacuum(). The new snapshot
        keeps the current bucket count (64 when there is no snapshot)."""
        if not read_manifest(self.path)["segments"]:
            return
        src = self.as_bm25()
        commit_snapshot(self.path,
                        lambda d: src.save(d, src.term_buckets or 64))

    def vacuum(self) -> None:
        vacuum(self.path)


def bm25_scan_scores(docs: DataFrame, query: str, id_col: str = "id",
                     text_col: str = "text") -> DataFrame:
    """Query-time BM25 with NO postings index: per-term tf is an array
    expression over the tokenized text, so the whole plan is two
    column-pruned scans (one tiny stats aggregate, one scoring pass) and a
    broadcast of a single stats row — no explode, no shuffle of doc-level
    data, no Python. Identical scores to Bm25Index.scores().

    Use this for ad-hoc queries; use Bm25Index (postings DataFrames) when
    the corpus is indexed once and searched many times — that amortizes the
    inverted-index build exactly like the reference's add-time indexing
    (index/bm25.rs add/search split).
    """
    counts = _query_bag(query)
    if not counts:
        return docs.select(F.col(sql_ident(id_col)),
                           F.lit(0.0).alias("_bm25_score")).limit(0)
    return _scan_scores_sql(docs, counts, id_col, text_col)


def _scan_scores_sql(docs: DataFrame, counts: dict,
                     id_col: str, text_col: str) -> DataFrame:
    """One-shot-SQL construction of the scan-path plan.

    The whole two-pass scan plan parses from a handful of expression
    strings instead of ~250 py4j round-trips of Column plumbing (guide
    §5 — the r11 driver-latency class). Column names and query terms are
    spelled by the arraylit helpers, so any name or term takes this one
    path. The strings spell EXACTLY the trees of the Column reference in
    tests/test_bm25.py (same op order, same Python-folded constants via
    repr), so values are bit-identical — pinned by
    tests/test_bm25.py::test_scan_scores_sql_fastpath_identity.
    """
    from velesdb_spark.functions.staging import stage

    terms = list(counts)
    base = (
        docs.selectExpr(
            f"{sql_ident(id_col)} AS _doc_id",
            f"filter(split(lower({sql_ident(text_col)}), "
            f"{sql_str(TOKEN_SPLIT_RE)}), t -> octet_length(t) > 1) AS _toks")
        .selectExpr("_doc_id", "_toks", "size(_toks) AS _dl")
        .filter("_dl > 0")  # empty docs are not indexed (bm25.rs:146-148)
    )
    # tf as a HOF filter count. An ArrayRemove spelling (size −
    # size(array_remove)) was measured ~33% faster on the ISOLATED tf
    # pass at sf0.1 but end-to-end the two-pass query is tokenize/
    # stats-dominated and the interleaved A/B was a wash (mins favored
    # array_remove, medians-under-load the HOF) — keeping the
    # allocation-free original.
    tf_exprs = [f"size(filter(_toks, x -> x = {sql_str(t)})) AS _tf{i}"
                for i, t in enumerate(terms)]
    # Persist the post-tokenize tf projection: BOTH the corpus-stats
    # aggregate (broadcast side) and the scoring pass consume it, and
    # unpersisted the regexp tokenize — the dominant cost — runs twice.
    # The projection drops _toks, so the cached frame is (_doc_id, _dl,
    # _tf*) ints only: ~16+4·|terms| bytes/doc, so at 1B docs it is tens
    # of GB cluster-wide, comfortably MEMORY_AND_DISK. Registered with
    # the shared staging registry for harness release.
    base = stage(base.selectExpr("_doc_id", "_dl", *tf_exprs))

    stats = base.agg(
        F.expr("count(*) AS n_docs"), F.expr("avg(_dl) AS avgdl"),
        *[F.expr(f"sum(cast((_tf{i} > 0) AS long)) AS _df{i}")
          for i in range(len(terms))])
    scored = base.crossJoin(F.broadcast(stats))
    # score: left-assoc 0.0 + Σ CASE chain; all constants are
    # Python-folded first and spelled with repr so the parsed doubles
    # are bit-identical (repr round-trips)
    pieces = ["0.0D"]
    for i, t in enumerate(terms):
        qtf = repr(float(counts[t]))
        idf = (f"ln((n_docs - _df{i} + 0.5D) / (_df{i} + 0.5D) + 1.0D)")
        # NOTE the outer parens: * and / share precedence left-assoc, so
        # without them "qtf * idf * a / b" would regroup the division and
        # drift by 1-2 ULP from the Column form
        sat = (f"((_tf{i} * {K1 + 1.0!r}D) / (_tf{i} + {K1!r}D * "
               f"({1.0 - B!r}D + {B!r}D * _dl / avgdl)))")
        pieces.append(
            f"CASE WHEN _tf{i} > 0 THEN {qtf}D * {idf} * {sat} "
            "ELSE 0.0D END")
    score_sql = " + ".join(pieces)
    return (
        scored.withColumn("_bm25_score", F.expr(score_sql))
        .filter("_bm25_score > 0.0D")
        .selectExpr(f"_doc_id AS {sql_ident(id_col)}", "_bm25_score")
    )


def bm25_scan_search(docs: DataFrame, query: str, k: int = 10,
                     id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Top-k over the scan path (TakeOrderedAndProject — no full sort)."""
    return (bm25_scan_scores(docs, query, id_col, text_col)
            .orderBy(F.desc("_bm25_score"), F.asc(id_col)).limit(k))

