"""Persisted BM25 inverted index with incremental FOLD — the
retrieval twin of ``dedup_index``'s LSM pattern.

``analytics.bm25_topk`` tokenizes the corpus per query run; at 100 TB
the corpus statistics BM25 needs (term frequencies, document lengths,
document frequencies, corpus scalars) should be computed ONCE at
ingest and APPENDED to as the corpus grows, because every one of them
is additive:

    tf(doc, term)   new docs add new rows, old rows never change
    dl(doc)         same
    df(term)        per-fold delta counts, summed at query time
    N, Σdl          per-fold delta scalars, summed at query time

``fold`` therefore appends the increment's rows/deltas — O(increment),
the corpus is never re-tokenized — and a query against the folded
index is BIT-IDENTICAL to ``bm25_topk`` over the full concatenated
corpus (shared scoring tail, shared rounding; the driver query's
oracle IS bm25_top_docs' oracle, verbatim).

Layout (all appends, no rewrites):

    <path>/_cdp_index_meta.json   kind + tokenizer contract
    <path>/tf/    (doc, term, tf) — repartitioned by term and sorted
                  within partitions, so a query's `term IN (...)`
                  filter prunes row groups (min/max stats) instead of
                  scanning the full postings table
    <path>/dl/    (doc, dl)
    <path>/df/    (term, c) per-fold document-frequency DELTAS
    <path>/sc/    (n_docs, sum_dl) one DELTA row per fold

Folds given an ``epoch`` (streaming ingest) follow the shared
replay-safe fold protocol of :mod:`.fold_commit`.

Reference parity: superset scope (the reference has no retrieval);
cited next to the BM25 scorer it serves (analytics.py bm25_topk).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fold_commit as fc
from .analytics import bm25_score_tail


def _doc_stats(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(tf, dl) for a document batch — the same tokenizer expression
    bm25_topk uses (lowercase, split on non-alphanumeric runs), so
    index-served statistics match scan-computed ones exactly."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    return tf, dl


def _write_or_fold(
    docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    mode: str,
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    from ..session import iter_checkpoint

    tf, dl = _doc_stats(docs, id_col, text_col)
    # tf feeds three consumers (postings write, df delta, nothing
    # else) and dl two (dl write, scalar delta) — checkpoint each once
    # so the batch is tokenized exactly once (the dsir discipline)
    tf = iter_checkpoint(tf)
    dl = iter_checkpoint(dl)
    tf_sorted = tf.repartition(F.col("term")).sortWithinPartitions("term")
    df_delta = tf.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    sc_delta = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(28,6)")).alias("sum_dl"),
    )
    for stat, frame in (
        ("tf", tf_sorted), ("dl", dl), ("df", df_delta), ("sc", sc_delta)
    ):
        if mode == "append":
            fc.fold_write(frame, os.path.join(path, stat), epoch, lineage)
        else:
            frame.write.mode(mode).parquet(os.path.join(path, stat))


def bm25_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build the persisted BM25 index over the corpus (one tokenize
    pass; see module docstring for layout)."""
    _write_or_fold(docs, path, id_col, text_col, "overwrite")
    bm25_index_init(path)


def bm25_index_init(path: str) -> None:
    """Initialize an EMPTY BM25 index (meta only) so a streaming
    ingest can build it fold-by-fold from the first micro-batch —
    parquet appends create the statistic directories on first write.
    A query before any fold has no postings to read; fold at least
    once first."""
    fc.write_meta(
        path, {"kind": "bm25", "tokenizer": "lower split [^a-z0-9]+"}
    )


def bm25_index_fold(
    increment_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    """FOLD an increment into the index: append its tf/dl rows and
    df/scalar deltas.  O(increment); every statistic is additive, so
    a post-fold query equals a from-scratch build over
    corpus ∪ increment (the shared-oracle contract).

    ``epoch``: pass foreachBatch's batch id to make the fold
    IDEMPOTENT under at-least-once replay (a crash between the four
    stat writes rewrites them cleanly); ``lineage`` tags one of several
    ingest streams folding into ONE index (see :mod:`.fold_commit`).
    Without the epoch key, a replayed batch double-counts tf/df/N."""
    fc.fold_epoch(
        path,
        "bm25",
        epoch,
        lineage,
        lambda meta: _write_or_fold(
            increment_docs, path, id_col, text_col, "append", epoch, lineage
        ),
    )


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served from the persisted index: the postings scan
    is filtered to the query terms (row-group pruning via the
    term-clustered layout), df and the corpus scalars are sums over
    the tiny delta tables, and the scoring tail is byte-shared with
    bm25_topk — index-served results are the scan-computed results."""
    terms = list(terms)
    # .drop("fold"): epoch-labeled folds add a lifecycle partition
    # column; it is bookkeeping, not index data (dropping it does not
    # disturb the term pushdown — `term` is a data column either way)
    tf = (
        spark.read.parquet(os.path.join(path, "tf"))
        .where(F.col("term").isin(terms))
        .drop("fold")
    )
    dl = spark.read.parquet(os.path.join(path, "dl")).drop("fold")
    dfc = (
        spark.read.parquet(os.path.join(path, "df"))
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("c").cast("long").alias("df"))
    )
    scalars = spark.read.parquet(os.path.join(path, "sc")).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        (
            F.sum("sum_dl").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("avgdl"),
    )
    return bm25_score_tail(tf, dfc, dl, scalars, k, k1, b, id_col)
