"""Persisted dedup indexes with incremental FOLD compaction.

The streaming dedup operators (``streaming.analytics``) flag new
documents against a *corpus index* — MinHash band signatures for
near-dup flagging, winnow fingerprints for exact-substring flagging.
This module gives that index a durable parquet form and the lifecycle
the 100 TB design story requires:

    write(corpus)  ->  flag(increment_1)  ->  fold(survivors_1)
                   ->  flag(increment_2)  ->  fold(survivors_2)  -> ...

``fold`` merges a completed increment's SURVIVING documents (those not
flagged as duplicates) into the persisted index and nothing else — the
corpus index absorbs each increment, so a restarted stream (or the
next batch increment) flags against corpus+survivors with EMPTY
stream state.  This is the compaction step that makes "state = the
increment, not the corpus" (streaming/analytics.py) true indefinitely:
without it the keyed (band, bucket) state grows with every streamed
document forever.

Contract (oracled by the ``fold_incremental_dedup`` /
``fold_substring_flags`` driver queries): *fold-then-flag equals
flag-against-rebuilt-corpus* — flagging increment 2 against the folded
index is bit-identical to flagging it against an index built from
scratch over corpus ∪ survivors(increment 1), because fold appends
exactly the rows a from-scratch build would compute for the survivors
(signatures are pure functions of (text, params); winnow document
frequencies are additive counts).

Layout (all appends, no rewrites — folds are O(increment)):

    <path>/_cdp_index_meta.json   params (num_perm/n/seed/hash, or
                                  k/w/max_df) — validated on load so a
                                  fold can never silently mix
                                  incompatible signatures
    <path>/sigs/                  MinHash: (id, signature, shingles)
    <path>/fps/                   winnow: (id, fp)
    <path>/df/                    winnow: (fp, c) PER-FOLD DELTA counts
                                  — document frequency is additive, so
                                  the flag-time stop-gram filter sums
                                  deltas (a tiny mergeable table, the
                                  LSM pattern) instead of re-counting
                                  the full (id, fp) index

Folds given an ``epoch`` (the streaming lifecycle) follow the shared
replay-safe fold protocol of :mod:`.fold_commit` (per-epoch overwrite
directories, lineage watermarks); loads drop its ``fold`` partition
column.

Reference parity: the reference's deduplicate step is per-window only
(src/step-functions/deduplicate.ts:82-124) — this lifecycle is
superset scope for the training-data-pipeline use case.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup as ddp
from . import fold_commit as fc

_HASH_FNS = {
    "default_hash64": ddp.default_hash64,
    "md5_hash60": ddp.md5_hash60,
}


def _survivors(
    increment_docs: DataFrame, flagged_ids: DataFrame, id_col: str
) -> DataFrame:
    """The increment minus its flagged duplicates, joined on the id
    column's NATURAL type.  ``flagged_ids`` comes back from a flagging
    run (its first column is the id), so its type normally matches the
    increment's already; when it doesn't, cast toward the increment's
    type and REFUSE the fold if the cast nulled any non-null id — a
    silently-nulled cast would anti-join nothing and fold every
    flagged duplicate into the index, violating the fold-then-flag ==
    flag-against-rebuilt-corpus contract without an error."""
    src = flagged_ids.columns[0]
    inc_type = dict(increment_docs.dtypes)[id_col]
    if dict(flagged_ids.dtypes)[src] == inc_type:
        flagged = flagged_ids.select(F.col(src).alias("_flag_id"))
    else:
        # try_cast, not cast: under ANSI a malformed id would throw a
        # generic SparkNumberFormatException mid-job; without ANSI it
        # would silently null.  try_cast + the null check below gives
        # the same loud, specific refusal in both regimes.
        flagged = flagged_ids.select(
            F.col(src).try_cast(inc_type).alias("_flag_id"),
            F.col(src).alias("_flag_raw"),
        )
        nulled = flagged.where(
            F.col("_flag_id").isNull() & F.col("_flag_raw").isNotNull()
        ).limit(1)
        if nulled.count() > 0:
            bad = nulled.first()["_flag_raw"]
            raise ValueError(
                f"flagged id {bad!r} does not cast to the increment's "
                f"{id_col} type ({inc_type}); folding would silently "
                "treat flagged duplicates as survivors — pass flagged "
                "ids in the id column's own type"
            )
        flagged = flagged.select("_flag_id")
    return increment_docs.join(
        F.broadcast(flagged),
        increment_docs[id_col] == F.col("_flag_id"),
        "left_anti",
    )


def _fold_survivors(
    increment_docs: DataFrame,
    flagged_ids: DataFrame,
    path: str,
    kind: str,
    id_col: str,
    epoch,
    lineage,
    stats,
) -> None:
    """The one survivor fold every dedup index runs: under
    :func:`.fold_commit.fold_epoch`, drop the increment's flagged
    documents and write each ``(stat, frame)`` that
    ``stats(survivors, meta)`` returns as this fold's delta of
    ``<path>/<stat>``, in order."""

    def write(meta):
        survivors = _survivors(increment_docs, flagged_ids, id_col)
        for stat, frame in stats(survivors, meta):
            fc.fold_write(frame, os.path.join(path, stat), epoch, lineage)

    fc.fold_epoch(path, kind, epoch, lineage, write)


def _hash_name(hash_fn) -> str:
    for name, fn in _HASH_FNS.items():
        if hash_fn is fn:
            return name
    raise ValueError(
        "hash_fn must be one of cdp_spark.datapipe.dedup's named hashes "
        f"({list(_HASH_FNS)}) so the index meta can record it"
    )


# ---------------------------------------------------------------- MinHash


def _signature_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    n: int,
    hash_fn,
) -> DataFrame:
    """(id, signature, shingles) WITHOUT a localCheckpoint — index
    writes consume the frame exactly once (the parquet write IS the
    materialization), so the checkpoint _enrich_signatures pays for
    its multi-consumer callers would be a wasted second write here."""
    base = ddp._ensure_parallelism(
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_t")
        )
    ).filter(F.size(ddp.tokens(F.col("_t"))) > 0)
    return ddp.attach_minhash_signature(
        base.select("id", ddp.shingles(F.col("_t"), n).alias("shingles")),
        ["id", "shingles"],
        "shingles",
        num_perm,
        42,
        hash_fn,
    ).select("id", "signature", "shingles")


def minhash_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    n: int = 3,
    hash_fn=None,
) -> None:
    """Build the persisted MinHash corpus index: one parquet table of
    (id, signature, shingles) — the signature feeds the band join,
    the shingle array the exact-Jaccard verify, both computed ONCE at
    ingest instead of per flagging run.  Empty-token documents carry
    no signal and are dropped (the minhash_signatures_df semantics)."""
    if hash_fn is None:
        hash_fn = ddp.default_hash64
    meta = {
        "kind": "minhash",
        "num_perm": num_perm,
        "n": n,
        "hash": _hash_name(hash_fn),
    }
    _signature_frame(
        docs, id_col, text_col, num_perm, n, hash_fn
    ).write.mode("overwrite").parquet(os.path.join(path, "sigs"))
    fc.write_meta(path, meta)


def minhash_index_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """(index frame, meta).  Frame columns: (id, signature, shingles)
    — corpus ∪ every folded increment so far.  The ``fold`` partition
    column epoch-labeled folds introduce is dropped: which fold a
    signature arrived in is lifecycle bookkeeping, not index data."""
    meta = fc.read_meta(path, "minhash")
    frame = spark.read.parquet(os.path.join(path, "sigs")).drop("fold")
    return frame, meta


def minhash_index_fold(
    increment_docs: DataFrame,
    flagged_ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    """FOLD a completed increment into the index: append the
    signature rows of the increment's SURVIVORS (documents NOT in
    ``flagged_ids``) to the persisted index.  Signatures are pure
    functions of (text, meta params), so the appended rows are
    bit-identical to what a from-scratch rebuild over
    corpus ∪ survivors would compute — the fold-then-flag oracle
    contract.  After the fold, restart the incremental stream with
    empty state: the index now carries the increment.

    Cost is O(increment): one signature pass over the increment, one
    broadcast-sized anti-join on the flagged ids, one parquet append.
    The corpus is never read or rewritten.

    ``epoch``: pass foreachBatch's batch id to make the fold
    IDEMPOTENT under at-least-once replay; ``lineage`` tags one of
    several checkpoint lineages folding into ONE index (see
    :mod:`.fold_commit`)."""

    def stats(survivors, meta):
        return [("sigs", _signature_frame(
            survivors, id_col, text_col, meta["num_perm"], meta["n"],
            _HASH_FNS[meta["hash"]],
        ))]

    _fold_survivors(
        increment_docs, flagged_ids, path, "minhash", id_col, epoch,
        lineage, stats,
    )


def minhash_banded_index(
    index: DataFrame, meta: dict, bands: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The two join-ready projections of a loaded MinHash index:
    ``(idx_bands, idx_sh)`` — the (id, band, bucket) triples the
    candidate equi-join shuffles (3 longs/row, never the payload) and
    the (id, shingles) frame verified candidates fetch by id.  Split
    out so multi-batch consumers (the stream-static path here, the
    fold runner's per-cycle snapshot) can materialize the banded
    triples ONCE instead of re-banding the corpus per micro-batch."""
    hash_fn = _HASH_FNS[meta["hash"]]
    num_perm = meta["num_perm"]
    if num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} does not divide the index's num_perm="
            f"{num_perm}; lsh_band_keys would band only a prefix of "
            "the signature and silently cut recall"
        )
    rows = num_perm // bands
    bucket_fn = None if hash_fn is ddp.default_hash64 else hash_fn
    idx_bands = index.select(
        F.col("id").alias("_old_id"),
        F.explode(
            ddp.lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
        ).alias("bk"),
    ).select(
        "_old_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    idx_sh = index.select(
        F.col("id").alias("_old_id"), F.col("shingles").alias("_old_sh")
    )
    return idx_bands, idx_sh


def flag_against_minhash_index(
    new_docs: DataFrame,
    index: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 8,
) -> DataFrame:
    """Flag new documents against a loaded MinHash index: band the
    new side with pure Column expressions, equi-join the index's band
    keys on (band, bucket), verify with exact Jaccard on the stored
    shingle arrays, reduce to the minimum matching partner.  Works
    for BATCH and STREAMING ``new_docs`` alike — every step is
    stateless except the final min-struct aggregate (complete/update
    mode; order-insensitive, so micro-batch boundaries cannot change
    the answer).

    Scale shape: the (band, bucket) join carries the index's (id,
    band, bucket) triples only; shingle arrays join in by id for
    verified candidates.  Output: (id, dup_of, jaccard)."""
    idx_bands, idx_sh = minhash_banded_index(index, meta, bands)
    if new_docs.isStreaming:
        # the static side's plan re-executes on EVERY micro-batch of a
        # stream-static join — materialize the banded (id, band,
        # bucket) triples once (3 longs/row) so N micro-batches don't
        # band the corpus N times.  idx_sh is NOT materialized: it's a
        # column-pruned parquet scan, cheaper to re-read than to copy
        # the shingle payload into a checkpoint.
        from ..session import iter_checkpoint

        idx_bands = iter_checkpoint(idx_bands)
    return flag_against_banded_minhash(
        new_docs, idx_bands, idx_sh, meta,
        id_col=id_col, text_col=text_col,
        threshold=threshold, bands=bands,
    )


def flag_against_banded_minhash(
    new_docs: DataFrame,
    idx_bands: DataFrame,
    idx_sh: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 8,
) -> DataFrame:
    """The flagging tail of :func:`flag_against_minhash_index`,
    taking pre-built (and possibly pre-materialized) index
    projections — the entry point for callers that flag MANY batches
    against one index snapshot (the fold runner)."""
    hash_fn = _HASH_FNS[meta["hash"]]
    num_perm, n = meta["num_perm"], meta["n"]
    if num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} does not divide the index's num_perm="
            f"{num_perm}; lsh_band_keys would band only a prefix of "
            "the signature and silently cut recall"
        )
    rows = num_perm // bands
    bucket_fn = None if hash_fn is ddp.default_hash64 else hash_fn

    s = ddp.attach_minhash_signature(
        new_docs.select(
            F.col(id_col).alias("_new_id"), F.col(text_col).alias("_t")
        )
        .filter(F.size(ddp.tokens(F.col("_t"))) > 0)
        .select("_new_id", ddp.shingles(F.col("_t"), n).alias("_new_sh")),
        ["_new_id", "_new_sh"],
        "_new_sh",
        num_perm,
        42,
        hash_fn,
    )
    cands = (
        s.select(
            "_new_id",
            "_new_sh",
            F.explode(
                ddp.lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
            ).alias("bk"),
        )
        .select(
            "_new_id",
            "_new_sh",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
        .join(idx_bands, ["band", "bucket"])
        .join(idx_sh, "_old_id")
    )
    inter = F.size(F.array_intersect("_new_sh", "_old_sh")).cast("double")
    union = F.size(F.array_union("_new_sh", "_old_sh")).cast("double")
    jac = F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)
    verified = cands.withColumn("jaccard", jac).filter(
        F.col("jaccard") >= threshold
    )
    best = F.min(F.struct(F.col("_old_id"), F.col("jaccard"))).alias("_best")
    return (
        verified.groupBy("_new_id")
        .agg(best)
        .select(
            F.col("_new_id").alias(id_col),
            F.col("_best._old_id").alias("dup_of"),
            F.col("_best.jaccard").alias("jaccard"),
        )
    )


# --------------------------------------------------------------- simhash


def _fingerprint_frame(
    docs: DataFrame, id_col: str, text_col: str, hash_fn
) -> DataFrame:
    """(id, s) — the SimHash fingerprint projection index writes and
    folds share.  Empty-token documents carry no signal (their
    fingerprint is the constant 0 and would cluster together) and are
    dropped, the minhash-index semantics."""
    return ddp.attach_simhash(
        ddp._ensure_parallelism(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        ).filter(F.size(ddp.tokens(F.col("_t"))) > 0),
        ["id"],
        "_t",
        hash_fn=hash_fn,
        out="s",
    )


def simhash_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn=None,
) -> None:
    """Build the persisted SimHash corpus index: ONE parquet table of
    (id, fingerprint) — 16 bytes a document, the lightest dedup index
    in the family (the MinHash index stores signature + shingle
    arrays; this stores a single long).  ``bits`` records how many
    fingerprint bits carry signal (60 for md5_hash60 — its top 4
    always vote 0) so flagging chunks exactly the meaningful range."""
    if hash_fn is None:
        hash_fn = ddp.default_hash64
    meta = {"kind": "simhash", "bits": bits, "hash": _hash_name(hash_fn)}
    _fingerprint_frame(docs, id_col, text_col, hash_fn).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "fps"))
    fc.write_meta(path, meta)


def simhash_index_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """(index frame, meta).  Frame columns: (id, s) — corpus ∪ every
    folded increment so far; the epoch-fold partition column is
    lifecycle bookkeeping and dropped."""
    meta = fc.read_meta(path, "simhash")
    frame = spark.read.parquet(os.path.join(path, "fps")).drop("fold")
    return frame, meta


def simhash_index_fold(
    increment_docs: DataFrame,
    flagged_ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    """FOLD a completed increment's SURVIVORS into the SimHash index
    — same contract as :func:`minhash_index_fold` (fold-then-flag ==
    flag-against-rebuilt-corpus; fingerprints are pure functions of
    (text, hash)), same O(increment) cost, same epoch/lineage
    idempotence under at-least-once replay."""

    def stats(survivors, meta):
        return [("fps", _fingerprint_frame(
            survivors, id_col, text_col, _HASH_FNS[meta["hash"]]
        ))]

    _fold_survivors(
        increment_docs, flagged_ids, path, "simhash", id_col, epoch,
        lineage, stats,
    )


def flag_against_simhash_index(
    new_docs: DataFrame,
    index: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 5,
    n_chunks: int = 6,
) -> DataFrame:
    """Flag new documents against a loaded SimHash index: fingerprint
    and Manku-chunk the new side with pure Column expressions,
    equi-join the index's chunk keys on (band, bucket), verify with
    exact xor-popcount, reduce to the CLOSEST partner (min hamming,
    ties to the lowest corpus id).  Works for BATCH and STREAMING
    ``new_docs`` alike — stateless except the final order-insensitive
    min-struct aggregate.  The banding is lossless (pigeonhole over
    the meta's ``bits``), so the flagged set is exactly
    {new docs within hamming ``max_hamming`` of the index}.

    Scale shape: the chunk join carries (id, fingerprint, band,
    bucket) — 24-ish bytes per chunk per indexed doc, ~100× lighter
    than the MinHash band index, and the fingerprint rides the chunk
    row so the verify needs NO second index join.  Output: (id,
    dup_of, hamming)."""
    if n_chunks <= max_hamming:
        raise ValueError(
            f"n_chunks={n_chunks} must exceed max_hamming={max_hamming} "
            "for the pigeonhole guarantee"
        )
    hash_fn = _HASH_FNS[meta["hash"]]
    bits = int(meta["bits"])
    idx_chunks = index.select(
        F.col("id").alias("_old_id"),
        F.col("s").alias("_old_s"),
        F.explode(
            ddp.simhash_chunk_keys(F.col("s"), n_chunks, bits)
        ).alias("bk"),
    ).select(
        "_old_id",
        "_old_s",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    if new_docs.isStreaming:
        # stream-static joins re-execute the static plan per
        # micro-batch — materialize the chunk triples once (the
        # payload is 3-4 longs/row, cheap to checkpoint)
        from ..session import iter_checkpoint

        idx_chunks = iter_checkpoint(idx_chunks)
    s = ddp.attach_simhash(
        new_docs.select(
            F.col(id_col).alias("_new_id"), F.col(text_col).alias("_t")
        ).filter(F.size(ddp.tokens(F.col("_t"))) > 0),
        ["_new_id"],
        "_t",
        hash_fn=hash_fn,
        out="_new_s",
    )
    cands = (
        s.select(
            "_new_id",
            "_new_s",
            F.explode(
                ddp.simhash_chunk_keys(F.col("_new_s"), n_chunks, bits)
            ).alias("bk"),
        )
        .select(
            "_new_id",
            "_new_s",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
        .join(idx_chunks, ["band", "bucket"])
    )
    verified = cands.withColumn(
        "hamming", ddp.hamming64(F.col("_new_s"), F.col("_old_s"))
    ).filter(F.col("hamming") <= max_hamming)
    best = F.min(F.struct(F.col("hamming"), F.col("_old_id"))).alias("_best")
    return (
        verified.groupBy("_new_id")
        .agg(best)
        .select(
            F.col("_new_id").alias(id_col),
            F.col("_best._old_id").alias("dup_of"),
            F.col("_best.hamming").alias("hamming"),
        )
    )


# --------------------------------------------------------------- winnowing


def substring_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    w: int = 12,
    max_df: int = 50,
    hash_fn=None,
) -> None:
    """Build the persisted winnow fingerprint index: ``fps/`` holds
    the raw (id, fp) pairs, ``df/`` the per-fold fingerprint-count
    DELTAS.  The stop-gram filter (df > max_df) is applied at FLAG
    time over the summed deltas — document frequency is additive, so
    a fold appends its survivors' counts instead of recounting the
    corpus, and the filter always reflects the full folded corpus
    (exactly what a from-scratch rebuild would compute)."""
    if hash_fn is None:
        hash_fn = ddp.default_hash64
    meta = {
        "kind": "substring",
        "k": k,
        "w": w,
        "max_df": max_df,
        "hash": _hash_name(hash_fn),
    }
    # one winnow pass: write fps, then derive the df deltas from the
    # just-written parquet (a cheap column-pruned scan) instead of
    # checkpointing the explode to feed two writers
    fps = _doc_fingerprints(
        docs, id_col, text_col, k, w, hash_fn, checkpoint=False
    )
    fps_path = os.path.join(path, "fps")
    fps.write.mode("overwrite").parquet(fps_path)
    spark = docs.sparkSession
    spark.read.parquet(fps_path).groupBy("fp").agg(
        F.count(F.lit(1)).alias("c")
    ).write.mode("overwrite").parquet(os.path.join(path, "df"))
    fc.write_meta(path, meta)


def _doc_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    hash_fn,
    checkpoint: bool = True,
) -> DataFrame:
    from ..session import iter_checkpoint

    frame = ddp.attach_winnow_fingerprints(
        ddp._ensure_parallelism(docs.select(F.col(id_col), F.col(text_col))),
        [id_col],
        text_col,
        k=k,
        w=w,
        hash_fn=hash_fn,
        out="_fps",
    ).select(F.col(id_col).alias("id"), F.explode("_fps").alias("fp"))
    return iter_checkpoint(frame) if checkpoint else frame


def substring_index_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """(fps frame, summed df frame, meta).  The df frame aggregates
    the per-fold deltas to current corpus-wide document frequencies
    — a groupBy over the small delta table, not over fps."""
    meta = fc.read_meta(path, "substring")
    fps = spark.read.parquet(os.path.join(path, "fps")).drop("fold")
    df = (
        spark.read.parquet(os.path.join(path, "df"))
        .groupBy("fp")
        .agg(F.sum("c").alias("df"))
    )
    return fps, df, meta


def substring_index_fold(
    increment_docs: DataFrame,
    flagged_ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    """FOLD a completed increment into the winnow index: append the
    survivors' (id, fp) pairs to ``fps/`` and their per-fp counts as
    a new DELTA to ``df/``.  Because df is additive, the summed
    deltas equal the from-scratch count over corpus ∪ survivors —
    the stop-gram filter after a fold is exactly the rebuilt one.

    ``epoch``: see :func:`minhash_index_fold` — committed epochs skip,
    half-written ones overwrite their own subdirectories (a crash
    between the fps and df writes replays both cleanly)."""

    def stats(survivors, meta):
        fps = _doc_fingerprints(
            survivors, id_col, text_col, meta["k"], meta["w"],
            _HASH_FNS[meta["hash"]],
        )
        return [
            ("fps", fps),
            ("df", fps.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))),
        ]

    _fold_survivors(
        increment_docs, flagged_ids, path, "substring", id_col, epoch,
        lineage, stats,
    )


# ------------------------------------------------------------ exact n-gram
#
# The TRUE Lee et al. 2022 ExactSubstr unit (>= k-token verbatim
# match — dedup.exact_ngram_dup_stats is the batch analysis) as a
# PERSISTED index with the same LSM fold lifecycle as the winnow
# index: ``df/`` holds per-fold (fp, c) gram-count DELTAS — counts
# are additive, so a fold appends the survivors' counts and the
# seen-gram set at flag time is exactly what a from-scratch build
# over corpus ∪ survivors would compute.  Flagging a new document =
# join its gram fingerprints against the seen set, fold the matched
# positions into maximal spans; ANY match is a >= k-token verbatim
# overlap with the indexed corpus (exact, not probabilistic — the
# winnow index trades this exactness for ~1/w the index rows).


def exactngram_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> None:
    """Build the persisted exact n-gram index over the corpus: one
    (fp, c) delta table of k-token-gram md5 counts."""
    meta = {"kind": "exactngram", "k": k}
    _gram_counts(docs, id_col, text_col, k).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "df"))
    fc.write_meta(path, meta)


def _gram_counts(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    g = ddp._ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(
        F.explode(
            ddp.ngram_fingerprints(F.col(text_col), k)
        ).alias("fp")
    )
    return g.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))


def exactngram_index_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """(summed (fp, df) frame, meta) — gram document frequencies over
    corpus ∪ every folded increment (deltas summed, the LSM read)."""
    meta = fc.read_meta(path, "exactngram")
    df = (
        spark.read.parquet(os.path.join(path, "df"))
        .groupBy("fp")
        .agg(F.sum("c").alias("df"))
    )
    return df, meta


def exactngram_index_fold(
    increment_docs: DataFrame,
    flagged_ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
    lineage: str | None = None,
) -> None:
    """FOLD a completed increment's SURVIVORS into the exact n-gram
    index: append their gram-count deltas.  Counts are additive, so
    post-fold flagging equals flagging against a from-scratch build
    over corpus ∪ survivors.  ``epoch``: see
    :func:`minhash_index_fold` — committed epochs skip, half-written
    ones overwrite their own subdirectory."""

    def stats(survivors, meta):
        return [("df", _gram_counts(survivors, id_col, text_col, meta["k"]))]

    _fold_survivors(
        increment_docs, flagged_ids, path, "exactngram", id_col, epoch,
        lineage, stats,
    )


def exactngram_seen_index(df: DataFrame) -> DataFrame:
    """The flag-time projection of a loaded exact n-gram index: the
    distinct seen-gram fingerprints.  Split out so multi-batch
    consumers (the fold runner) can materialize it once per
    snapshot."""
    return df.select("fp")


def flag_against_exactngram_index(
    new_docs: DataFrame,
    seen: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag new documents sharing ANY >= k-token verbatim substring
    with the indexed corpus — exact semantics, every gram checked.
    Output, one row per flagged document: (id_col, n_dup_grams,
    max_span_tokens) — the matched positions folded into maximal
    spans exactly like ``exact_ngram_dup_stats``.  Works for batch
    and streaming ``new_docs`` (stateless up to the final per-doc
    aggregate).

    Scale shape: the join shuffles (id, pos, fp) gram rows against
    the (fp) seen set — O(total new tokens), the exactness price; the
    span fold is one groupBy collecting matched positions only."""
    k = meta["k"]
    g = new_docs.select(
        F.col(id_col).alias("_new_id"),
        F.posexplode(
            ddp.ngram_fingerprints(F.col(text_col), k)
        ).alias("pos", "fp"),
    )
    matched = g.join(seen, "fp").groupBy("_new_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sort_array(F.collect_list("pos")).alias("_ps"),
    )
    return matched.select(
        F.col("_new_id").alias(id_col),
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        (ddp._dup_span_fold(F.col("_ps"), k)["max_run"] + k - 1)
        .cast("long")
        .alias("max_span_tokens"),
    )


def clean_against_exactngram_index(
    new_docs: DataFrame,
    seen: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    emit_text: bool = False,
) -> DataFrame:
    """The REMOVAL ACTION against a persisted exact n-gram index —
    the incremental form of ``dedup.exact_ngram_clean``: splice out
    of each new document every token covered by a >= k-token gram
    ALREADY IN the indexed corpus, so an increment keeps only its
    novel text and the indexed copy stays the canonical one (the
    "first occurrence wins" rule, with the whole corpus as the first
    occurrence).  This is how the Lee et al. 2022 removal pass runs
    in production: the corpus index grows by O(increment) folds and
    each arriving increment is cleaned against it — the corpus-wide
    operator never re-runs.

    Output matches ``exact_ngram_clean``: (id_col, n_tokens,
    n_kept_tokens[, cleaned_text], cleaned_fp) for every non-empty
    new document; documents sharing nothing pass through untouched.
    Works for batch and streaming ``new_docs`` (stateless up to the
    one per-doc aggregate — drive streams through foreachBatch, the
    fold runner's pattern).

    Scale shape: one gram row per new token joins the (fp) seen set
    — the increment shuffles, the INDEX side is the join's build
    relation; the splice is the shared narrow per-doc map
    (``dedup._splice_removed``), no further shuffle."""
    k = meta["k"]
    base = ddp._ensure_parallelism(
        new_docs.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("_new_id"),
        ddp.tokens(F.col(text_col)).alias("_tk"),
        ddp.ngram_fingerprints(F.col(text_col), k).alias("_g"),
    ).where(F.size("_tk") > 0)
    g = base.select("_new_id", F.posexplode("_g").alias("pos", "fp"))
    rm = (
        g.join(seen, "fp")
        .groupBy("_new_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_rm"))
    )
    joined = base.join(rm, "_new_id", "left").select(
        "_new_id",
        "_tk",
        F.coalesce(F.col("_rm"), F.array().cast("array<int>")).alias("_rm"),
    )
    return ddp._splice_removed(joined, "_new_id", id_col, k, emit_text)


def substring_surviving_index(
    fps: DataFrame, df: DataFrame, meta: dict
) -> DataFrame:
    """The stop-gram-filtered (id, fp) index — document frequency
    summed over the per-fold deltas, fingerprints with df > max_df
    dropped BEFORE any join sees them.  Split out so multi-batch
    consumers (stream-static flagging, the fold runner) can
    materialize it once per index snapshot."""
    good = df.where(F.col("df") <= meta["max_df"]).select("fp")
    return fps.join(good, "fp", "left_semi")


def flag_against_substring_index(
    new_docs: DataFrame,
    fps: DataFrame,
    df: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stateless candidate stream of (id, partner) rows — one per
    (new doc, index doc, shared surviving fingerprint) — against a
    loaded winnow index; reduce with
    ``streaming.analytics.reduce_substring_flags``.  The stop-gram
    filter (summed df > max_df) prunes the index side BEFORE the
    join, so boilerplate fingerprints never enter the exchange.
    Works for batch and streaming ``new_docs``."""
    idx = substring_surviving_index(fps, df, meta)
    if new_docs.isStreaming:
        # materialize the stop-gram-filtered index once (stream-static
        # joins re-run the static plan per micro-batch)
        from ..session import iter_checkpoint

        idx = iter_checkpoint(idx)
    return flag_against_surviving_substrings(
        new_docs, idx, meta, id_col=id_col, text_col=text_col
    )


def flag_against_surviving_substrings(
    new_docs: DataFrame,
    idx: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The flagging tail of :func:`flag_against_substring_index`,
    taking the pre-filtered (and possibly pre-materialized) index —
    the entry point for callers that flag MANY batches against one
    index snapshot (the fold runner)."""
    hash_fn = _HASH_FNS[meta["hash"]]
    s_fps = ddp.attach_winnow_fingerprints(
        new_docs.select(F.col(id_col), F.col(text_col)),
        [id_col],
        text_col,
        k=meta["k"],
        w=meta["w"],
        hash_fn=hash_fn,
        out="_fps",
    ).select(F.col(id_col).alias("_new_id"), F.explode("_fps").alias("fp"))
    return s_fps.join(idx, "fp").select(
        F.col("_new_id").alias("id"), F.col("id").alias("partner")
    )
