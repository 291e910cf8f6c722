"""Event-time streaming aggregation with watermarks — the capability
SURVEY §2.6 declares as Spark's addition over the reference (whose
windows are processing-time + arrival-count only, src/step.ts:76-77).

Two shapes:

- :func:`stream_time_window_agg` — tumbling event-time windows
  (``F.window``) with a watermark: late events inside the watermark
  delay are GUARANTEED to merge into their window (the strict side of
  Spark's watermark contract); events later than the watermark lose
  that guarantee — the engine may aggregate them (this Spark build
  admits them as a late singleton window) or drop them, and their
  state is evicted as the watermark advances (bounded state at any
  scale — without the watermark, streaming window state grows
  forever).
- :func:`stream_session_windows` — gap-based sessions
  (``F.session_window``): the streaming twin of the batch
  ``session_gap`` query, with the same 30-minute default gap.

Scale: state lives in the state store partitioned by (key, window);
the shuffle is the same hash exchange the batch aggregate uses, and
AQE sizes the micro-batch side.  Watermark delay bounds both state
size and result latency — pick it from the source's real out-of-
orderness, not from the window length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Keyed streaming state (stream_ewma, stream_holt, the new x new leg of
# stream_incremental_near_dups) is grouped by
# pmod(xxhash64(key), STATE_BUCKETS): one Python call and one state row
# per bucket per trigger instead of per key (optimization r17: 15.4 s ->
# 8.8 s on the ~15k-user driver stream).  A constant, not derived from
# parallelism: the checkpoint stores state per bucket, so a count that
# changed between restarts would move keys away from their carries and
# their recurrences would silently start over.
STATE_BUCKETS = 64


def _state_bucket(*cols: Column) -> Column:
    return F.pmod(F.xxhash64(*cols), F.lit(STATE_BUCKETS))


def stream_time_window_agg(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time aggregation: (window, *keys) -> count and
    exact decimal sum.  Late data within ``watermark`` merges into its
    window (guaranteed); later data has no guarantee — state for
    passed windows is evicted, each window is emitted exactly once in
    append mode."""
    group: list[Column | str] = [F.window(F.col(ts_col), window)]
    group += list(keys or [])
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*group)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col(value_col).cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(keys or []),
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based event-time sessions per key — the streaming twin of
    the batch ``session_gap`` query (same inactivity-gap semantics,
    here with dynamic session merging as late events arrive inside
    the watermark)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col(value_col).cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_near_dup_flags(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Streaming near-dup flagging against a STATIC corpus — the
    dedup-on-ingest path: every streamed document is MinHash-banded
    with pure Column expressions (shingle -> signature -> band keys
    run inside the micro-batch, no state), candidates come from a
    stream-static equi-join on (band, bucket) against the corpus's
    precomputed band index, and exact Jaccard verifies against the
    corpus shingle arrays.  Output: one row per duplicated streamed
    doc — (id, dup_of, jaccard) with dup_of the minimum matching
    corpus id (order-insensitive, so micro-batch boundaries cannot
    change the answer; the driver value-hashes it against the batch
    oracle).

    Scope: flags stream-vs-corpus duplicates only.  Stream-vs-stream
    duplicates within the increment need keyed state
    (dropDuplicatesWithinWatermark on a content key, or the batch
    incremental_near_dups over the accumulated increment) — kept out
    so the join stays stateless and the per-batch cost stays
    O(batch x bucket-occupancy).

    At 100 TB the static side is the persisted signature index
    (datapipe.dedup.minhash_signatures_df written at ingest), loaded
    once per stream start; the band join broadcasts only if the
    corpus index fits — otherwise it is a shuffled stream-static
    join, which Spark executes per micro-batch against the static
    side's materialized exchange.
    """
    from ..datapipe import dedup as ddp

    if hash_fn is None:
        hash_fn = ddp.default_hash64
    rows = num_perm // bands
    bucket_fn = None if hash_fn is ddp.default_hash64 else hash_fn

    enriched = ddp._enrich_signatures(
        corpus_docs, id_col, text_col, num_perm, n, hash_fn
    )
    corpus_bands = enriched.select(
        F.col("_id").alias("_old_id"),
        F.explode(
            ddp.lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
        ).alias("bk"),
    ).select(
        "_old_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    corpus_sh = enriched.select(
        F.col("_id").alias("_old_id"), F.col("_sh").alias("_old_sh")
    )

    s = stream_docs.select(
        F.col(id_col).alias("_new_id"), F.col(text_col).alias("_t")
    ).filter(F.size(ddp.tokens(F.col("_t"))) > 0)
    s = ddp.attach_minhash_signature(
        s.select("_new_id", ddp.shingles(F.col("_t"), n).alias("_new_sh")),
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
        .join(corpus_bands, ["band", "bucket"])
        .join(corpus_sh, "_old_id")
    )
    inter = F.size(F.array_intersect("_new_sh", "_old_sh")).cast("double")
    union = F.size(F.array_union("_new_sh", "_old_sh")).cast("double")
    jac = F.round(
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6
    )
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


def stream_simhash_flags(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 5,
    n_chunks: int = 6,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Streaming SimHash dedup gate against a STATIC corpus — the
    fingerprint twin of :func:`stream_near_dup_flags`: every streamed
    document's 64-bit SimHash and Manku chunk keys compute inside the
    micro-batch (pure Columns, no state), candidates come from a
    stream-static equi-join on (band, bucket) against the corpus's
    chunk index, and the exact ``bit_count(xor) <= max_hamming``
    verify replays the batch operator — the banding is lossless
    (pigeonhole, chunks cover all bits), so the flagged set is
    EXACTLY the streamed docs within hamming ``max_hamming`` of some
    corpus doc.  Output: (id, dup_of, hamming) with dup_of the
    closest corpus partner (min hamming, ties to the lowest corpus
    id) — an order-insensitive min-struct aggregate, so micro-batch
    boundaries cannot change the answer.

    Scale shape: the static side is (id, fingerprint, chunk) rows —
    24 bytes per chunk per doc, ~100x lighter than the MinHash band
    index with its shingle arrays — so at 100 TB the corpus index
    broadcasts far longer before falling back to a shuffled
    stream-static join; the fingerprint rides the chunk index
    (one long) so the verify needs NO second corpus join.

    Implementation: ONE pipeline shared with the persisted-index path
    — the corpus fingerprints here are exactly an in-memory
    :func:`~cdp_spark.datapipe.dedup_index.simhash_index_write`
    frame, so this delegates to ``flag_against_simhash_index`` (same
    chunking, verify, tie rule, empty-token filtering on both sides)
    instead of hand-copying the join tail a third time."""
    from ..datapipe import dedup as ddp
    from ..datapipe.dedup_index import (
        _fingerprint_frame,
        _hash_name,
        flag_against_simhash_index,
    )

    if hash_fn is None:
        hash_fn = ddp.default_hash64
    corpus = _fingerprint_frame(
        corpus_docs, id_col, text_col, hash_fn
    ).localCheckpoint(eager=True)
    meta = {"kind": "simhash", "bits": bits, "hash": _hash_name(hash_fn)}
    return flag_against_simhash_index(
        stream_docs, corpus, meta,
        id_col=id_col, text_col=text_col,
        max_hamming=max_hamming, n_chunks=n_chunks,
    )


def stream_incremental_near_dups(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    hash_fn=None,
    max_bucket_members: int | None = None,
) -> DataFrame:
    """FULL streaming incremental near-dedup: flag streamed documents
    that duplicate the static corpus OR an EARLIER streamed document
    — the stateful completion of :func:`stream_near_dup_flags`.

    Two candidate paths, unioned into one append-mode pair stream:

    - new x old: the stateless stream-static (band, bucket) join
      against the corpus band index (as in stream_near_dup_flags),
      with intersection/union sizes computed engine-side.
    - new x new: ``applyInPandasWithState`` keyed by (band, bucket).
      State = the bucket's streamed members so far (ids + shingle
      sets, JSON-encoded like the count-or-time operator).  Each
      arriving member emits one candidate row against every earlier
      member of its bucket; within a micro-batch members process in
      ascending id order, so every unordered pair is emitted exactly
      once per bucket regardless of arrival order.

    Determinism: "earlier" is defined by the dedup PRECEDENCE ORDER
    (corpus docs first, then streamed docs by ascending id), NOT by
    arrival time — so the flagged doc of a new-new pair is always the
    LARGER id and the result is independent of micro-batch boundaries;
    the driver value-hashes the reduced output against the batch
    incremental oracle.

    Output (append stream): candidate rows
    (id, partner, p_new, inter_n, union_n) — exact integers, so the
    jaccard division and rounding happen engine-side afterwards
    (:func:`reduce_incremental_pairs`), never in Python float.

    Scale: per-bucket state grows with the increment's bucket
    occupancy (shingle sets included — the verify payload).  At
    100 TB bound it two ways (ADVICE r8):

    - ``max_bucket_members`` caps each (band, bucket) state: once a
      bucket holds that many streamed members, later arrivals still
      flag AGAINST the held members but are not retained as future
      partners (bounded recall loss, same trade as the batch
      occupancy cap; logged executor-side when first hit).  State
      writes are also skipped whenever a batch leaves a bucket's
      membership unchanged — a hot capped bucket stops re-encoding
      its JSON blob every micro-batch.
    - restart the increment periodically by FOLDING survivors into
      the persisted corpus index
      (:func:`cdp_spark.datapipe.dedup_index.minhash_index_fold`) and
      clearing the checkpoint — the state is the increment, not the
      corpus, and the fold makes that true indefinitely
      (fold-then-flag == flag-against-rebuilt-corpus, oracled by the
      ``fold_incremental_dedup`` driver query).

    State is grouped into :data:`STATE_BUCKETS` buckets by
    (band, bucket): each logical (band, bucket) keeps its own member
    list, cap and ascending-id processing order inside its state
    bucket, and the count is a constant so that a restarted checkpoint
    finds every bucket's members.
    """
    import json as _json

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..datapipe import dedup as ddp

    if hash_fn is None:
        hash_fn = ddp.default_hash64
    rows = num_perm // bands
    bucket_fn = None if hash_fn is ddp.default_hash64 else hash_fn

    enriched = ddp._enrich_signatures(
        corpus_docs, id_col, text_col, num_perm, n, hash_fn
    )
    corpus_bands = enriched.select(
        F.col("_id").alias("_old_id"),
        F.explode(
            ddp.lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
        ).alias("bk"),
    ).select(
        "_old_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    corpus_sh = enriched.select(
        F.col("_id").alias("_old_id"), F.col("_sh").alias("_old_sh")
    )

    s = stream_docs.select(
        F.col(id_col).alias("_new_id"), F.col(text_col).alias("_t")
    ).filter(F.size(ddp.tokens(F.col("_t"))) > 0)
    s = ddp.attach_minhash_signature(
        s.select("_new_id", ddp.shingles(F.col("_t"), n).alias("_new_sh")),
        ["_new_id", "_new_sh"],
        "_new_sh",
        num_perm,
        42,
        hash_fn,
    )
    banded = s.select(
        "_new_id",
        "_new_sh",
        F.explode(
            ddp.lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
        ).alias("bk"),
    ).select(
        "_new_id",
        "_new_sh",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )

    new_old = (
        banded.join(corpus_bands, ["band", "bucket"])
        .join(corpus_sh, "_old_id")
        .select(
            F.col("_new_id").alias("id"),
            F.col("_old_id").alias("partner"),
            F.lit(0).alias("p_new"),
            F.size(F.array_intersect("_new_sh", "_old_sh"))
            .cast("long")
            .alias("inter_n"),
            F.size(F.array_union("_new_sh", "_old_sh"))
            .cast("long")
            .alias("union_n"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("partner", T.LongType()),
            T.StructField("inter_n", T.LongType()),
            T.StructField("union_n", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("members", T.StringType())])

    def _pair_bucket(members, rows_in, out):
        """The pairing of one logical (band, bucket): rows_in
        ascending by id, each arrival pairs against every held member,
        then joins the member list unless the cap holds it out.
        Returns (changed, capped)."""
        changed = False
        capped = False
        for nid, nsh in rows_in:
            nset = set(nsh)
            for mid, msh in members:
                a = set(msh)
                out.append(
                    (
                        max(nid, mid),
                        min(nid, mid),
                        len(nset & a),
                        len(nset | a),
                    )
                )
            if (
                max_bucket_members is None
                or len(members) < max_bucket_members
            ):
                members.append((nid, nsh))
                changed = True
            else:
                capped = True
        return changed, capped

    def pair_fn(key, pdfs, state: GroupState):
        # state = one JSON object "band:bucket" -> members for every
        # logical bucket hashed into this state bucket
        buckets: dict[str, list]
        if state.exists:
            buckets = {
                bk: [(int(i), sh) for i, sh in mem]
                for bk, mem in _json.loads(state.get[0]).items()
            }
        else:
            buckets = {}
        per_bucket: dict[str, list[tuple[int, list[str]]]] = {}
        for pdf in pdfs:
            for b, k, i, sh in zip(
                pdf["band"], pdf["bucket"], pdf["_new_id"], pdf["_new_sh"]
            ):
                per_bucket.setdefault(f"{int(b)}:{int(k)}", []).append(
                    (int(i), list(sh))
                )
        out = []
        changed = False
        capped_keys = []
        for bk, rows_in in per_bucket.items():
            rows_in.sort(key=lambda t: t[0])
            members = buckets.setdefault(bk, [])
            ch, capped = _pair_bucket(members, rows_in, out)
            changed = changed or ch
            if capped:
                capped_keys.append(bk)
        if capped_keys:
            import logging as _logging

            _logging.getLogger(__name__).warning(
                "stream_incremental_near_dups buckets %s at "
                "max_bucket_members=%d: new arrivals flag against "
                "held members but are not retained; fold the "
                "increment into the corpus index to reset state",
                capped_keys,
                max_bucket_members,
            )
        # Re-encode state only when membership changed: a capped hot
        # bucket must not re-serialize its map every batch (ADVICE r8).
        if changed:
            state.update((_json.dumps(buckets),))
        if out:
            yield pd.DataFrame(
                out, columns=["id", "partner", "inter_n", "union_n"]
            )

    grouped = banded.withColumn(
        "_kb", _state_bucket(F.col("band"), F.col("bucket"))
    ).groupBy("_kb")
    new_new = grouped.applyInPandasWithState(
        pair_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).select(
        "id", "partner", F.lit(1).alias("p_new"), "inter_n", "union_n"
    )
    return new_old.unionByName(new_new)


def reduce_incremental_pairs(
    pairs: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Batch epilogue for :func:`stream_incremental_near_dups`'
    materialized pair stream: dedupe cross-bucket candidate repeats,
    verify with the engine-side rounded Jaccard (exact integer
    inputs), and reduce to the FIRST PRECEDING PARTNER per flagged
    doc — min over (p_new, partner), i.e. corpus partners before
    streamed ones, then ascending id, the same precedence the batch
    incremental_near_dups (and its oracle) uses."""
    verified = (
        pairs.distinct()
        .withColumn(
            "jaccard",
            F.round(
                F.when(
                    F.col("union_n") > 0,
                    F.col("inter_n").cast("double") / F.col("union_n"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = F.min(
        F.struct(F.col("p_new"), F.col("partner"), F.col("jaccard"))
    ).alias("_best")
    return (
        verified.groupBy("id")
        .agg(best)
        .select(
            F.col("id").alias(id_col),
            F.col("_best.partner").alias("dup_of"),
            F.col("_best.jaccard").alias("jaccard"),
        )
    )


def stream_exact_substring_flags(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    w: int = 12,
    max_df: int = 50,
    hash_fn=None,
) -> DataFrame:
    """Streaming exact-substring flagging against a static corpus —
    the winnowing twin of :func:`stream_near_dup_flags`: each
    streamed document's winnow fingerprints (pure Column exprs,
    stateless) join the corpus's precomputed fingerprint index; a doc
    sharing any exact substring of length >= k + w - 1 with a corpus
    doc is flagged with its minimum-id partner and the shared
    surviving-fingerprint count for that partner.

    The corpus-side stop-gram filter (``max_df`` over CORPUS document
    frequency) applies before the join, so boilerplate fingerprints
    never enter the stream-static exchange — the occupancy bound is
    static-side and precomputable at index build time.

    Returns the stateless APPEND candidate stream (id, partner) — one
    row per (streamed doc, corpus doc, shared fingerprint); reduce the
    materialized stream with :func:`reduce_substring_flags` (two
    chained aggregations are not allowed inside one streaming query,
    the same split the incremental dedup pair stream uses).
    """
    from ..datapipe import dedup as ddp

    from ..session import iter_checkpoint
    from ..datapipe.dedup import _ensure_parallelism

    # Winnow the corpus ONCE (checkpointed before the df aggregate
    # and the semi-join both consume it — the dsir/winnow-pairs
    # double-eval lesson), then filter to surviving fingerprints.
    corpus_fps = iter_checkpoint(
        ddp.attach_winnow_fingerprints(
            _ensure_parallelism(
                corpus_docs.select(F.col(id_col), F.col(text_col))
            ),
            [id_col],
            text_col,
            k=k,
            w=w,
            hash_fn=hash_fn,
            out="_fps",
        ).select(F.col(id_col).alias("_old_id"), F.explode("_fps").alias("fp"))
    )
    good = (
        corpus_fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    corpus_index = corpus_fps.join(good, "fp", "left_semi")

    s_fps = ddp.attach_winnow_fingerprints(
        stream_docs.select(F.col(id_col), F.col(text_col)),
        [id_col],
        text_col,
        k=k,
        w=w,
        hash_fn=hash_fn,
        out="_fps",
    ).select(F.col(id_col).alias("_new_id"), F.explode("_fps").alias("fp"))
    return s_fps.join(corpus_index, "fp").select(
        F.col("_new_id").alias("id"), F.col("_old_id").alias("partner")
    )


def reduce_substring_flags(
    cands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Batch epilogue for :func:`stream_exact_substring_flags`'
    materialized candidate stream: per flagged doc, the minimum
    corpus partner and the shared-fingerprint count for THAT partner.
    Output: (id, dup_of, n_shared)."""
    per_pair = cands.groupBy("id", "partner").agg(
        F.count(F.lit(1)).alias("_n")
    )
    best = F.min(F.struct(F.col("partner"), F.col("_n"))).alias("_best")
    return (
        per_pair.groupBy("id")
        .agg(best)
        .select(
            F.col("id").alias(id_col),
            F.col("_best.partner").alias("dup_of"),
            F.col("_best._n").alias("n_shared"),
        )
    )


# Process-wide cache of the constructed Gopher signal Column, keyed
# by text column.  Building the battery's Column tree costs ~3 s of
# py4j round trips (the expression is huge); the tree is an immutable
# unresolved expression, so one instance serves every gate/query in
# the process (the _r10_gate_cols precedent — VERDICT r10 #3).
_GOPHER_SIG_COLS: dict = {}


def _gopher_sig_col(text_col: str):
    if text_col not in _GOPHER_SIG_COLS:
        from ..datapipe.quality_rules import gopher_signals

        _GOPHER_SIG_COLS[text_col] = gopher_signals(F.col(text_col))
    return _GOPHER_SIG_COLS[text_col]


def stream_gopher_gate(
    stream_docs: DataFrame,
    text_col: str = "text",
    **thresholds: float,
) -> DataFrame:
    """The full Gopher A1.1 rule battery as a curation-on-ingest
    gate (the heavyweight sibling of :func:`stream_quality_gate`):
    per streamed document every repetition/formatting signal
    (datapipe.quality_rules.gopher_signals) plus the threshold
    verdict — still pure Column expressions, so the gate stays
    STATELESS (append mode, no watermark, no state store) and costs
    one narrow map per micro-batch; micro-batch boundaries cannot
    change any row, so a batch frame replays it exactly (the oracle
    discipline).  ``thresholds`` override gopher_filter's canonical
    cutoffs.

    Output: the input columns plus the flattened signal battery and
    ``passes``.

    Plan-size discipline (VERDICT r10 #3/#4): the signal Column is
    built once per process (``_gopher_sig_col``) and ``passes`` reads
    the MATERIALIZED ``g`` struct column — field references, not a
    second copy of the signal tree — so the per-micro-batch
    optimizer/planner walks one battery expression, not two.
    """
    from ..datapipe.quality_rules import gopher_filter

    return (
        stream_docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .withColumn("g", _gopher_sig_col(text_col))
        .withColumn("passes", gopher_filter(F.col("g"), **thresholds))
        .select("*", "g.*")
        .drop("g")
    )


def stream_quality_gate(
    stream_docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.7,
) -> DataFrame:
    """Curation-on-ingest quality gate: per streamed document the
    composite quality heuristic (datapipe.text.quality_score), the
    PII audit counts (datapipe.curate.pii_counts), and the pass/fail
    decision (quality >= ``min_quality`` AND zero PII hits) — all
    pure Column expressions, so the gate is STATELESS (append mode,
    no watermark, no state store) and costs one codegen map per
    micro-batch.  Empty documents are dropped (no signal).

    This is the cheap front gate a 100 TB ingest runs before anything
    expensive (dedup indexes, embeddings) sees the text; route
    ``passed`` rows onward and the rest to the reject/audit sink.
    Works identically on batch frames (the oracle replays it)."""
    from ..datapipe.curate import pii_counts
    from ..datapipe.text import quality_score

    return (
        stream_docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .withColumn("quality", quality_score(F.col(text_col)))
        .withColumn("_pii", pii_counts(F.col(text_col)))
        .withColumn(
            "n_pii",
            (F.col("_pii.n_emails") + F.col("_pii.n_phones")).cast("long"),
        )
        .withColumn(
            "passed",
            (F.col("quality") >= F.lit(min_quality))
            & (F.col("n_pii") == 0),
        )
        .drop("_pii")
    )


def _stream_key_runs(
    stream: DataFrame, key_col, order_cols, value_col, rec
) -> DataFrame:
    """Streaming driver of a per-key recurrence (the kernel the batch
    operators run, :func:`~cdp_spark.datapipe.analytics._recur_key_runs`):
    one ``applyInPandasWithState`` group per state bucket
    (:data:`STATE_BUCKETS`).  A bucket's rows are sorted by
    (key, ``order_cols``), so each key's rows form one run consumed in
    ``order_cols`` order from the carry of the key's previous rows.
    State per bucket = the map key -> carry plus the null keys' carry
    (Spark maps forbid null keys); no timeout."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..datapipe.analytics import _recur_key_runs

    kt = stream.schema[key_col].dataType
    int_key = isinstance(kt, T.IntegralType)
    bucketed = stream.withColumn("_kb", _state_bucket(F.col(key_col)))
    cols = list(bucketed.columns) + list(rec.out_cols)
    out_schema = T.StructType(
        list(bucketed.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in rec.out_cols]
    )
    state_schema = T.StructType(
        [
            T.StructField("m", T.MapType(kt, rec.carry_type)),
            T.StructField("null_carry", rec.carry_type),
        ]
    )

    def _fn(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        pdf = pdf.sort_values([key_col] + order_cols, kind="mergesort")
        carries = {}
        if state.exists:
            m, null_carry = state.get
            carries = dict(m or {})
            carries[None] = null_carry
        _recur_key_runs(pdf, key_col, value_col, int_key, carries, rec)
        null_carry = carries.pop(None, None)
        state.update((carries, null_carry))
        yield pdf[cols]

    return (
        bucketed.groupBy("_kb")
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .drop("_kb")
    )


def stream_ewma(
    stream: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """STREAMING per-key EWMA — the telemetry-smoothing recurrence
    ``y_0 = x_0``, ``y_i = alpha*x_i + (1-alpha)*y_{i-1}`` carried
    across micro-batches (VERDICT r15 next #5): the canonical
    ``applyInPandasWithState`` use, where the whole cross-batch state
    is one number per key (the last smoothed value).

    Semantics contract: the recurrence consumes each key's rows in
    ``order_cols`` order WITHIN a micro-batch (sorted inside the
    state function — shuffle order never leaks into the result), and
    in ARRIVAL order across batches; it equals the batch
    :func:`~cdp_spark.datapipe.analytics.ewma` exactly when the
    source delivers each key's rows in non-decreasing ``order_cols``
    order across batches (the normal telemetry regime — per-device
    readings arrive in time order).  Out-of-order cross-batch
    arrivals smooth in arrival order, the standard streaming-EWMA
    behavior.

    The step arithmetic is the batch operator's own (one recurrence
    kernel for both), so with (1-alpha) exactly representable the
    stream equals the batch and any IEEE oracle bit-for-bit.  State
    is bounded by key cardinality — one double per key, never
    corpus-sized; no timeout (a key's baseline persists for its next
    reading).  Keys share :data:`STATE_BUCKETS` state buckets, a
    constant so that a restarted checkpoint finds every key's carry.

    Output: the input columns + ``out_col``, append mode."""
    from ..datapipe.analytics import _ewma_recurrence

    return _stream_key_runs(
        stream, key_col, order_cols, value_col,
        _ewma_recurrence(alpha, out_col),
    )


def stream_holt(
    stream: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """STREAMING per-key Holt double exponential smoothing — the
    two-state (level, trend) recurrence of
    :func:`~cdp_spark.datapipe.analytics.holt` carried across
    micro-batches: ``l_1 = x_1, b_1 = 0``;
    ``l_i = alpha*x_i + (1-alpha)*(l + b)``,
    ``b_i = beta*(l_i - l) + (1-beta)*b`` — trend-aware smoothing
    where :func:`stream_ewma` systematically lags a ramp.

    Same contract as stream_ewma: rows consume in ``order_cols``
    order WITHIN a batch (sorted in the state function) and arrival
    order ACROSS batches, equal to the batch operator whenever each
    key's rows arrive in non-decreasing order across batches.  State
    per key is (level, trend) — bounded by key cardinality, no
    timeout.  The step is the batch operator's own, so with
    exactly-representable complements the stream, the batch
    operator, and a recursive-CTE oracle agree bit-for-bit.  Keys
    share :data:`STATE_BUCKETS` state buckets, a constant so that a
    restarted checkpoint finds every key's carry."""
    from ..datapipe.analytics import _holt_recurrence

    return _stream_key_runs(
        stream, key_col, order_cols, value_col,
        _holt_recurrence(alpha, beta),
    )
