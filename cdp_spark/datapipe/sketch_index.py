"""Persisted SKETCH index (HLL registers + CMS counters) with
incremental SNAPSHOT folds — the "distinct users per segment over a
growing 100 TB event log, without ever rescanning it" lifecycle.

The dedup/retrieval indexes (``dedup_index``, ``retrieval_index``)
persist DELTA folds and pay for it with a compaction lifecycle
(foldcount sidecars, compaction locks) because their state grows with
the corpus.  Sketch state does NOT: an HLL-by-group register table is
O(groups x 2^p) rows and a CMS is depth x width counters REGARDLESS of
input volume — that bound is the whole point of the sketch family.  So
this index makes the opposite LSM trade: **every fold rewrites the
full merged state** (an LSM whose every flush is a full compaction):

    fold(epoch e) = merge(state at the committed pointer, sketch(increment))
                    written to  <stat>/fold=[<lineage>-]e<e>/  (overwrite)

- fold cost O(state + increment) — and state is tiny by construction;
- reads are O(1): ONE snapshot directory, never a fold-union merge,
  no compaction step, no compaction lock, ever;
- replay-idempotent under foreachBatch's at-least-once: the merge
  inputs are (committed snapshot, increment), both unchanged on
  replay, and the epoch directory is overwritten wholesale; the
  state pointer only advances AFTER the parquet writes commit.

Merges are lossless, so *fold-then-estimate equals estimate over a
from-scratch sketch of the full corpus, exactly*: HLL registers merge
by per-register ``max`` (associative, commutative, idempotent —
Flajolet et al. 2007) and CMS counters merge by ``sum`` (Cormode &
Muthukrishnan 2005).  That identity is the oracle contract: the
driver replays the folded estimate against DuckDB's full-corpus twin
(``hll_by_oracle_sql`` / ``cms_oracle_sql``) and both engines must
hash-match bit-for-bit.

Layout::

    <path>/_cdp_index_meta.json  params (col/group_cols/p, cms shape)
    <path>/_state.json           {"dir": "fold=e3", "epoch": 3,
                                  "lineage": null} — the committed
                                  snapshot pointer + replay watermark
                                  in ONE atomic write
    <path>/hll/fold=base/        (group..., register, max_rank)
    <path>/hll/fold=e<N>/        full merged state at epoch N
    <path>/cms/fold=.../         (row, bucket, cnt), same chain

Fold directory names, lineage tags and atomic JSON writes are the
shared protocol of :mod:`.fold_commit`; the one departure is the
watermark, which lives in the snapshot pointer so both commit together.
Single-writer contract: one fold driver per index at a time — the
snapshot chain is linear.  A RE-CREATED checkpoint (epoch
ids restart at 0) passes a fresh ``lineage`` tag: the epoch-skip
watermark is lineage-scoped, while the snapshot pointer is global, so
the new lineage's first fold continues from the latest committed
state instead of skipping behind a stale epoch number.

Reference parity: superset scope — the reference has no persisted
sketch state (its sketches live per-window in step functions); this
is the training-pipeline lifecycle (SURVEY §2 extensions).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fold_commit as fc
from . import sketches as sk

_STATE_NAME = "_state.json"


def _read_state(path: str) -> dict:
    with open(os.path.join(path, _STATE_NAME)) as f:
        return json.load(f)


def _write_state(path: str, fold_dir: str, epoch, lineage) -> None:
    """Commit the snapshot pointer and the replay watermark in ONE
    atomic write."""
    fc.write_json_atomic(
        os.path.join(path, _STATE_NAME),
        {"dir": fold_dir, "epoch": epoch, "lineage": lineage},
    )


def _hll_state(df: DataFrame, meta: dict) -> DataFrame:
    return sk.hll_registers_by(
        df, list(meta["group_cols"]), meta["col"], int(meta["p"])
    )


def _cms_state(df: DataFrame, meta: dict) -> DataFrame:
    c = meta["cms"]
    return sk.cms_sketch(
        df, c["col"], depth=int(c["depth"]), width=int(c["width"])
    )


def _bloom_state(df: DataFrame, meta: dict) -> DataFrame:
    b = meta["bloom"]
    return sk.bloom_positions(
        df, b["col"], n_bits=int(b["n_bits"]), k=int(b["k"])
    )


def _hist_state(df: DataFrame, meta: dict) -> DataFrame:
    """(bin, cnt) over FIXED bounds — unlike the ad-hoc
    :func:`~cdp_spark.datapipe.sketches.histogram_sketch` (which
    derives lo/hi from the data), the indexed histogram PINS its
    bucket boundaries in the meta, because counters from different
    folds only merge when their bins mean the same interval — the
    Prometheus fixed-buckets rule.  Out-of-range values clamp into
    the edge bins (documented estimator semantics, not data loss)."""
    h = meta["hist"]
    lo, hi, bins = float(h["lo"]), float(h["hi"]), int(h["bins"])
    width = (hi - lo) / bins
    c = F.col(h["col"]).cast("double")
    bin_ = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width))),
    ).cast("long")
    return (
        df.where(F.col(h["col"]).isNotNull())
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# stat directory -> (meta key that enables it, state of a frame, lossless
# merge of (committed snapshot ∪ increment state), the stat's name in
# errors)
_STATS = {
    "hll": (
        "col",
        _hll_state,
        lambda u, meta: u.groupBy(*meta["group_cols"], "register").agg(
            F.max("max_rank").alias("max_rank")
        ),
        "an HLL",
    ),
    "cms": (
        "cms",
        _cms_state,
        lambda u, meta: u.groupBy("row", "bucket").agg(
            F.sum("cnt").alias("cnt")
        ),
        "a CMS",
    ),
    "bloom": ("bloom", _bloom_state, lambda u, meta: u.distinct(), "a Bloom"),
    "hist": (
        "hist",
        _hist_state,
        lambda u, meta: u.groupBy("bin").agg(F.sum("cnt").alias("cnt")),
        "a histogram",
    ),
}


def sketch_index_write(
    df: DataFrame,
    path: str,
    col: str | None = None,
    group_cols: list[str] | None = None,
    p: int = 8,
    cms_col: str | None = None,
    cms_depth: int = 3,
    cms_width: int = 256,
    bloom_col: str | None = None,
    bloom_bits: int = 131072,
    bloom_k: int = 3,
    hist_col: str | None = None,
    hist_lo: float = 0.0,
    hist_hi: float = 1.0,
    hist_bins: int = 1000,
) -> None:
    """Initialize the index over a base corpus (possibly empty): the
    per-``group_cols`` HLL register state of ``col``, plus — when the
    respective col is given — a global CMS, a Bloom filter (set-bit
    positions), and/or a fixed-bounds histogram of that column, all
    written as the ``fold=base`` snapshot.  Every stat merges
    losslessly: register MAX, counter SUM, position UNION, bin-count
    SUM — so fold==rebuild is exact for the whole pack.  The
    histogram's ``hist_lo``/``hist_hi`` bounds are pinned in the meta
    (folds only merge when bins mean the same interval); values
    outside clamp into the edge bins.

    Every stat is OPTIONAL, the HLL included (optimization r17):
    an index that only serves CMS/bloom/histogram estimates passes
    ``col=None`` and never computes, writes, or re-merges the unused
    register state — one state job per fold instead of two."""
    meta: dict = {"kind": "sketch"}
    if col is not None:
        meta["col"] = col
        meta["group_cols"] = list(group_cols or [])
        meta["p"] = int(p)
    if cms_col is not None:
        meta["cms"] = {
            "col": cms_col, "depth": int(cms_depth), "width": int(cms_width)
        }
    if bloom_col is not None:
        meta["bloom"] = {
            "col": bloom_col, "n_bits": int(bloom_bits), "k": int(bloom_k)
        }
    if hist_col is not None:
        meta["hist"] = {
            "col": hist_col, "lo": float(hist_lo), "hi": float(hist_hi),
            "bins": int(hist_bins),
        }
    base = fc.fold_dir_name(fc.BASE)
    for stat, (key, state_of, _, _) in _STATS.items():
        if key in meta:
            state_of(df, meta).write.mode("overwrite").parquet(
                os.path.join(path, stat, base)
            )
    fc.write_meta(path, meta)
    _write_state(path, base, None, None)


def _epoch_committed(path: str, epoch: int, lineage: str | None) -> bool:
    """True when this (lineage, epoch) fold already committed — the
    replay-skip rule shared by :func:`sketch_index_fold` and the
    probe-then-fold gate runner (which must skip its PROBE too: after
    the fold commits, re-probing the batch would read a snapshot that
    already contains it and flag everything as seen)."""
    state = _read_state(path)
    return (
        state.get("epoch") is not None
        and state.get("lineage") == lineage
        and int(epoch) <= int(state["epoch"])
    )


def sketch_index_fold(
    increment_df: DataFrame,
    path: str,
    epoch: int,
    lineage: str | None = None,
) -> None:
    """FOLD an increment: merge its sketch state into the committed
    snapshot and write the result as this epoch's snapshot.  Lossless
    (max-merge registers, sum-merge counters), O(state + increment),
    idempotent on replay of a committed epoch (lineage-scoped skip;
    the pointer-advance-last ordering makes half-written epochs
    rewrite cleanly).  ``epoch`` is required — every sketch fold is a
    full snapshot, so there is no unlabeled append form."""
    new_dir = fc.fold_dir_name(fc.fold_name(epoch, lineage))
    meta = fc.read_meta(path, "sketch")
    if _epoch_committed(path, epoch, lineage):
        return
    state = _read_state(path)
    spark = increment_df.sparkSession
    for stat, (key, state_of, merge, _) in _STATS.items():
        if key in meta:
            prev = spark.read.parquet(os.path.join(path, stat, state["dir"]))
            merge(
                prev.unionByName(state_of(increment_df, meta)), meta
            ).write.mode("overwrite").parquet(os.path.join(path, stat, new_dir))
    _write_state(path, new_dir, int(epoch), lineage)


def _committed(spark: SparkSession, path: str, stat: str):
    """(meta, the committed snapshot of ``stat``) — ONE snapshot
    directory, whatever has been folded.  ValueError when the index
    was written without that stat."""
    meta = fc.read_meta(path, "sketch")
    key, _, _, name = _STATS[stat]
    if key not in meta:
        raise ValueError(f"index was written without {name} column")
    return meta, spark.read.parquet(
        os.path.join(path, stat, _read_state(path)["dir"])
    )


def sketch_index_hll_estimate(spark: SparkSession, path: str) -> DataFrame:
    """Per-group HLL cardinality from the committed snapshot — ONE
    tiny parquet read (O(groups x 2^p) rows) + the shared estimator,
    regardless of how much data has been folded.  Equals
    :func:`~cdp_spark.datapipe.sketches.hll_estimate_by` over the
    union of everything written + folded, exactly."""
    meta, regs = _committed(spark, path, "hll")
    return sk.hll_estimate_from_registers(
        regs, int(meta["p"]), group_cols=list(meta["group_cols"])
    )


def sketch_index_cms_estimates(
    spark: SparkSession, path: str, items: DataFrame, col: str | None = None
) -> DataFrame:
    """CMS point estimates for ``items`` from the committed snapshot
    (min-of-counters upper bound; the sketch side broadcasts).
    Equals estimates from a from-scratch sketch of all folded data."""
    meta, sketch = _committed(spark, path, "cms")
    c = meta["cms"]
    return sk.cms_estimates(
        sketch, items, col or c["col"],
        depth=int(c["depth"]), width=int(c["width"]),
    )


def sketch_index_hist_quantiles(
    spark: SparkSession, path: str, quantiles=(0.5, 0.95, 0.99)
) -> DataFrame:
    """Approximate quantiles from the committed histogram snapshot —
    the same one-pass-over-≤bins-rows estimator as
    :func:`~cdp_spark.datapipe.sketches.histogram_quantiles` (first
    bin whose cumulative count reaches ceil(q·N), linear
    interpolation inside it, half-up rounding at 4 digits), but with
    the bounds READ FROM THE META instead of the data, so the answer
    over base ∪ all folds is exact fold==rebuild (bin-count sums are
    lossless).  Error bound: one bin width (hi−lo)/bins."""
    from pyspark.sql import Window as W

    from .sketches import _round_half_up

    meta, hist = _committed(spark, path, "hist")
    h = meta["hist"]
    lo, hi, bins = float(h["lo"]), float(h["hi"]), int(h["bins"])
    width = (hi - lo) / bins
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    full = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "bin", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(full).alias("n"),
    )
    target = F.ceil(F.col("q") * F.col("n"))
    return (
        cum.select(
            "bin", "cnt", "cum", "n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in quantiles])
            ).alias("q"),
        )
        .where(
            (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
        )
        .select(
            "q",
            _round_half_up(
                F.lit(lo)
                + F.lit(width)
                * (
                    F.col("bin").cast("double")
                    + (
                        (target - (F.col("cum") - F.col("cnt"))).cast("double")
                        / F.col("cnt")
                    )
                ),
                4,
            ).alias("estimate"),
        )
    )


def sketch_index_bloom_contains(
    spark: SparkSession, path: str, items: DataFrame, col: str | None = None
) -> DataFrame:
    """Bloom membership verdicts for ``items`` from the committed
    snapshot (``(col, might_contain)`` — no false negatives; the
    positions side broadcasts, ≤ n_bits rows).  Position union is
    idempotent, so the folded filter equals one built from scratch
    over all folded data — bit-identically."""
    meta, positions = _committed(spark, path, "bloom")
    b = meta["bloom"]
    return sk.bloom_contains(
        positions, items, col or b["col"],
        n_bits=int(b["n_bits"]), k=int(b["k"]),
    )
