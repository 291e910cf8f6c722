"""Persisted sketch-index contracts (r16): snapshot folds are
lossless (fold == rebuild exactly), replay-idempotent, O(1) to read,
and the streaming ingest runner equals the batch sketch."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from cdp_spark.datapipe import fold_commit as fc
from cdp_spark.datapipe import sketch_index as si
from cdp_spark.datapipe import sketches as sk
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _build(spark, path, ev, cms=True):
    si.sketch_index_write(
        ev.where(F.col("event_id") % 3 == 0), path,
        col="user_id", group_cols=["event_type"], p=6,
        **(dict(cms_col="user_id", cms_depth=3, cms_width=64) if cms else {}),
    )
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 1), path, epoch=1)
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 2), path, epoch=2)


def test_fold_equals_rebuild(spark, tmp_path):
    """Base + two folds == a from-scratch sketch over the full
    corpus, exactly — registers max-merge, counters sum-merge, both
    lossless, so estimates (not just states) are identical."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    _build(spark, path, ev)

    got_hll = _rows(si.sketch_index_hll_estimate(spark, path))
    want_hll = _rows(sk.hll_estimate_by(ev, ["event_type"], "user_id", p=6))
    assert got_hll == want_hll and len(got_hll) > 0

    items = ev.select("user_id").where(F.col("user_id").isNotNull()).distinct()
    got_cms = _rows(si.sketch_index_cms_estimates(spark, path, items))
    want_cms = _rows(
        sk.cms_estimates(
            sk.cms_sketch(ev, "user_id", depth=3, width=64),
            items, "user_id", depth=3, width=64,
        )
    )
    assert got_cms == want_cms and len(got_cms) > 0


def test_bloom_fold_equals_rebuild(spark, tmp_path):
    """The pack's third merge: folded Bloom positions (union) equal a
    from-scratch filter — verdicts bit-identical, and no false
    negatives (every true member reads might_contain)."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    purchases = ev.where(F.col("event_type") == "purchase")
    path = str(tmp_path / "idx")
    si.sketch_index_write(
        purchases.where(F.col("event_id") % 3 == 0), path,
        col="user_id", p=6, bloom_col="user_id", bloom_bits=4096, bloom_k=3,
    )
    si.sketch_index_fold(
        purchases.where(F.col("event_id") % 3 == 1), path, epoch=1
    )
    si.sketch_index_fold(
        purchases.where(F.col("event_id") % 3 == 2), path, epoch=2
    )
    items = ev.select("user_id").where(F.col("user_id").isNotNull()).distinct()
    got = _rows(si.sketch_index_bloom_contains(spark, path, items))
    want = _rows(
        sk.bloom_contains(
            sk.bloom_positions(purchases, "user_id", n_bits=4096, k=3),
            items, "user_id", n_bits=4096, k=3,
        )
    )
    assert got == want and len(got) > 0
    verdict = {u: m for u, m in got}
    members = {
        r["user_id"] for r in purchases.select("user_id").distinct().collect()
    }
    assert all(verdict[u] for u in members)  # no false negatives


def test_fold_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch (foreachBatch at-least-once) is a
    no-op: the state pointer stays put and the estimate is unchanged
    — even when the replayed frame differs (a replay can only ever be
    the same batch, so the skip must win)."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    _build(spark, path, ev, cms=False)
    before_state = si._read_state(path)
    before = _rows(si.sketch_index_hll_estimate(spark, path))
    # replay epoch 1 with a DIFFERENT (wrong) frame: must be skipped
    si.sketch_index_fold(ev.limit(5), path, epoch=1)
    assert si._read_state(path) == before_state
    assert _rows(si.sketch_index_hll_estimate(spark, path)) == before


def test_fresh_lineage_continues_from_snapshot(spark, tmp_path):
    """A re-created checkpoint restarts epoch ids at 0; its folds
    carry a fresh lineage tag, so the epoch-skip watermark does not
    swallow them — the fold runs and continues from the latest
    committed snapshot."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    si.sketch_index_write(
        ev.where(F.col("event_id") % 3 == 0), path,
        col="user_id", group_cols=["event_type"], p=6,
    )
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 1), path, epoch=1)
    # new lineage, epoch 0 < 1: must NOT skip
    si.sketch_index_fold(
        ev.where(F.col("event_id") % 3 == 2), path, epoch=0, lineage="ck2"
    )
    got = _rows(si.sketch_index_hll_estimate(spark, path))
    want = _rows(sk.hll_estimate_by(ev, ["event_type"], "user_id", p=6))
    assert got == want


def test_crash_replay_overwrites_half_written_epoch(spark, tmp_path):
    """A crash between the epoch's parquet write and the pointer
    commit leaves a half-written snapshot behind; the replayed fold
    must overwrite it wholesale (never merge with or trip over it)."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    si.sketch_index_write(
        ev.where(F.col("event_id") % 3 == 0), path,
        col="user_id", group_cols=["event_type"], p=6,
    )
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 1), path, epoch=1)
    # simulate the torn epoch-2 write: garbage where the snapshot goes
    torn = os.path.join(path, "hll", "fold=e2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 2), path, epoch=2)
    got = _rows(si.sketch_index_hll_estimate(spark, path))
    want = _rows(sk.hll_estimate_by(ev, ["event_type"], "user_id", p=6))
    assert got == want


def test_estimate_reads_single_snapshot(spark, tmp_path):
    """The O(1)-read pin: after N folds the estimate's scan touches
    ONLY the latest committed snapshot directory — never a fold-union
    — which is what makes the index compaction-free by design."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    _build(spark, path, ev, cms=False)
    meta = fc.read_meta(path, "sketch")
    regs = spark.read.parquet(
        os.path.join(path, "hll", si._read_state(path)["dir"])
    )
    files = si.sketch_index_hll_estimate(spark, path).inputFiles()
    assert files and all("fold=e2" in f for f in files)
    assert si._read_state(path)["dir"] == "fold=e2"
    # and the snapshot is genuinely bounded: <= groups x 2^p rows
    n_groups = ev.select("event_type").distinct().count()
    assert regs.count() <= n_groups * (1 << int(meta["p"]))


def test_hist_fold_equals_rebuild(spark, tmp_path):
    """Fixed-bounds histogram folds (bin-count SUM) are lossless:
    quantiles from base + two folds equal quantiles from an index
    built over the full corpus in one shot."""
    ev = load_table(spark, SF, "events").select("event_id", "value")
    kw = dict(col="value", p=6, hist_col="value",
              hist_lo=0.0, hist_hi=1000.0, hist_bins=500)
    folded = str(tmp_path / "folded")
    si.sketch_index_write(ev.where(F.col("event_id") % 3 == 0), folded, **kw)
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 1), folded, epoch=1)
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 2), folded, epoch=2)
    whole = str(tmp_path / "whole")
    si.sketch_index_write(ev, whole, **kw)
    got = _rows(si.sketch_index_hist_quantiles(spark, folded))
    want = _rows(si.sketch_index_hist_quantiles(spark, whole))
    assert got == want and len(got) == 3
    # estimates bounded by one bin width around the exact quantiles
    exact = ev.approxQuantile("value", [0.5, 0.95, 0.99], 0.0)
    est = dict(got)
    for q, ex in zip((0.5, 0.95, 0.99), exact):
        assert abs(est[q] - ex) <= 2.0 + 1e-9, (q, est[q], ex)


def test_bloom_gate_probe_then_fold_semantics(spark, tmp_path):
    """The gate's verdicts see base ∪ earlier batches, never the
    batch's own rows: a key first streamed in batch 1 reads unseen
    there (even when repeated within the batch) and seen in batch 2;
    base keys read seen everywhere.  And the replay guard: once an
    epoch's fold committed, re-running its step is a no-op (the
    verdicts on disk keep their pre-fold reading — they do NOT flip
    to all-seen)."""
    from cdp_spark.streaming.fold_runner import run_bloom_gate_stream

    base_rows = [(0, 100), (2, 101)]
    b0 = [(1, 100), (3, 200), (5, 200)]   # 100 seen; 200 new, twice
    b1 = [(7, 200), (9, 300)]             # 200 now seen; 300 new
    path = str(tmp_path / "idx")
    spark.createDataFrame(
        base_rows, "event_id long, user_id long"
    ).createOrReplaceTempView("_bg_base")
    si.sketch_index_write(
        spark.table("_bg_base"), path,
        col="user_id", p=6, bloom_col="user_id", bloom_bits=4096,
        bloom_k=3,
    )
    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time() - 300
    for k, batch in enumerate([b0, b1]):
        p = src / f"batch-{k}.json"
        with open(p, "w") as f:
            for eid, uid in batch:
                f.write(f'{{"event_id": {eid}, "user_id": {uid}}}\n')
        os.utime(p, (base_t + 60 * k, base_t + 60 * k))
    flags_dir = str(tmp_path / "flags")
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_bloom_gate_stream(
        stream, path, flags_dir, id_cols=["event_id"],
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
    )
    assert q.awaitTermination(120)

    def _read():
        return {
            r["event_id"]: (r["seen_before"], r["epoch"])
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(flags_dir).collect()
        }

    got = _read()
    assert got == {
        1: (True, 0),   # in base
        3: (False, 0),  # first sighting
        5: (False, 0),  # repeat within OWN batch: still unseen
        7: (True, 1),   # folded by batch 0
        9: (False, 1),
    }
    # replay epochs 0-1 after their folds committed (fresh checkpoint
    # restreams both files under the same default lineage): the guard
    # must skip each step wholesale — verdicts unchanged, not flipped
    # to all-seen by a post-fold re-probe
    stream2 = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q2 = run_bloom_gate_stream(
        stream2, path, flags_dir, id_cols=["event_id"],
        checkpoint_dir=str(tmp_path / "ck2"), available_now=True,
    )
    assert q2.awaitTermination(120)
    assert _read() == got  # fresh checkpoint replays epochs 0-1: all skipped


def test_streaming_ingest_equals_batch(spark, tmp_path):
    """run_sketch_ingest_stream over 3 single-file micro-batches (one
    EMPTY — the skip path must not disturb the watermark chain)
    equals the batch sketch over base ∪ streamed rows."""
    from cdp_spark.streaming.fold_runner import run_sketch_ingest_stream

    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "idx")
    si.sketch_index_write(
        ev.where(F.col("event_id") % 2 == 0), path,
        col="user_id", group_cols=["event_type"], p=6,
    )
    rest = ev.where(F.col("event_id") % 2 == 1).collect()
    src = tmp_path / "src"
    src.mkdir()
    half = len(rest) // 2
    batches = [rest[:half], [], rest[half:]]
    base = time.time() - 300
    for k, batch in enumerate(batches):
        p = src / f"batch-{k}.json"
        with open(p, "w") as f:
            for r in batch:
                f.write(
                    f'{{"event_id": {r["event_id"]}, '
                    f'"user_id": {r["user_id"]}, '
                    f'"event_type": "{r["event_type"]}"}}\n'
                )
        os.utime(p, (base + 60 * k, base + 60 * k))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_sketch_ingest_stream(
        stream, path, checkpoint_dir=str(tmp_path / "ck"), available_now=True
    )
    assert q.awaitTermination(120)
    got = _rows(si.sketch_index_hll_estimate(spark, path))
    want = _rows(sk.hll_estimate_by(ev, ["event_type"], "user_id", p=6))
    assert got == want


def test_cms_only_index_skips_hll_state(spark, tmp_path):
    """optimization r17: every stat is optional, the HLL included — a
    CMS-only index (col=None) writes and folds no register state (no
    hll/ directory at all) and its folded estimates still equal the
    from-scratch sketch exactly."""
    ev = load_table(spark, SF, "events").select("event_id", "user_id")
    path = str(tmp_path / "idx")
    si.sketch_index_write(
        ev.where(F.col("event_id") % 3 == 0), path,
        cms_col="user_id", cms_depth=3, cms_width=64,
    )
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 1), path, epoch=1)
    si.sketch_index_fold(ev.where(F.col("event_id") % 3 == 2), path, epoch=2)
    assert not os.path.isdir(os.path.join(path, "hll"))
    items = ev.select("user_id").where(F.col("user_id").isNotNull()).distinct()
    got = _rows(si.sketch_index_cms_estimates(spark, path, items))
    want = _rows(
        sk.cms_estimates(
            sk.cms_sketch(ev, "user_id", depth=3, width=64),
            items, "user_id", depth=3, width=64,
        )
    )
    assert got == want and len(got) > 0
    # the stats it was written without raise a clear error, not a
    # raw KeyError from the meta
    import pytest

    with pytest.raises(ValueError, match="without an HLL column"):
        si.sketch_index_hll_estimate(spark, path)
    with pytest.raises(ValueError, match="without a Bloom column"):
        si.sketch_index_bloom_contains(spark, path, items, "user_id")
    with pytest.raises(ValueError, match="without a histogram column"):
        si.sketch_index_hist_quantiles(spark, path)
