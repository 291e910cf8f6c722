"""IVF serving-generation re-fit lifecycle (VERDICT r11 next #4).

The fold-lifecycle IVF index gains an automated re-fit: occupancy
accumulates from fold count-deltas, a skew trigger trains k-means on
everything folded, builds the next immutable generation, and swaps
the serving pointer atomically.  Pin: (a) refit-then-serve equals a
from-scratch trained build over the same data, (b) post-refit folds
assign to the TRAINED lists and the union stays exact under full
probing, (c) committed epochs keep replay-skipping across the swap,
(d) the streaming policy actually fires and advances the generation.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from cdp_spark.datapipe import fold_commit as fc
from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table
from tests.oracles import cosine_topk

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_refit_equals_from_scratch_trained_build(spark, tmp_path):
    emb = _emb(spark)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb.where(F.col("vec_id") % 2 == 0), root, epoch=0)
    sim.ivf_serving_fold(emb.where(F.col("vec_id") % 2 == 1), root, epoch=1)
    cents, counts = sim.ivf_serving_refit(spark, root, iters=2)
    assert sim.ivf_serving_path(root).endswith("gen-1")
    assert sum(counts.values()) == emb.count()

    served = _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=4, round_digits=4)
    )
    scratch = str(tmp_path / "scratch")
    trained, _ = sim.kmeans_fit(emb, 64, k=8, iters=2, seed=7)
    sim.ivf_index_init(scratch, dim=64, n_centroids=8, seed=7, centroids=trained)
    sim.ivf_index_fold(emb, scratch)
    assert served == _rows(
        sim.ivf_index_topk(spark, scratch, qv, k=10, n_probe=4, round_digits=4)
    )


def test_post_refit_folds_assign_to_trained_lists(spark, tmp_path):
    emb = _emb(spark)
    first = emb.where(F.col("vec_id") % 3 != 2)
    later = emb.where(F.col("vec_id") % 3 == 2)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(first, root, epoch=0)
    cents, _ = sim.ivf_serving_refit(spark, root, iters=2)
    sim.ivf_serving_fold(later, root, epoch=1)

    # the increment's rows landed in the trained argmin lists
    gen = sim.ivf_serving_path(root)
    meta = fc.read_meta(gen, "ivf")
    assert meta["centroids"] == [[float(x) for x in c] for c in cents]
    folded = spark.read.parquet(os.path.join(gen, "fold=e1"))
    expect = sim._ivf_meta_assign(later, meta).select("vec_id", "centroid")
    got = folded.select("vec_id", "centroid")
    assert sorted(_rows(got)) == sorted(_rows(expect))

    # probing ALL lists over the union is exact: equals brute force
    assert _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=8,
                             round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


def test_committed_epochs_skip_replay_across_the_swap(spark, tmp_path):
    emb = _emb(spark)
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(b0, root, epoch=0, lineage="s1")
    sim.ivf_serving_refit(spark, root, iters=1)
    gen = sim.ivf_serving_path(root)
    n_before = spark.read.parquet(gen).count()
    # replay of the pre-refit epoch: watermark carried -> no-op
    assert sim.ivf_serving_fold(b0, root, epoch=0, lineage="s1") is None
    assert spark.read.parquet(gen).count() == n_before


def test_post_refit_serving_prunes_partitions(spark, tmp_path):
    """The trained generation must keep the listing-time pruning: the
    served query's scan carries PartitionFilters on centroid and
    reads ONLY the probed lists — across both the refit-written base
    rows and a post-refit epoch fold."""
    emb = _emb(spark)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb.where(F.col("vec_id") % 2 == 0), root, epoch=0)
    sim.ivf_serving_refit(spark, root, iters=1)
    sim.ivf_serving_fold(emb.where(F.col("vec_id") % 2 == 1), root, epoch=1)
    out = sim.ivf_serving_topk(spark, root, qv, k=5, n_probe=2,
                               round_digits=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid" in m.group(1), plan[:2000]
    assert out.count() == 5


def test_streaming_skew_policy_fires_and_advances_generation(
    spark, tmp_path
):
    from cdp_spark.streaming.fold_runner import run_ivf_serving_stream

    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    src = str(tmp_path / "src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    # random anchors over real embeddings are never perfectly
    # balanced: a 1.05x-fair-share trigger fires on the fixture
    q = run_ivf_serving_stream(
        stream, root, checkpoint_dir=ckpt, available_now=True,
        refit_skew=1.05, refit_min_rows=10,
    )
    assert q.awaitTermination(300), "serving stream still running"
    occ = json.load(open(os.path.join(root, "_ivf_occupancy.json")))
    assert occ.get("refits", 0) >= 1
    assert not sim.ivf_serving_path(root).endswith("gen-0")
    assert occ["total"] == emb.count()
    # the served index holds every vector exactly once and serves
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assert _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=8,
                             round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


# ------------------------------------------------------- r13 hardening
# VERDICT r12 next #4 + ADVICE r12: occupancy is derived from the
# fold's epoch-keyed atomic commit (no separate mutable counter to
# tear), refit is single-writer (lock file) and refuses to swap a
# rebuild that raced a concurrent fold's commit.


def test_occupancy_derivation_survives_fold_crash_and_replay(
    spark, tmp_path, monkeypatch
):
    """Crash-injection (VERDICT r12 #4 'Done' criterion): kill the
    fold between its data/sidecar writes and the epoch commit, then
    replay.  The derived occupancy must converge to the true counts —
    no loss, no double count."""
    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    sim.ivf_serving_fold(b0, root, epoch=0, lineage="s1")

    real_commit = fc.commit_epoch

    def _boom(path, meta, epoch, lineage=None):
        raise RuntimeError("injected crash before the epoch commit")

    monkeypatch.setattr(fc, "commit_epoch", _boom)
    try:
        sim.ivf_serving_fold(b1, root, epoch=1, lineage="s1")
    except RuntimeError:
        pass
    monkeypatch.setattr(fc, "commit_epoch", real_commit)

    # the torn fold's data+sidecar exist; occupancy counts what the
    # index actually serves (the torn fold is readable until replay
    # overwrites it) — never a number the data contradicts
    gen = sim.ivf_serving_path(root)
    occ = sim.ivf_index_occupancy(gen)
    assert occ["total"] == spark.read.parquet(gen).count()

    # replay commits epoch 1 idempotently: derived occupancy == truth
    delta = sim.ivf_serving_fold(b1, root, epoch=1, lineage="s1")
    assert delta is not None
    occ = sim.ivf_index_occupancy(gen)
    assert occ["total"] == emb.count()
    assert occ["total"] - occ["base_total"] == emb.count()
    # and a second replay of the committed epoch changes nothing
    assert sim.ivf_serving_fold(b1, root, epoch=1, lineage="s1") is None
    assert sim.ivf_index_occupancy(gen)["total"] == emb.count()


def test_fold_crash_before_sidecar_is_served_but_not_counted(
    spark, tmp_path, monkeypatch
):
    """An epoch fold writes data, then its _foldcounts sidecar, then
    its watermark.  A crash between the data and the sidecar leaves
    rows that queries serve but occupancy does not count, with the
    watermark still at the previous epoch; the replay counts them
    exactly once."""
    import numpy as np

    vecs = np.random.default_rng(5).standard_normal((40, 4)).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    b0 = emb.where(F.col("vec_id") < 20)
    b1 = emb.where(F.col("vec_id") >= 20)
    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=4, n_centroids=4, seed=7)
    sim.ivf_index_fold(b0, path, epoch=0)

    def _boom(path, fold_name, counts):
        raise RuntimeError("injected crash before the sidecar write")

    real_sidecar = sim._write_foldcounts
    monkeypatch.setattr(sim, "_write_foldcounts", _boom)
    try:
        sim.ivf_index_fold(b1, path, epoch=1)
    except RuntimeError:
        pass
    monkeypatch.setattr(sim, "_write_foldcounts", real_sidecar)

    def served_ids():
        return {
            r.vec_id
            for r in sim.ivf_index_topk(
                spark, path, [1.0, 0.0, 0.0, 0.0], k=40, n_probe=4
            ).collect()
        }

    assert served_ids() == set(range(40))
    assert sim.ivf_index_occupancy(path)["total"] == 20
    assert fc.watermarks(path) == {None: 0}

    assert sim.ivf_index_fold(b1, path, epoch=1) is not None
    assert fc.watermarks(path) == {None: 1}
    occ = sim.ivf_index_occupancy(path)
    assert occ["total"] == 40
    actual = {
        int(r["centroid"]): int(r["n"])
        for r in spark.read.parquet(path)
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert occ["counts"] == actual
    assert served_ids() == set(range(40))


def test_refit_lock_excludes_concurrent_refit(spark, tmp_path):
    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb, root, epoch=0)
    lock = os.path.join(root, "_refit.lock")
    with open(lock, "w") as f:
        f.write("999999")
    try:
        sim.ivf_serving_refit(spark, root, iters=1)
        assert False, "refit must refuse while the lock is held"
    except RuntimeError as e:
        assert "_refit.lock" in str(e)
    os.remove(lock)
    sim.ivf_serving_refit(spark, root, iters=1)
    assert not os.path.exists(lock), "lock released after success"
    assert sim.ivf_serving_path(root).endswith("gen-1")


def test_refit_retries_when_a_fold_commits_mid_rebuild(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (medium): a fold committing between the refit's
    data read and its swap must NOT have its watermark carried while
    its vectors are absent — the refit rebuilds from fresh data and
    the final generation serves every vector."""
    emb = _emb(spark)
    early = emb.where(F.col("vec_id") % 3 == 0)
    racer = emb.where(F.col("vec_id") % 3 != 0)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(early, root, epoch=0, lineage="a")

    real_fit = sim.kmeans_fit
    fired = {"n": 0}

    def _racing_fit(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            # another lineage commits a fold while we train
            sim.ivf_serving_fold(racer, root, epoch=0, lineage="b")
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(sim, "kmeans_fit", _racing_fit)
    cents, counts = sim.ivf_serving_refit(spark, root, iters=1)
    assert fired["n"] == 1
    # the rebuild retried: every vector (racer included) is in gen-1
    assert sum(counts.values()) == emb.count()
    gen = sim.ivf_serving_path(root)
    assert gen.endswith("gen-1")
    assert spark.read.parquet(gen).count() == emb.count()
    # the racer's watermark carried AND its vectors are present, so
    # its replay skips without loss
    assert sim.ivf_serving_fold(racer, root, epoch=0, lineage="b") is None
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assert _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=8,
                             round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


def test_post_check_fold_watermark_not_carried(spark, tmp_path, monkeypatch):
    """ADVICE r13 (medium): a fold committing AFTER the refit's final
    watermark check (in the check -> swap window) must NOT have its
    watermark carried into the new generation — the carried state is
    materialized from the verified snapshot, so the late fold's epoch
    replays into the new generation instead of being silently lost."""
    emb = _emb(spark)
    early = emb.where(F.col("vec_id") % 3 == 0)
    racer = emb.where(F.col("vec_id") % 3 != 0)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(early, root, epoch=0, lineage="a")

    real_state = fc.watermarks
    calls = {"n": 0}

    def _racy_state(gen_path):
        snap = real_state(gen_path)
        calls["n"] += 1
        if calls["n"] == 2:  # the final post-rebuild check
            # a fold lands AFTER the check captured its verdict: the
            # snapshot already returned says "no advance", but the old
            # generation now holds an advanced _watermark.b.json
            sim.ivf_serving_fold(racer, root, epoch=0, lineage="b")
        return snap

    monkeypatch.setattr(fc, "watermarks", _racy_state)
    sim.ivf_serving_refit(spark, root, iters=1)
    gen = sim.ivf_serving_path(root)
    assert gen.endswith("gen-1")
    # the late fold's watermark stayed in the OLD generation only
    assert not os.path.exists(os.path.join(gen, "_watermark.b.json"))
    # so its epoch REPLAYS into the new generation (not skipped) and
    # nothing is lost
    assert (
        sim.ivf_serving_fold(racer, root, epoch=0, lineage="b") is not None
    )
    assert spark.read.parquet(gen).count() == emb.count()
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assert _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=8,
                             round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


def test_retry_carries_default_lineage_meta_watermark_fresh(
    spark, tmp_path, monkeypatch
):
    """The retry path's meta-key twin of the snapshot fix: `meta` is
    read once before the retry loop, so a default-lineage fold that
    forces a retry must have its (meta-key) watermark carried from the
    fresh snapshot — not the stale pre-loop read, which would replay
    the epoch into a generation that already holds its vectors."""
    emb = _emb(spark)
    early = emb.where(F.col("vec_id") % 3 == 0)
    racer = emb.where(F.col("vec_id") % 3 != 0)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(early, root, epoch=0, lineage="a")

    real_fit = sim.kmeans_fit
    fired = {"n": 0}

    def _racing_fit(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            # the DEFAULT lineage commits mid-train: watermark lives in
            # meta (last_epoch), not a sidecar
            sim.ivf_serving_fold(racer, root, epoch=5)
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(sim, "kmeans_fit", _racing_fit)
    cents, counts = sim.ivf_serving_refit(spark, root, iters=1)
    assert fired["n"] == 1
    assert sum(counts.values()) == emb.count()
    gen = sim.ivf_serving_path(root)
    assert int(fc.read_meta(gen, "ivf")["last_epoch"]) == 5
    # replay of the racer's epoch skips — its vectors are already in
    # the rebuild and its watermark carried fresh
    n_before = spark.read.parquet(gen).count()
    assert sim.ivf_serving_fold(racer, root, epoch=5) is None
    assert spark.read.parquet(gen).count() == n_before == emb.count()


def test_manual_refit_refreshes_gen_stamped_occupancy(spark, tmp_path):
    """ADVICE r12 (low): a hand-run refit must not leave the
    monitoring snapshot stale — it rewrites it gen-stamped with the
    rebuilt counts as part of the swap."""
    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb, root, epoch=0)
    sim.ivf_serving_refit(spark, root, iters=1)
    occ = json.load(open(os.path.join(root, "_ivf_occupancy.json")))
    assert occ["gen"] == 1
    assert occ["since_refit"] == 0
    assert occ["total"] == emb.count()


def test_epochless_appends_visible_to_derived_occupancy(spark, tmp_path):
    """ADVICE r13 (low): epoch-less folds (epoch=None) into a
    base_counts generation land in fold=base — which the derivation
    reads from META, not footers — so they accumulate into the
    _foldcounts.base sidecar and count as GROWTH, keeping the refit
    policy's total/skew honest without waiting for a refit to
    rebase."""
    emb = _emb(spark)
    a = emb.where(F.col("vec_id") % 3 == 0)
    b = emb.where(F.col("vec_id") % 3 == 1)
    c = emb.where(F.col("vec_id") % 3 == 2)
    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=8, seed=7)
    sim.ivf_index_fold(a, path, epoch=None)  # epoch-less append
    occ = sim.ivf_index_occupancy(path)
    assert occ["total"] == a.count()
    assert occ["base_total"] == 0  # growth, not base
    sim.ivf_index_fold(b, path, epoch=None)  # accumulates, not replaces
    sim.ivf_index_fold(c, path, epoch=0)  # epoch fold on top
    occ = sim.ivf_index_occupancy(path)
    assert occ["total"] == emb.count()
    assert occ["base_total"] == 0
    # the derived per-centroid counts equal the data's actual layout
    data = spark.read.parquet(path)
    actual = {
        int(r["centroid"]): int(r["n"])
        for r in data.groupBy("centroid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert occ["counts"] == actual


def test_second_epochless_appender_fails_loudly(spark, tmp_path):
    """Two concurrent epoch-less appends would each count the other's
    part files into their occupancy delta and race the
    _foldcounts.base.json read-modify-write.  The append holds an
    O_EXCL lock: a second appender fails naming it and leaves the
    data and the derived occupancy untouched."""
    import pytest

    emb = _emb(spark)
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=8, seed=7)
    sim.ivf_index_fold(a, path, epoch=None)
    before = sim.ivf_index_occupancy(path)
    lock = os.path.join(path, "_append.lock")
    with open(lock, "w") as f:
        f.write("999999")  # another appender mid-write
    with pytest.raises(RuntimeError, match="_append.lock"):
        sim.ivf_index_fold(b, path, epoch=None)
    assert os.path.isfile(lock)  # the holder's lock stays
    assert sim.ivf_index_occupancy(path) == before
    assert spark.read.parquet(path).count() == a.count()
    os.remove(lock)
    sim.ivf_index_fold(b, path, epoch=None)
    assert sim.ivf_index_occupancy(path)["total"] == emb.count()
    assert not os.path.exists(lock)


def test_foldcounts_compaction_keeps_policy_reads_o1_at_120_folds(
    tmp_path,
):
    """VERDICT r13 next #4: a never-refitted deployment accumulating
    one _foldcounts sidecar per fold must not pay O(#folds) file reads
    per policy check.  120 synthetic folds (sidecars + fold dirs, no
    Spark needed — the derivation is driver-side file IO): compaction
    merges them into ONE compact file with identical derived
    occupancy, deletes the merged sidecars, and survives the crash
    window where a covered fold's sidecar lingers (no double-count)."""
    path = str(tmp_path / "ivf")
    os.makedirs(path)
    sim.ivf_index_init(path, dim=8, n_centroids=4, seed=7)
    expect: dict[int, int] = {}
    for i in range(120):
        fold = f"s-e{i}"
        os.makedirs(os.path.join(path, f"fold={fold}"))
        counts = {i % 4: 1 + (i % 3), (i + 1) % 4: 2}
        sim._write_foldcounts(path, fold, counts)
        for c, n in counts.items():
            expect[c] = expect.get(c, 0) + n
    before = sim.ivf_index_occupancy(path)
    assert before["counts"] == expect

    assert sim.compact_foldcounts(path) is True
    sidecars = [
        e for e in os.listdir(path)
        if e.startswith("_foldcounts.") and e.endswith(".json")
        and e != "_foldcounts.base.json"
    ]
    assert sidecars == [], sidecars  # all 120 merged + deleted
    compact = json.load(
        open(os.path.join(path, "_foldcounts_compact.json"))
    )
    assert len(compact["folds"]) == 120
    after = sim.ivf_index_occupancy(path)
    assert after == before  # identical derived occupancy, O(1) reads

    # crash window: a covered fold's sidecar re-appears (replay of an
    # uncommitted epoch re-writes identical counts) — covered wins,
    # never double-counted; the next compaction cleans the file up
    sim._write_foldcounts(path, "s-e0", {0: 1, 1: 2})
    assert sim.ivf_index_occupancy(path) == before
    sim.compact_foldcounts(path)
    assert not os.path.isfile(sim._foldcounts_path(path, "s-e0"))
    assert sim.ivf_index_occupancy(path) == before

    # concurrent-compaction exclusion: a LIVE holder's lock makes
    # losers no-op (our own pid is alive, so the lock is not stale)
    lock = os.path.join(path, "_foldcounts_compact.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    assert sim.compact_foldcounts(path) is False
    os.remove(lock)

    # ADVICE r14: a lock orphaned by a crash must NOT disable
    # compaction forever.  (a) dead-pid lock -> broken and compaction
    # proceeds; (b) empty legacy lock older than an hour -> aged out;
    # (c) fresh empty lock -> still respected (pre-pid writer may be
    # mid-acquire).
    sim._write_foldcounts(path, "s-e0", {0: 1})  # give it work to do
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    with open(lock, "w") as f:
        f.write(str(dead))
    assert sim.compact_foldcounts(path) is True
    assert not os.path.isfile(lock)
    assert not os.path.isfile(sim._foldcounts_path(path, "s-e0"))

    sim._write_foldcounts(path, "s-e0", {0: 1})
    open(lock, "w").close()
    old = time.time() - 7200
    os.utime(lock, (old, old))
    assert sim.compact_foldcounts(path) is True
    assert not os.path.isfile(lock)

    open(lock, "w").close()  # fresh empty lock: respected
    assert sim.compact_foldcounts(path) is False
    os.remove(lock)

    # a fresh FOREIGN-host lock is unprobeable and respected until
    # the age bound — never broken just because the pid is unknown
    # here (shared-storage deployments)
    with open(lock, "w") as f:
        f.write(f"somewhere-else:{os.getpid()}")
    assert sim.compact_foldcounts(path) is False
    old = time.time() - 7200
    os.utime(lock, (old, old))  # aged out -> broken
    sim._write_foldcounts(path, "s-e1", {1: 1})
    assert sim.compact_foldcounts(path) is True
    assert not os.path.isfile(lock)


def test_stale_lock_break_verifies_identity_after_rename(
    tmp_path, monkeypatch
):
    """ADVICE r15 TOCTOU: between this process judging the lock stale
    and its rename, a RIVAL breaker can break the same stale lock and
    re-acquire a fresh live one — the rename then captures the
    rival's FRESH lock.  The guard must detect the identity mismatch,
    restore the rival's lock, and back off (never remove it and run a
    second concurrent compaction).  The race is made deterministic by
    having the staleness judgment itself play the rival."""
    import socket

    path = str(tmp_path / "ivf")
    os.makedirs(path)
    sim.ivf_index_init(path, dim=8, n_centroids=4, seed=7)
    os.makedirs(os.path.join(path, "fold=s-e0"))
    sim._write_foldcounts(path, "s-e0", {0: 1})
    lock = os.path.join(path, "_foldcounts_compact.lock")
    old = time.time() - 7200
    open(lock, "w").close()
    os.utime(lock, (old, old))  # genuinely stale (aged-out empty)

    fresh_holder = f"{socket.gethostname()}:{os.getpid()}"
    real_stale = sim._lock_is_stale

    def rival_wins_the_race(lck, now, max_age=3600.0):
        res = real_stale(lck, now, max_age)
        if res:  # rival breaks the stale lock and re-acquires NOW
            os.remove(lck)
            with open(lck, "w") as f:
                f.write(fresh_holder)
        return res

    monkeypatch.setattr(sim, "_lock_is_stale", rival_wins_the_race)
    assert sim.compact_foldcounts(path) is False  # backed off
    # the rival's fresh lock survives, byte-identical, no tombs left
    with open(lock) as f:
        assert f.read() == fresh_holder
    assert [e for e in os.listdir(path) if ".stale." in e] == []
    # and the sidecar was NOT merged (no second compaction ran)
    assert os.path.isfile(sim._foldcounts_path(path, "s-e0"))

    # control: without the rival, the same stale lock breaks cleanly
    monkeypatch.setattr(sim, "_lock_is_stale", real_stale)
    os.remove(lock)
    open(lock, "w").close()
    os.utime(lock, (old, old))
    assert sim.compact_foldcounts(path) is True
    assert not os.path.isfile(lock)
    assert not os.path.isfile(sim._foldcounts_path(path, "s-e0"))


def test_fold_auto_compaction_in_the_real_lifecycle(
    spark, tmp_path, monkeypatch
):
    """The automatic every-Nth-fold trigger, end to end on real data:
    folds past FOLDCOUNTS_COMPACT_EVERY leave at most that many minus
    one sidecars, occupancy stays exact vs the data's actual layout,
    and queries over the compacted index are unchanged."""
    monkeypatch.setattr(sim, "FOLDCOUNTS_COMPACT_EVERY", 4)
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=8, seed=7)
    for i in range(6):
        sim.ivf_index_fold(
            emb.where(F.col("vec_id") % 6 == i), path, epoch=i, lineage="s"
        )
    sidecars = [
        e for e in os.listdir(path)
        if e.startswith("_foldcounts.") and e.endswith(".json")
        and e != "_foldcounts.base.json"
    ]
    assert len(sidecars) < 4, sidecars
    compact = json.load(
        open(os.path.join(path, "_foldcounts_compact.json"))
    )
    assert len(compact["folds"]) >= 4
    occ = sim.ivf_index_occupancy(path)
    data = spark.read.parquet(path)
    actual = {
        int(r["centroid"]): int(r["n"])
        for r in data.groupBy("centroid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert occ["counts"] == actual
    assert occ["total"] == emb.count()
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assert _rows(
        sim.ivf_index_topk(spark, path, qv, k=10, n_probe=8,
                           round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


def test_streaming_recall_floor_policy_fires_and_advances_generation(
    spark, tmp_path
):
    """The r13 QUALITY trigger: anchor-based generation 0 serves poor
    recall at 4-of-8 probes on real embeddings (measured ~0.3-0.8 on
    the fixture), so a recall floor of 0.99 fires the re-fit once the
    growth gate opens.  The floor is UNREACHABLE on this fixture even
    trained, so the hysteresis must mute the trigger after ONE
    re-fit (without it, every further growth-gated batch would pay
    an O(index) re-fit forever); the served union stays exact under
    full probing."""
    from cdp_spark.streaming.fold_runner import run_ivf_serving_stream

    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    src = str(tmp_path / "src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    holdout = emb.where(F.col("vec_id") % 100 == 0)
    q = run_ivf_serving_stream(
        stream, root, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        refit_recall_below=0.99, recall_holdout=holdout,
        recall_k=10, recall_n_probe=4, refit_min_rows=10,
    )
    assert q.awaitTermination(300), "serving stream still running"
    assert sim.ivf_serving_path(root).endswith("gen-1"), (
        "recall floor must fire EXACTLY ONE re-fit, then mute "
        f"(serving {sim.ivf_serving_path(root)})"
    )
    mute = json.load(open(os.path.join(root, "_recall_policy.json")))
    assert mute["muted_gen"] == 1
    occ = json.load(open(os.path.join(root, "_ivf_occupancy.json")))
    assert occ["total"] == emb.count()
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assert _rows(
        sim.ivf_serving_topk(spark, root, qv, k=10, n_probe=8,
                             round_digits=4)
    ) == _rows(cosine_topk(emb, qv, k=10, round_digits=4))


def test_recall_measurement_gated_on_growth_since_last_measurement(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 (low): with recall HEALTHY (no re-fit, no mute), the
    O(index x holdout) recall job must run once per ``refit_min_rows``
    of growth — gated on rows since the LAST MEASUREMENT (persisted in
    _recall_policy.json), not rows since the last re-fit, which never
    advances when nothing fires and would re-measure every batch."""
    from cdp_spark.streaming.fold_runner import run_ivf_serving_stream

    emb = _emb(spark)
    n = emb.count()  # 500 on the sf0.001 fixture
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    src = str(tmp_path / "src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    holdout = emb.where(F.col("vec_id") % 100 == 0)

    real_recall = sim.ivf_serving_recall
    measured = {"n": 0}

    def _counting_recall(*args, **kwargs):
        measured["n"] += 1
        return real_recall(*args, **kwargs)

    monkeypatch.setattr(sim, "ivf_serving_recall", _counting_recall)
    # threshold > one batch (~n/4): the gate opens mid-stream, and the
    # rows left after the first measurement can't re-open it
    min_rows = int(n * 0.6)
    q = run_ivf_serving_stream(
        stream, root, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        refit_recall_below=0.01, recall_holdout=holdout,
        recall_k=10, recall_n_probe=8, refit_min_rows=min_rows,
    )
    assert q.awaitTermination(300), "serving stream still running"
    # healthy recall: no re-fit, no mute — and the measurement ran
    # EXACTLY ONCE (per-batch gating would have run it twice: batches
    # 3 and 4 both clear the since-refit threshold)
    assert measured["n"] == 1, measured
    assert sim.ivf_serving_path(root).endswith("gen-0")
    pol = json.load(open(os.path.join(root, "_recall_policy.json")))
    assert pol.get("muted_gen") is None
    assert pol["measured_gen"] == 0
    # the persisted measured-total is the fold total at measurement
    # time (first batch whose cumulative total cleared the gate)
    assert pol["measured_total"] >= min_rows
    assert pol["measured_total"] < n


def test_recall_floor_requires_holdout(spark, tmp_path):
    from cdp_spark.streaming.fold_runner import run_ivf_serving_stream

    emb = _emb(spark)
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    src = str(tmp_path / "src")
    emb.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    try:
        run_ivf_serving_stream(stream, root, refit_recall_below=0.9)
        assert False, "must refuse a recall floor without a holdout"
    except ValueError as e:
        assert "recall_holdout" in str(e)
