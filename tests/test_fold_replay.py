"""Epoch-idempotency of the fold/ingest lifecycle (VERDICT r10 #1).

foreachBatch is at-least-once: a crash between the runner's writes and
the stream's checkpoint commit replays the batch.  These tests
re-invoke ``process_batch`` / ``bm25_index_fold`` with the SAME
(batch, epoch_id) — the replay — and assert flags, spool, counters,
and index statistics are unchanged; plus the half-written-fold crash
(stat files on disk, watermark not committed) replays to the identical
index, and a FRESH runner process resumes the persisted lifecycle
state mid-increment.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.datapipe import dedup_index as di
from cdp_spark.datapipe import fold_commit as fc
from cdp_spark.datapipe import retrieval_index as ri
from cdp_spark.session import load_table
from cdp_spark.streaming.fold_runner import IncrementFoldRunner

SF = "/root/testdata/sf0.001"


def _corpus_and_batches(spark):
    docs = load_table(spark, SF, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    b0 = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 10 == 5).select("doc_id", "text")
    return corpus, b0, b1


def _never_started_runner(spark, tmp_path, index_path, **kw):
    """A runner whose stream is never started — process_batch is
    public and takes batch DataFrames, which lets the tests drive
    exact (batch, epoch_id) sequences including replays."""
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src)
    )
    return IncrementFoldRunner(
        stream, index_path, str(tmp_path / "work"), threshold=0.5,
        bands=8, **kw,
    )


def _index_rows(spark, path):
    idx, _ = di.minhash_index_load(spark, path)
    return sorted(r["id"] for r in idx.select("id").collect())


def test_runner_replay_of_folded_epoch_is_skipped(spark, tmp_path):
    """Crash AFTER a fold committed but BEFORE the stream checkpoint:
    the triggering epoch replays; the runner must skip it outright —
    re-flagging it against the index that now CONTAINS those docs
    would flag them as duplicates of themselves."""
    corpus, b0, b1 = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)
    runner = _never_started_runner(spark, tmp_path, path, fold_every_batches=2)

    runner.process_batch(b0, 0)
    runner.process_batch(b1, 1)  # triggers the fold (watermark -> 1)
    assert runner.folds_done == 1 and runner.cycle == 1
    flags_before = {tuple(r) for r in runner.flags().collect()}
    index_before = _index_rows(spark, path)

    runner.process_batch(b1, 1)  # replay of the folded epoch
    runner.process_batch(b0, 0)  # and an older one
    assert runner.folds_done == 1 and runner.cycle == 1
    assert runner._batches == 0 and runner._rows == 0
    assert {tuple(r) for r in runner.flags().collect()} == flags_before
    assert _index_rows(spark, path) == index_before


def test_runner_replay_mid_increment_rewrites_idempotently(spark, tmp_path):
    """Crash AFTER an epoch's spool/flags writes but BEFORE the stream
    checkpoint, with the increment still open: the replay must leave
    flags and counters exactly as a single delivery would."""
    corpus, b0, _ = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)
    runner = _never_started_runner(spark, tmp_path, path, fold_every_batches=5)

    runner.process_batch(b0, 0)
    flags_once = {tuple(r) for r in runner.flags().collect()}
    n_once = runner._rows
    assert flags_once and n_once > 0

    runner.process_batch(b0, 0)  # replay
    assert runner._batches == 1 and runner._rows == n_once
    assert {tuple(r) for r in runner.flags().collect()} == flags_once

    # simulate the half-written variant: wipe state knowledge of the
    # epoch (as if the crash hit before _save_state) and replay — the
    # overwrite rewrites the same spool/flags, counts once
    runner._cur_epochs = {}
    runner.process_batch(b0, 0)
    assert runner._batches == 1 and runner._rows == n_once
    assert {tuple(r) for r in runner.flags().collect()} == flags_once


def test_fresh_runner_resumes_persisted_state(spark, tmp_path):
    """A NEW runner on the same work_dir (process restart) must resume
    cycle/counters/watermark from _runner_state.json, skip replayed
    folded epochs, and keep flagging against the folded snapshot."""
    corpus, b0, b1 = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)
    runner = _never_started_runner(spark, tmp_path, path, fold_every_batches=1)
    runner.process_batch(b0, 0)  # folds immediately (watermark 0)
    assert runner.folds_done == 1
    flags_before = {tuple(r) for r in runner.flags().collect()}
    index_before = _index_rows(spark, path)

    runner2 = _never_started_runner(spark, tmp_path, path, fold_every_batches=1)
    assert runner2.cycle == 1 and runner2.folds_done == 1
    assert runner2._last_folded_epoch == 0

    runner2.process_batch(b0, 0)  # replayed folded epoch: skipped
    assert runner2.folds_done == 1
    assert _index_rows(spark, path) == index_before
    assert {tuple(r) for r in runner2.flags().collect()} == flags_before

    # new epoch continues the lifecycle against the grown snapshot
    runner2.process_batch(b1, 1)
    assert runner2.folds_done == 2 and runner2.cycle == 2
    assert len(_index_rows(spark, path)) > len(index_before)


def test_bm25_fold_replay_and_half_written_crash(spark, tmp_path):
    """bm25_index_fold(epoch=...): a committed epoch replays to a
    no-op; a HALF-WRITTEN epoch (stat subdirs on disk, watermark not
    committed — the crash-between-writes case) replays to the
    identical index, never doubled statistics."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    terms = ["hash", "join", "stream", "vector"]

    path = str(tmp_path / "bm25")
    ri.bm25_index_init(path)
    ri.bm25_index_fold(b0, path, epoch=0)

    # half-written epoch 1: stats land, watermark does NOT commit
    ri._write_or_fold(b1, path, "doc_id", "text", "append", epoch=1)
    # the replay re-runs the full fold for epoch 1
    ri.bm25_index_fold(b1, path, epoch=1)
    served = [
        tuple(r) for r in ri.bm25_index_topk(spark, path, terms, k=20).collect()
    ]

    # replay of the committed epoch: no-op
    ri.bm25_index_fold(b1, path, epoch=1)
    ri.bm25_index_fold(b0, path, epoch=0)
    assert [
        tuple(r) for r in ri.bm25_index_topk(spark, path, terms, k=20).collect()
    ] == served

    # statistics equal a from-scratch build (nothing double-counted)
    rebuilt = str(tmp_path / "rebuilt")
    ri.bm25_index_write(docs, rebuilt)
    assert served == [
        tuple(r)
        for r in ri.bm25_index_topk(spark, rebuilt, terms, k=20).collect()
    ]
    n_docs = (
        spark.read.parquet(os.path.join(path, "sc"))
        .agg(F.sum("n_docs"))
        .first()[0]
    )
    assert n_docs == docs.count()


def test_dedup_fold_half_written_crash_replays_clean(spark, tmp_path):
    """minhash_index_fold(epoch=...): the half-written-fold crash
    (sigs written into fold=e<k>, watermark not committed) replays to
    the identical index — the overwrite wipes the partial output."""
    corpus, b0, _ = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)
    flagged = b0.select("doc_id").limit(0)

    # half-written: the fold's signature write lands, meta does not
    meta = fc.read_meta(path, "minhash")
    fc.fold_write(
        di._signature_frame(
            b0, "doc_id", "text", meta["num_perm"], meta["n"],
            di._HASH_FNS[meta["hash"]],
        ),
        os.path.join(path, "sigs"),
        epoch=3,
    )
    # replay runs the full fold for the same epoch
    di.minhash_index_fold(b0, flagged, path, epoch=3)
    ids = _index_rows(spark, path)
    assert len(ids) == len(set(ids)), "duplicate signature rows after replay"

    # committed-epoch replay: no-op
    di.minhash_index_fold(b0, flagged, path, epoch=3)
    assert _index_rows(spark, path) == ids


def test_old_root_layout_migrates_under_labeled_folds(spark, tmp_path):
    """An index written by the historical root layout (root files +
    unlabeled append folds) gains epoch folds transparently: the first
    labeled fold migrates root files into fold=base/, and loads see
    the union of all three generations."""
    corpus, b0, b1 = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)
    none_flagged = b0.select("doc_id").limit(0)
    di.minhash_index_fold(b0, none_flagged, path)  # unlabeled root append
    di.minhash_index_fold(b1, none_flagged, path, epoch=0)  # migrates

    nonempty = (
        lambda df: df.filter(F.size(ddp.tokens(F.col("text"))) > 0).count()
    )
    assert len(_index_rows(spark, path)) == (
        nonempty(corpus) + nonempty(b0) + nonempty(b1)
    )
    # and an unlabeled fold AFTER migration appends into fold=base
    di.minhash_index_fold(b0.limit(0), none_flagged, path)
    assert os.path.isdir(os.path.join(path, "sigs", "fold=base"))


def test_multi_lineage_streams_share_one_bm25_index(spark, tmp_path):
    """Two checkpoint lineages fold into ONE index: each lineage's
    epoch watermark is independent (lineage A's epoch-0 replay skips
    even after lineage B committed epoch 1), fold directories never
    collide, and the served result equals a from-scratch build over
    the union."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a0 = docs.where(F.col("doc_id") % 4 == 0)
    a1 = docs.where(F.col("doc_id") % 4 == 1)
    b0 = docs.where(F.col("doc_id") % 4 == 2)
    b1 = docs.where(F.col("doc_id") % 4 == 3)
    terms = ["hash", "join", "stream", "vector"]

    path = str(tmp_path / "bm25")
    ri.bm25_index_init(path)
    # interleaved epochs from two lineages — same epoch NUMBERS
    ri.bm25_index_fold(a0, path, epoch=0, lineage="src-a")
    ri.bm25_index_fold(b0, path, epoch=0, lineage="src-b")
    ri.bm25_index_fold(a1, path, epoch=1, lineage="src-a")
    ri.bm25_index_fold(b1, path, epoch=1, lineage="src-b")
    served = [
        tuple(r) for r in ri.bm25_index_topk(spark, path, terms, k=20).collect()
    ]

    # replays of every (lineage, epoch): all no-ops
    for inc, ep, lin in ((a0, 0, "src-a"), (b0, 0, "src-b"),
                         (a1, 1, "src-a"), (b1, 1, "src-b")):
        ri.bm25_index_fold(inc, path, epoch=ep, lineage=lin)
    assert [
        tuple(r) for r in ri.bm25_index_topk(spark, path, terms, k=20).collect()
    ] == served

    rebuilt = str(tmp_path / "rebuilt")
    ri.bm25_index_write(docs, rebuilt)
    assert served == [
        tuple(r)
        for r in ri.bm25_index_topk(spark, rebuilt, terms, k=20).collect()
    ]
    # both lineages' watermarks recorded independently — in their OWN
    # sidecar files (ADVICE r11: per-lineage sidecars remove the meta
    # read-modify-write race between concurrently-folding lineages)
    import json
    for lin in ("src-a", "src-b"):
        with open(fc._watermark_path(path, lin)) as f:
            assert json.load(f)["last_epoch"] == 1
    meta = json.load(open(os.path.join(path, fc.META_NAME)))
    assert "last_epoch:src-a" not in meta and "last_epoch:src-b" not in meta


def test_lineage_watermark_commits_cannot_clobber_each_other(spark, tmp_path):
    """ADVICE r11: _commit_epoch was an unlocked read-modify-write of
    the shared meta — two lineages committing concurrently could lose
    each other's watermark.  Sidecar files make each lineage's commit
    touch only its own file; pin that a commit for lineage B between
    lineage A's meta read and A's commit leaves BOTH watermarks
    intact, and that replay-skip reads them."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25")
    ri.bm25_index_init(path)
    import json
    with open(os.path.join(path, fc.META_NAME)) as f:
        meta_a = json.load(f)  # lineage A's stale in-memory meta
    # B commits first; A then commits with its STALE meta copy — the
    # exact interleaving that lost B's watermark under the meta key
    fc.commit_epoch(path, dict(meta_a), 7, lineage="lin-b")
    fc.commit_epoch(path, meta_a, 4, lineage="lin-a")
    with open(os.path.join(path, fc.META_NAME)) as f:
        fresh_meta = json.load(f)
    assert fc.already_committed(path, fresh_meta, 7, lineage="lin-b")
    assert fc.already_committed(path, fresh_meta, 4, lineage="lin-a")
    assert not fc.already_committed(path, fresh_meta, 8, lineage="lin-b")


def _drive_available_now(runner, checkpoint_dir):
    q = runner.start(checkpoint_dir=checkpoint_dir, available_now=True)
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("runner stream still running after 120s")


def test_mismatched_checkpoint_resume_fails_fast(spark, tmp_path):
    """VERDICT r11 missing #4: a work_dir silently assumed exactly one
    checkpoint lineage — resuming it against a FRESH checkpoint would
    restart epoch ids at 0 and collide with the spooled state.  The
    runner now records the checkpoint's query id in
    _runner_state.json at the first batch and start() refuses a
    mismatched checkpoint loudly."""
    import pytest

    corpus, b0, _ = _corpus_and_batches(spark)
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, num_perm=32, n=3, hash_fn=ddp.md5_hash60)

    src = tmp_path / "stream_src"
    src.mkdir()
    b0.coalesce(1).write.mode("overwrite").json(str(src / "batch0"))
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src / "batch0")
    )
    work = str(tmp_path / "work")
    runner = IncrementFoldRunner(
        stream, path, work, threshold=0.5, bands=8, fold_every_batches=100,
    )
    ckpt_a = str(tmp_path / "ckpt_a")
    _drive_available_now(runner, ckpt_a)
    import json
    st = json.load(open(os.path.join(work, "_runner_state.json")))
    assert st["checkpoint_id"], "checkpoint identity not recorded"

    # same work_dir, FRESH checkpoint: refused before the query starts
    runner2 = IncrementFoldRunner(
        stream, path, work, threshold=0.5, bands=8, fold_every_batches=100,
    )
    with pytest.raises(ValueError, match="FRESH checkpoint"):
        runner2.start(
            checkpoint_dir=str(tmp_path / "ckpt_b"), available_now=True
        )
    # a DIFFERENT stream's checkpoint (valid metadata, wrong id): refused
    other_ckpt = str(tmp_path / "ckpt_c")
    os.makedirs(other_ckpt)
    with open(os.path.join(other_ckpt, "metadata"), "w") as f:
        json.dump({"id": "00000000-0000-0000-0000-000000000000"}, f)
    with pytest.raises(ValueError, match="different checkpoint"):
        runner2.start(checkpoint_dir=other_ckpt, available_now=True)

    # the ORIGINAL checkpoint resumes fine (no new files -> no batches)
    runner3 = IncrementFoldRunner(
        stream, path, work, threshold=0.5, bands=8, fold_every_batches=100,
    )
    _drive_available_now(runner3, ckpt_a)


def test_checkpoint_id_resolves_single_slash_uris(spark, tmp_path):
    """ADVICE r13 (low): Hadoop-style single-slash URIs
    (``file:/tmp/ckpt``, ``hdfs:/x``) contain no ``://`` — scheme
    detection must still route them correctly, or the pairing guard
    silently no-ops on exactly the qualified paths it was built
    for."""
    import json

    import pytest

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    qid = "11111111-2222-3333-4444-555555555555"
    with open(ckpt / "metadata", "w") as f:
        json.dump({"id": qid}, f)
    read = IncrementFoldRunner._read_checkpoint_id
    assert read(str(ckpt)) == qid  # plain local path
    assert read("file://" + str(ckpt)) == qid  # file:///abs form
    assert read("file:" + str(ckpt)) == qid  # Hadoop single-slash form
    assert read("file://localhost" + str(ckpt)) == qid  # local authority
    # a single-slash remote scheme routes through the Hadoop FS API
    # (here: loudly fails to resolve, never the silent local no-op)
    with pytest.raises(Exception):
        read("hdfs:/definitely/missing/ckpt")
    # ADVICE r14: a file: URI with a NON-local authority is not this
    # machine's path — urlparse used to drop the host and the guard
    # no-opped against the wrong local file.  Now it routes through
    # the Hadoop FS resolver, which rejects the foreign authority
    # loudly ("Wrong FS"), and the netloc-as-path form file://x never
    # resolves "metadata" against the CWD.
    with pytest.raises(Exception, match="[Ww]rong FS|otherhost"):
        read("file://otherhost" + str(ckpt))
    with pytest.raises(Exception, match="[Ww]rong FS|file://x"):
        read("file://x")
    # bare local roots resolve to "/", never to a CWD-relative
    # "metadata" or to "/localhost" (the netloc must strip too)
    assert read("file://localhost") is None
    assert read("file://") is None


def test_lineage_tag_validated(spark, tmp_path):
    """A lineage becomes a directory-name component: every fold kind
    refuses a tag that is not [alnum-_.] before writing anything."""
    import pytest

    from cdp_spark.datapipe import similarity as sim
    from cdp_spark.datapipe import sketch_index as si
    from cdp_spark.streaming.fold_runner import run_bloom_gate_stream

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    bm25 = str(tmp_path / "bm25")
    ri.bm25_index_init(bm25)
    sketch = str(tmp_path / "sketch")
    si.sketch_index_write(
        docs.limit(5), sketch, col="doc_id", bloom_col="doc_id",
        bloom_bits=1024,
    )
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src)
    )
    flags = str(tmp_path / "flags")
    ivf = str(tmp_path / "ivf")
    sim.ivf_index_init(ivf, dim=64, n_centroids=4, seed=7)
    folds = [
        (bm25, lambda lin: ri.bm25_index_fold(
            docs.limit(1), bm25, epoch=0, lineage=lin)),
        (sketch, lambda lin: si.sketch_index_fold(
            docs.limit(1), sketch, epoch=0, lineage=lin)),
        (ivf, lambda lin: sim.ivf_index_fold(
            emb.limit(1), ivf, epoch=0, lineage=lin)),
        (tmp_path, lambda lin: run_bloom_gate_stream(
            stream, sketch, flags, lineage=lin)),
    ]
    for path, fold in folds:
        before = sorted(os.listdir(path))
        with pytest.raises(ValueError, match="lineage"):
            fold("a/b")
        assert sorted(os.listdir(path)) == before, path
