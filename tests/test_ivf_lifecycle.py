"""IVF fold lifecycle (VERDICT r10 next #3): embeddings get the same
automatic ingest loop documents and BM25 statistics have.

Contracts: (a) a streamed per-batch ingest composes to exactly the
from-scratch index (assignment is a pure function of (vector,
anchors)); (b) folds are epoch-idempotent under foreachBatch replay;
(c) the served query prunes to the probed centroid partitions at
file-listing time across every fold directory.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table
from cdp_spark.streaming.fold_runner import run_ivf_ingest_stream

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _qvec(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]


def test_ivf_stream_ingest_equals_from_scratch(spark, tmp_path):
    """>= 2 automatic append cycles (4 micro-batches) whose served
    top-k equals both the from-scratch persisted index and the direct
    scan query — the bm25_ingest contract for embeddings."""
    emb = _emb(spark)
    qvec = _qvec(emb)

    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=16, seed=7)
    src = str(tmp_path / "src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_ivf_ingest_stream(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(120)
    streamed = [
        tuple(r)
        for r in sim.ivf_index_topk(spark, path, qvec, k=10, n_probe=4).collect()
    ]

    scratch = str(tmp_path / "scratch")
    sim.ivf_index_init(scratch, dim=64, n_centroids=16, seed=7)
    sim.ivf_index_fold(emb, scratch)
    rebuilt = [
        tuple(r)
        for r in sim.ivf_index_topk(spark, scratch, qvec, k=10, n_probe=4).collect()
    ]
    direct = [
        tuple(r)
        for r in sim.ivf_topk(
            emb, qvec, k=10, n_centroids=16, n_probe=4
        ).collect()
    ]
    assert streamed == rebuilt == direct
    assert streamed and streamed[0][0] == 0  # the query vector itself


def test_ivf_fold_replay_and_half_written_crash(spark, tmp_path):
    """A committed epoch replays to a no-op; a half-written epoch
    (fold=e<k> on disk, watermark not committed) replays to the
    identical index — never duplicated vectors."""
    emb = _emb(spark)
    qvec = _qvec(emb)
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=16, seed=7)
    sim.ivf_index_fold(b0, path, epoch=0)

    # half-written epoch 1: the assigned rows land, meta does not
    from cdp_spark.datapipe.fold_commit import read_meta

    meta = read_meta(path, "ivf")
    sim.ivf_assign(b1, 64, 16, "vec_id", "embedding", 7).write.mode(
        "overwrite"
    ).partitionBy("centroid").parquet(os.path.join(path, "fold=e1"))
    assert read_meta(path, "ivf").get("last_epoch") == 0  # not committed
    # replay re-runs the full fold
    sim.ivf_index_fold(b1, path, epoch=1)
    ids = [r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == emb.count()

    served = [
        tuple(r)
        for r in sim.ivf_index_topk(spark, path, qvec, k=10, n_probe=4).collect()
    ]
    # committed-epoch replays: no-ops
    sim.ivf_index_fold(b1, path, epoch=1)
    sim.ivf_index_fold(b0, path, epoch=0)
    assert [
        tuple(r)
        for r in sim.ivf_index_topk(spark, path, qvec, k=10, n_probe=4).collect()
    ] == served
    assert meta["n_centroids"] == 16


def test_ivf_index_topk_prunes_across_folds(spark, tmp_path):
    """The centroid IN (probed) filter must reach PartitionFilters —
    unprobed lists cost zero IO at any fold count."""
    emb = _emb(spark)
    qvec = _qvec(emb)
    path = str(tmp_path / "ivf")
    sim.ivf_index_init(path, dim=64, n_centroids=16, seed=7)
    sim.ivf_index_fold(emb.where(F.col("vec_id") % 2 == 0), path, epoch=0)
    sim.ivf_index_fold(emb.where(F.col("vec_id") % 2 == 1), path, epoch=1)

    served = sim.ivf_index_topk(spark, path, qvec, k=10, n_probe=4)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid" in plan.split("PartitionFilters")[1][:160]


def test_ivf_ingest_rejects_wrong_kind(spark, tmp_path):
    import pytest

    from cdp_spark.datapipe import retrieval_index as ri

    path = str(tmp_path / "bm25")
    ri.bm25_index_init(path)
    src = tmp_path / "emptysrc"
    src.mkdir()
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(str(src))
    with pytest.raises(ValueError, match="ivf"):
        run_ivf_ingest_stream(stream, path)
