"""Round-16 operator contracts: auto-sized IVF kNN join (the
FAISS-nlist occupancy derivation), SimHash chunk-COMBINATION banding
(Manku §3 multi-table widening), and the streaming EWMA carry.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_knn_join_auto_size_equals_explicit(spark):
    """n_centroids=None derives ceil(count/target_occupancy) — at the
    500-vector corpus with target 25 that is exactly 20, so the auto
    path must be row-identical to an explicit n_centroids=20 run:
    derivation picks WHICH size runs, never what a size computes."""
    emb = load_table(spark, SF, "embeddings")
    auto = sim.ivf_knn_join(
        emb, dim=64, k=3, n_probe=2, seed=7, round_digits=4,
        target_occupancy=25,
    )
    explicit = sim.ivf_knn_join(
        emb, dim=64, k=3, n_centroids=20, n_probe=2, seed=7,
        round_digits=4,
    )
    got = sorted(tuple(r) for r in auto.collect())
    want = sorted(tuple(r) for r in explicit.collect())
    assert got == want and len(got) > 0


def test_knn_join_auto_size_tracks_corpus(spark):
    """The derived count follows the corpus: half the corpus at the
    same target derives half the centroids (ceil(250/25) = 10), and
    the result again equals that explicit size."""
    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 250)
    auto = sim.ivf_knn_join(
        emb, dim=64, k=3, n_probe=2, seed=7, round_digits=4,
        target_occupancy=25,
    )
    explicit = sim.ivf_knn_join(
        emb, dim=64, k=3, n_centroids=10, n_probe=2, seed=7,
        round_digits=4,
    )
    assert sorted(tuple(r) for r in auto.collect()) == sorted(
        tuple(r) for r in explicit.collect()
    )


def test_knn_join_sqrt_default_equals_explicit(spark):
    """With NEITHER n_centroids nor target_occupancy, the derivation
    is the FAISS nlist guidance ceil(4*sqrt(N)) — at the 500-vector
    corpus that is exactly 90, so the bare-default run must be
    row-identical to an explicit n_centroids=90 run."""
    emb = load_table(spark, SF, "embeddings")
    auto = sim.ivf_knn_join(emb, dim=64, k=3, n_probe=2, seed=7,
                            round_digits=4)
    explicit = sim.ivf_knn_join(emb, dim=64, k=3, n_centroids=90,
                                n_probe=2, seed=7, round_digits=4)
    got = sorted(tuple(r) for r in auto.collect())
    want = sorted(tuple(r) for r in explicit.collect())
    assert got == want and len(got) > 0


def test_simhash_combo_equals_bruteforce(spark):
    """Combination banding is LOSSLESS: C(8,3) tables over the 60-bit
    fingerprint return exactly the all-pairs hamming <= 5 set on the
    real corpus — same guarantee as single-chunk banding, achieved
    with ~22-bit bucket keys instead of 10-bit ones."""
    docs = load_table(spark, SF, "documents")
    out = ddp.simhash_combo_near_dups(
        docs, "doc_id", "text", max_hamming=5, n_chunks=8, combo_size=3,
        bits=60, hash_fn=ddp.md5_hash60,
    )
    got = sorted(tuple(r) for r in out.collect())

    filtered = docs.filter(F.length(F.trim("text")) > 0)
    sh = ddp.attach_simhash(
        filtered, ["doc_id"], "text", hash_fn=ddp.md5_hash60, out="s"
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ddp.hamming64(F.col("sa"), F.col("sb")))
        .filter(F.col("hamming") <= 5)
        .select("id_a", "id_b", "hamming")
    )
    want = sorted(tuple(r) for r in brute.collect())
    assert got == want and len(got) > 0


def test_simhash_combo_pigeonhole_guard(spark):
    """combo_size above n_chunks - max_hamming loses the clean-subset
    guarantee and must refuse; the widest lossless default is
    accepted."""
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="pigeonhole"):
        ddp.simhash_combo_near_dups(
            docs, "doc_id", "text", max_hamming=5, n_chunks=8,
            combo_size=4,
        )
    # defaults: n_chunks = max_hamming + 3, combo_size = n_chunks - k
    out = ddp.simhash_combo_near_dups(
        docs, "doc_id", "text", max_hamming=1, bits=60,
        hash_fn=ddp.md5_hash60,
    )
    assert out.columns == ["id_a", "id_b", "hamming"]


def test_stream_ewma_equals_batch(spark, tmp_path):
    """The streaming EWMA carry equals the batch operator exactly
    when each key's rows arrive in order across micro-batches: 3
    hand-staged batches (strictly increasing mtimes, one file per
    trigger) interleaving two keys, including a batch with no rows
    for one key (its state must persist untouched) and shuffled
    within-batch row order (the state function sorts)."""
    from cdp_spark.datapipe.analytics import ewma
    from cdp_spark.streaming.analytics import stream_ewma

    rows = [
        # (event_id, key, seq, value) — seq is the order col
        (1, "a", 1, 10.0), (2, "a", 2, 20.0), (3, "b", 1, 5.0),
        (4, "a", 3, 30.0), (5, "a", 4, 2.0),
        (6, "b", 2, 7.0), (7, "a", 5, 40.0), (8, "b", 3, 1.0),
    ]
    batches = [rows[:3], rows[3:5], rows[5:]]
    src = tmp_path / "src"
    src.mkdir()
    base = time.time() - 300
    for k, batch in enumerate(batches):
        p = src / f"batch-{k}.json"
        with open(p, "w") as f:
            for eid, key, seq, val in reversed(batch):  # shuffled order
                f.write(
                    f'{{"event_id": {eid}, "k": "{key}", '
                    f'"seq": {seq}, "value": {val}}}\n'
                )
        os.utime(p, (base + 60 * k, base + 60 * k))
    stream = (
        spark.readStream.schema(
            "event_id long, k string, seq long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = stream_ewma(stream, "k", ["seq"], "value", alpha=0.25)
    name = "sewma_t16"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["event_id"]: r["ewma"]
        for r in spark.table(name).collect()
    }

    df = spark.createDataFrame(
        rows, "event_id long, k string, seq long, value double"
    )
    want = {
        r["event_id"]: r["ewma"]
        for r in ewma(df, "k", ["seq"], "value", alpha=0.25).collect()
    }
    assert got == want and len(got) == len(rows)
