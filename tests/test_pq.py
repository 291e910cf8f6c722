"""Product quantization: encoding determinism, ADC self-query
optimality, persisted-index equivalence, and the dim guard every
meta-pinned ANN index shares.  Cross-engine value parity is covered
by test_oracle (ann_pq / ann_ivf_pq are oracled queries).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table
from tests.oracles import cosine_topk

SF = "/root/testdata/sf0.001"


def test_pq_self_query_achieves_min_adc(spark):
    """The query vector's own codes minimize every per-subvector LUT
    entry, so its row attains the global ADC minimum."""
    emb = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = sim.pq_topk(emb, qvec, k=5).collect()
    assert min(r.adc_dist for r in top) == top[0].adc_dist
    assert 0 in {r.vec_id for r in top}
    best = [r for r in top if r.vec_id == 0][0]
    assert best.adc_dist == top[0].adc_dist


def test_recall_at_k_against_bruteforce(spark):
    """Sanity: each approximation recovers a reasonable share of the
    exact top-10 on the test embeddings (thresholds are loose — the
    point is the measurement harness, not a tuning claim)."""
    emb = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = cosine_topk(emb, qvec, k=10)
    assert sim.recall_at_k(exact, exact) == 1.0
    pq = sim.pq_topk(emb, qvec, k=10)
    ivf = sim.ivf_topk(emb, qvec, k=10, n_centroids=16, n_probe=4)
    assert sim.recall_at_k(ivf, exact) >= 0.3
    assert sim.recall_at_k(pq, exact) >= 0.1


def test_ivf_pq_indexed_equals_inline(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    inline = [tuple(r) for r in sim.ivf_pq_topk(emb, qvec, k=10).collect()]
    path = str(tmp_path / "ivfpq")
    sim.ivf_pq_write(emb, path, dim=64)
    indexed = [tuple(r) for r in sim.ivf_pq_topk_indexed(spark, path, qvec, k=10).collect()]
    assert inline == indexed
    # the index must not carry embeddings — codes-only IO is the point
    cols = spark.read.parquet(path).columns
    assert "embedding" not in cols and set(cols) >= {"vec_id", "codes", "centroid"}


@pytest.mark.parametrize("kind", ["ivf", "lsh", "ivfpq"])
def test_indexed_query_rejects_wrong_dim(spark, tmp_path, kind):
    """Every persisted ANN index pins its model (dim included) in the
    shared meta file; a query vector of another dim must fail naming
    both dims instead of silently probing a different space."""
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / kind)
    if kind == "ivf":
        sim.ivf_index_init(path, dim=8, n_centroids=4)
        sim.ivf_index_fold(emb, path)
        query = sim.ivf_index_topk
    elif kind == "lsh":
        sim.lsh_write(emb, path, dim=8, n_planes=4)
        query = sim.lsh_topk_indexed
    else:
        sim.ivf_pq_write(emb, path, dim=8, n_centroids=4, n_sub=2, n_codes=4)
        query = sim.ivf_pq_topk_indexed
    assert os.path.isfile(os.path.join(path, "_cdp_index_meta.json"))
    assert query(spark, path, rows[0][1], k=3).count() >= 1  # right dim serves
    with pytest.raises(ValueError, match=r"dim 6,.* pins dim 8 "):
        query(spark, path, [1.0] * 6, k=3)
