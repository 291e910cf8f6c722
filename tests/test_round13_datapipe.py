"""Round-13 operator contracts: deterministic shard shuffle, ANN
recall evaluation, and the capped adversarial multiband regime.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdp_spark.datapipe import sampling as sa
from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table
from tests.oracles import cosine_topk

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shard_shuffle_is_deterministic_and_contiguous(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    a = _rows(sa.shuffle_to_shards(docs, "doc_id", n_shards=8, seed=42))
    b = _rows(sa.shuffle_to_shards(docs, "doc_id", n_shards=8, seed=42))
    assert a == b, "same seed must replay the identical shuffle"
    # every shard's positions are contiguous 1..n
    per = {}
    for doc_id, shard, pos in a:
        per.setdefault(shard, []).append(pos)
    for shard, poss in per.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # a document's placement is a pure function of (id, seed): adding
    # rows never moves existing ids ACROSS shards (extensibility)
    half = docs.where(F.col("doc_id") % 2 == 0)
    small = {
        r["doc_id"]: r["shard"]
        for r in sa.shuffle_to_shards(half, "doc_id", n_shards=8, seed=42)
        .collect()
    }
    full = {r[0]: r[1] for r in a}
    assert all(full[d] == s for d, s in small.items())


def test_shard_shuffle_seed_changes_the_shuffle(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    a = _rows(sa.shuffle_to_shards(docs, "doc_id", n_shards=8, seed=42))
    c = _rows(sa.shuffle_to_shards(docs, "doc_id", n_shards=8, seed=43))
    assert a != c, "a new seed must be a fresh global shuffle"


def test_shard_shuffle_single_shard_is_a_global_order(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    out = sa.shuffle_to_shards(docs, "doc_id", n_shards=1, seed=7)
    rows = out.collect()
    assert {r["shard"] for r in rows} == {0}
    assert sorted(r["pos"] for r in rows) == list(range(1, len(rows) + 1))


def test_ann_recall_full_probe_is_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = sim.ann_recall(
        emb, queries, dim=64, k=10, n_centroids=16, n_probe=16,
        round_digits=4,
    ).collect()
    assert len(out) == queries.count()
    assert all(r["recall_at_k"] == 1.0 for r in out), (
        "probing every list IS brute force"
    )


def test_ann_recall_partial_probe_bounded_and_reasonable(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = sim.ann_recall(
        emb, queries, dim=64, k=10, n_centroids=16, n_probe=4,
        round_digits=4,
    ).collect()
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in out)
    # the query's own vector always sits in a probed list (its top
    # centroid is probe #1), so recall is never 0
    assert all(r["recall_at_k"] >= 0.1 for r in out)


def test_multiband_cap_yields_subset_of_uncapped_pairs(spark):
    emb = load_table(spark, SF, "embeddings")
    kw = dict(dim=64, threshold=0.3, n_planes=4, n_bands=17)
    uncapped = _rows(
        sim.embedding_near_dup_pairs_multiband(emb, **kw).select(
            "id_a", "id_b"
        )
    )
    capped = _rows(
        sim.embedding_near_dup_pairs_multiband(
            emb, max_bucket_size=24, **kw
        ).select("id_a", "id_b")
    )
    assert set(capped) <= set(uncapped)
    assert len(capped) < len(uncapped), "the cap must bind at threshold 0.3"
    # a cap larger than any bucket is a no-op
    huge = _rows(
        sim.embedding_near_dup_pairs_multiband(
            emb, max_bucket_size=10_000, **kw
        ).select("id_a", "id_b")
    )
    assert huge == uncapped


def test_ivf_serving_recall_full_probe_is_exact(spark, tmp_path):
    """Probing every list of the SERVED generation is brute force —
    recall 1.0 across folds and a refit."""
    from pyspark.sql import functions as F2

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb.where(F2.col("vec_id") % 2 == 0), root, epoch=0)
    sim.ivf_serving_refit(spark, root, iters=1)
    sim.ivf_serving_fold(emb.where(F2.col("vec_id") % 2 == 1), root, epoch=1)
    queries = emb.filter(F2.col("vec_id") % 100 == 0)
    out = sim.ivf_serving_recall(
        spark, root, queries, k=10, n_probe=8, round_digits=4
    ).collect()
    assert len(out) == queries.count()
    assert all(r["recall_at_k"] == 1.0 for r in out)


def test_ivf_serving_recall_matches_served_topk(spark, tmp_path):
    """The recall measurement must agree with what ivf_serving_topk
    actually returns: recall@k computed by hand from the served top-k
    vs the brute-force top-k equals ivf_serving_recall's number."""
    from pyspark.sql import functions as F2

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    root = str(tmp_path / "serve")
    sim.ivf_serving_init(root, dim=64, n_centroids=8, seed=7)
    sim.ivf_serving_fold(emb, root, epoch=0)
    sim.ivf_serving_refit(spark, root, iters=2)
    queries = emb.filter(F2.col("vec_id").isin(0, 100, 200))
    got = {
        r["query_id"]: r["recall_at_k"]
        for r in sim.ivf_serving_recall(
            spark, root, queries, k=10, n_probe=3, round_digits=4
        ).collect()
    }
    for qid in (0, 100, 200):
        qv = [
            float(x)
            for x in emb.filter(F2.col("vec_id") == qid).first()["embedding"]
        ]
        served = {
            r["vec_id"]
            for r in sim.ivf_serving_topk(
                spark, root, qv, k=10, n_probe=3, round_digits=4
            ).collect()
        }
        truth = [
            r["vec_id"]
            for r in cosine_topk(emb, qv, k=10, round_digits=4).collect()
        ]
        manual = sum(1 for v in truth if v in served) / 10.0
        assert abs(got[qid] - manual) < 1e-9, (qid, got[qid], manual)
