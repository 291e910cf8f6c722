"""Round-15 operator contracts: the containment-verified subset-dedup
pipeline (MinHash-LSH candidates -> directional containment verify ->
components -> quality-aware survivorship).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp

BASE = " ".join(f"w{i}" for i in range(40))


def _docs(spark):
    rows = [
        (1, BASE),  # contained whole inside doc 2
        (2, BASE + " " + " ".join(f"x{i}" for i in range(40))),
        (3, " ".join(f"z{i}" for i in range(40))),  # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_verified_dups_finds_subset_pair(spark):
    """Doc 1 is a strict PREFIX of doc 2: every trigram of 1 appears
    in 2, so cont(1 in 2) = 1.0 while Jaccard is ~0.49 (38 shared of
    78 distinct trigrams) — a Jaccard-0.6 verify drops this true
    subset, the containment verify keeps it.  The unrelated doc 3
    never pairs."""
    docs = _docs(spark)
    out = ddp.containment_verified_dups(
        docs, "doc_id", "text", threshold=0.9, num_perm=32, bands=16
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    assert out[0]["cont_a_in_b"] == 1.0
    assert out[0]["cont_b_in_a"] < 0.5
    # the same candidates under a symmetric Jaccard 0.6 verify: none
    sym = ddp.verified_near_dups(
        docs, "doc_id", "text", threshold=0.6, num_perm=32, bands=16
    ).collect()
    assert sym == []


def test_containment_threshold_is_max_of_directions(spark):
    """A pair passes when EITHER direction clears the threshold —
    subset dedup cares that one side is (mostly) inside the other,
    whichever side that is."""
    docs = _docs(spark)
    # 0.9 keeps the subset pair; 1.01 would drop everything
    kept = ddp.containment_verified_dups(
        docs, "doc_id", "text", threshold=0.9, num_perm=32, bands=16
    ).count()
    dropped = ddp.containment_verified_dups(
        docs, "doc_id", "text", threshold=1.01, num_perm=32, bands=16
    ).count()
    assert (kept, dropped) == (1, 0)


def test_simhash_near_dups_equals_bruteforce(spark):
    """The Manku banding is a LOSSLESS candidate generator: with
    chunks covering all bits and n_chunks > max_hamming, the operator
    returns EXACTLY the all-pairs hamming <= k set — verified against
    a brute-force cross-join on the real sf0.001 corpus."""
    from cdp_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.length(F.trim("text")) > 0
    )
    out = ddp.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=5, n_chunks=6, bits=60,
        hash_fn=ddp.md5_hash60,
    )
    got = sorted(tuple(r) for r in out.collect())

    sh = ddp.attach_simhash(
        docs, ["doc_id"], "text", hash_fn=ddp.md5_hash60, out="s"
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


def test_simhash_near_dups_pigeonhole_guard_and_cap(spark):
    """n_chunks <= max_hamming loses the pigeonhole guarantee and
    must refuse; max_bucket only ever REMOVES pairs (a documented
    semantic cap, never an addition)."""
    import pytest

    from cdp_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.length(F.trim("text")) > 0
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        ddp.simhash_near_dups(docs, "doc_id", "text", max_hamming=5, n_chunks=5)
    full = ddp.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=5, n_chunks=6, bits=60,
        hash_fn=ddp.md5_hash60,
    )
    capped = ddp.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=5, n_chunks=6, bits=60,
        hash_fn=ddp.md5_hash60, max_bucket=2,
    )
    full_pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert capped_pairs <= full_pairs


def test_simhash_near_dups_drops_empty_token_docs(spark):
    """ADVICE r15: empty-token documents fingerprint to the constant
    0 and used to pair with EACH OTHER at hamming 0 in the batch
    operator while the index/stream paths filtered them — the whole
    family now shares the index semantics (no zero-fingerprint
    pairs, no pre-filter needed)."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, ""),
        (4, "   "),
        (5, "\t\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ddp.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=3, n_chunks=4,
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}  # never (3,4)/(3,5)/(4,5)


def test_simhash_single_chunk_full_width_mask(spark):
    """ADVICE r15: n_chunks=1 is legal when max_hamming=0 (exact
    fingerprint equality) but the 64-bit chunk mask (1<<64)-1
    overflowed a long literal and failed at PLAN time.  The all-bits
    mask is -1; the single-chunk operator must plan, run, and equal
    the hamming-0 subset of a multi-chunk run."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "something else entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ddp.simhash_near_dups(
        docs, "doc_id", "text", max_hamming=0, n_chunks=1, bits=64,
    )
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in out.collect()} \
        == {(1, 2, 0)}


def test_knn_join_matches_per_query_ivf_topk(spark):
    """The self-join must agree row-for-row with the single-query IVF
    search: for sampled query ids, its top-3 equals ivf_topk over the
    same probes (self excluded) — same anchors, probe rule, and tie
    order."""
    from cdp_spark.datapipe import similarity as sim
    from cdp_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = sim.ivf_knn_join(
        emb, dim=64, k=3, n_centroids=16, n_probe=2, seed=7,
        round_digits=4,
    )
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["vec_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cosine_sim"])
        )
    assert all(len(v) == 3 for v in by_q.values())
    for qid in (0, 7, 42):
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        # ivf_topk over the SAME 2 probes includes the query row
        # itself at rank 1 (cosine 1.0) — drop it before comparing
        solo = sim.ivf_topk(
            emb, qv, k=4, n_centroids=16, n_probe=2, seed=7,
            round_digits=4,
        ).collect()
        solo_pairs = [
            (r["vec_id"], r["cosine_sim"]) for r in solo
            if r["vec_id"] != qid
        ][:3]
        got = [(nid, cs) for _, nid, cs in sorted(by_q[qid])]
        assert got == solo_pairs, (qid, got, solo_pairs)


def test_knn_join_vectorized_ranking_matches_numpy_replay(spark):
    """Above the anchor-set threshold the probe ranking runs as an
    Arrow-batched matmul (the IVF sizing contract makes assignment
    N x n_centroids x dim — measured 14x slower interpreted at 10x);
    this pins the vectorized path's ENTIRE output against an
    independent numpy replay of the operator semantics (stable
    argsort tie rule, cell join, einsum cosine, (sim DESC, id) top-k)
    at n_centroids=160, which crosses the 4096 threshold."""
    import numpy as np

    from cdp_spark.datapipe import similarity as sim
    from cdp_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = sim.ivf_knn_join(
        emb, dim=64, k=3, n_centroids=160, n_probe=2, seed=7,
        round_digits=4,
    )
    got = sorted(tuple(r) for r in out.collect())

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([list(map(float, r["embedding"])) for r in rows])
    amat = np.asarray(sim._anchor_set(64, 160, 7), dtype=np.float64)
    dots = m @ amat.T
    order = np.argsort(-dots, axis=1, kind="stable")[:, :2]
    assign = order[:, 0]
    cells: dict[int, list[int]] = {}
    for i, c in enumerate(assign):
        cells.setdefault(int(c), []).append(i)
    norms = np.sqrt((m * m).sum(axis=1))
    want = []
    for qi in range(len(ids)):
        cand = sorted(
            {b for pc in order[qi] for b in cells.get(int(pc), [])}
            - {qi}
        )
        if not cand:
            continue
        sims = [
            round((m[qi] @ m[b]) / (norms[qi] * norms[b]), 4)
            if norms[qi] > 0 and norms[b] > 0 else 0.0
            for b in cand
        ]
        top = sorted(
            zip(sims, (int(ids[b]) for b in cand)),
            key=lambda sv: (-sv[0], sv[1]),
        )[:3]
        for rank, (s, bid) in enumerate(top, 1):
            want.append((int(ids[qi]), bid, s, rank))
    assert got == sorted(want) and len(got) > 0


def test_knn_join_plan_has_no_cartesian_and_ids_only_cell_join(spark):
    """Scale pins: no CartesianProduct anywhere; the cell-key join
    carries ids only (no vector column reaches that exchange)."""
    from cdp_spark.datapipe import similarity as sim
    from cdp_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = sim.ivf_knn_join(emb, dim=64, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_resample_interp_semantics(spark):
    """Hand-built series pin the interpolation contract: an exact
    grid-instant observation wins verbatim, interior grid points take
    the linear blend of the surrounding observations, a leading grid
    point before the first observation is NULL, and keys never leak
    into each other."""
    from cdp_spark.datapipe.analytics import resample_interp

    rows = [
        # key 1: obs at 100s (v=1.0), 300s (v=3.0); step 100 ->
        # grid 100 (exact hit), 200 (midpoint -> 2.0), 300 (exact)
        (1, 100, 1.0),
        (1, 300, 3.0),
        # key 2: obs at 150s (v=4.0), 250s (v=8.0); grid 100 (before
        # first obs -> NULL), 200 (halfway -> 6.0)
        (2, 150, 4.0),
        (2, 250, 8.0),
    ]
    df = spark.createDataFrame(rows, "k long, sec long, v double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    out = resample_interp(df, "k", "ts", "v", 100)
    got = {
        (r["k"], int(r["grid_ts"].timestamp())): r["v_interp"]
        for r in out.collect()
    }
    assert got == {
        (1, 100): 1.0,
        (1, 200): 2.0,
        (1, 300): 3.0,
        (2, 100): None,
        (2, 200): 6.0,
    }


def test_ewma_recurrence_and_key_isolation(spark):
    """y_0 = x_0; y_i = a*x_i + (1-a)*y_{i-1}, per key in order-col
    order; keys never mix."""
    from cdp_spark.datapipe.analytics import ewma

    rows = [
        (1, 1, 2.0),
        (1, 2, 4.0),
        (1, 3, 8.0),
        (2, 1, 10.0),
        (2, 2, 0.0),
    ]
    df = spark.createDataFrame(rows, "k long, i long, x double")
    out = ewma(df, "k", ["i"], "x", alpha=0.5)
    got = {(r["k"], r["i"]): r["ewma"] for r in out.collect()}
    assert got == {
        (1, 1): 2.0,
        (1, 2): 3.0,   # 0.5*4 + 0.5*2
        (1, 3): 5.5,   # 0.5*8 + 0.5*3
        (2, 1): 10.0,
        (2, 2): 5.0,
    }


def test_canonical_text_collapses_case_punct_spacing(spark):
    """lowercase + strip non-letter/digit + collapse whitespace: the
    three variant classes raw exact hashing misses all canonicalize
    to the same string; genuinely different words never do."""
    from cdp_spark.datapipe.curate import canonical_text

    rows = [
        (1, "Hello, World!  This is FINE."),
        (2, "hello world this is fine"),
        (3, "HELLO   world -- this... is (fine)"),
        (4, "hello world this is different"),
        (5, ""),
        # ADVICE r15: edge NON-SPACE whitespace must collapse too —
        # trim() strips only ' ', so the trailing-newline variant
        # (the most common one for this normalizer) used to
        # canonicalize to "hello world this is fine " != variant 1.
        (6, "hello world this is fine\n"),
        (7, "\t Hello,  world this is fine. \r\n"),
        (8, " \t\n"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonical_text(F.col("t")).alias("c")
    ).collect()}
    assert got[1] == got[2] == got[3] == "hello world this is fine"
    assert got[4] != got[1]
    assert got[5] == ""
    assert got[6] == got[7] == got[1]
    assert got[8] == ""


def test_containment_dedup_keeps_superset_copy(spark):
    """End-to-end shape of q_containment_dedup_corpus at toy scale:
    the contained copy (doc 1) is dropped, its SUPERSET (doc 2, the
    longest member) survives carrying the cluster size, and the
    unrelated doc passes through as a singleton."""
    docs = _docs(spark).withColumn("n_chars", F.length("text"))
    pairs = ddp.containment_verified_dups(
        docs, "doc_id", "text", threshold=0.9, num_perm=32, bands=16
    )
    comp = ddp.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    out = ddp.near_dedup_best_survivors(docs, "doc_id", comp, "n_chars")
    rows = {r["doc_id"]: (r["component"], r["n_members"]) for r in out.collect()}
    assert rows == {2: (1, 2), 3: (3, 1)}
