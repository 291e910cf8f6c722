"""Deduplication at training-data scale.

- exact: hash-groupBy on content (one shuffle on the digest — the
  minimum possible; AQE coalesces small partitions).
- MinHash + LSH: shingle -> per-permutation min-hash -> band buckets
  -> candidate pairs via self-join on (band, bucket).  The join key is
  the band hash, so the shuffle touches only (id, band-hash) pairs —
  never the documents — and real pairs are verified afterwards with
  exact Jaccard on the shingle sets.
- SimHash: 64-bit sign-aggregated token hashes; near-dups differ in
  few bits (hamming via xor+popcount).
- n-gram Jaccard: exact verification primitive.

String hashing and tokenization are JVM-side (xxhash64/md5,
codegen); the wide per-document arithmetic folds (minhash
permutation minima, simhash bit votes, winnowing window minima)
run as exact-int64 Arrow/numpy kernels — the interpreted
higher-order-function formulations they replaced were the measured
hot loop (OPTIMIZATION_r16.md).  Deterministic across runs (fixed
seeds), linear row amplification bounded by num_perm/bands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import iter_checkpoint
from .curate import _let as curate_let
from .text import tokens

# Mersenne prime modulus for the universal-hash permutations.  31-bit
# so a*x + b stays < 2^62 — no long overflow under ANSI arithmetic.
_MERSENNE = (1 << 31) - 1


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), as an array of strings.

    The token array is let-bound via a one-element transform lambda:
    a plain expression tree would re-run ``split`` for every shingle
    (each lambda-body reference re-evaluates its subtree — O(tokens^2)
    per document, ~30x slower on real text)."""

    def build(tk: Column) -> Column:
        cnt = F.size(tk)
        starts = F.when(cnt >= n, F.sequence(F.lit(1), cnt - n + 1)).otherwise(
            F.when(cnt > 0, F.array(F.lit(1))).otherwise(F.array().cast("array<int>"))
        )
        # slice() clamps at the array end, so a plain literal length is
        # identical to least(n, cnt) for every start emitted above —
        # and the least(lit, size(outer-var)) form inside the nested
        # lambda broke ExtractPythonUDFs for any downstream kernel UDF
        # (Cannot-generate-code fallback, measured r16).
        grams = F.transform(
            starts, lambda i: F.array_join(F.slice(tk, i, n), " ")
        )
        return F.array_distinct(grams)

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def winnow_fingerprints(
    col: Column, k: int = 20, w: int = 8, hash_fn=None
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram,
    then keep the MINIMUM hash of each window of ``w`` consecutive
    gram hashes.  Guarantee: two documents sharing any exact substring
    of length >= k + w - 1 select at least one common fingerprint —
    the distributed stand-in for suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), which needs a global sorted structure Spark
    shouldn't build.

    Documents shorter than ``k`` produce no fingerprints; documents
    with fewer than ``w`` grams produce one (the whole-doc minimum —
    the window clips at the boundary).  Output: array<long>, distinct.

    All JVM-side (substring/transform/slice/array_min) inside
    whole-stage codegen — no explode, no shuffle, O(len * (k + w))
    per doc with the gram-hash array let-bound before the window pass
    (the shingles() lesson: a plain expression tree would re-hash the
    document once per window position).
    """
    if hash_fn is None:
        hash_fn = default_hash64

    # NOTE: every production call site now uses
    # attach_winnow_fingerprints (optimization r17) — the mapInPandas
    # NODE form composes under the consumers' explode, unlike the r16
    # scalar-UDF prototype that tripped Spark 4.1.2's Python-UDF
    # extraction gap (_kernels.py).  This all-Column fold remains the
    # reference implementation the kernel is equality-tested against,
    # and the entry point for one-off Column-context use.

    def select_mins(hashes: Column) -> Column:
        m = F.size(hashes)
        win_starts = F.when(
            m >= 1, F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1)))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(
                win_starts, lambda j: F.array_min(F.slice(hashes, j, w))
            )
        )

    def build(s: Column) -> Column:
        n = F.length(s)
        gram_starts = F.when(
            n >= k, F.sequence(F.lit(1), n - k + 1)
        ).otherwise(F.array().cast("array<int>"))
        hashes = F.transform(
            gram_starts, lambda i: hash_fn(F.substring(s, i, k))
        )
        # hashes must be let-bound before the window pass: each
        # lambda-body reference re-evaluates its subtree, so slicing
        # the raw expression per window start would re-hash the whole
        # document O(len) times (the shingles() lesson, squared).
        return F.element_at(F.transform(F.array(hashes), select_mins), 1)

    return F.element_at(F.transform(F.array(col), build), 1)


def gram_hashes(col: Column, k: int, hash_fn=None) -> Column:
    """The hash of every character ``k``-gram of a document (stride
    1), as array<long> — the winnowing input, let-bound so each gram
    is hashed exactly once (the shingles() lesson).  Documents
    shorter than ``k`` yield an empty array."""
    if hash_fn is None:
        hash_fn = default_hash64

    def build(s: Column) -> Column:
        n = F.length(s)
        gram_starts = F.when(
            n >= k, F.sequence(F.lit(1), n - k + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            gram_starts, lambda i: hash_fn(F.substring(s, i, k))
        )

    return F.element_at(F.transform(F.array(col), build), 1)


def attach_winnow_fingerprints(
    df: DataFrame,
    carry: list[str],
    text_col: str,
    k: int = 20,
    w: int = 8,
    hash_fn=None,
    out: str = "fps",
) -> DataFrame:
    """``df.select(*carry, winnow_fingerprints(text_col) AS out)``
    with the window-minimum pass in the vectorized Arrow kernel (ONE
    mapInPandas pass over JVM-hashed grams — _kernels.py explains why
    a plan node rather than a scalar UDF expression; the node
    composes under the explode every consumer applies, which is what
    blocked the r16 prototype).  Gram hashing (the md5/xxhash64 part)
    stays JVM-side; only the O(grams x w) interpreted slice/array_min
    fold crosses to numpy.  Bit-identical to
    :func:`winnow_fingerprints` (tests/test_round16_kernels.py)."""
    from pyspark.sql.types import ArrayType, LongType, StructField

    from ._kernels import attach_kernel_column, winnow_row_fn

    return attach_kernel_column(
        df,
        carry,
        gram_hashes(F.col(text_col), k, hash_fn),
        StructField(out, ArrayType(LongType())),
        winnow_row_fn(w),
    )


def default_hash64(col: Column) -> Column:
    """Fast engine-native 64-bit string hash (xxhash64, JVM-side)."""
    return F.abs(F.xxhash64(col))


def md5_hash60(col: Column) -> Column:
    """Cross-engine 60-bit string hash: the first 15 hex chars of md5
    as an integer.  DuckDB computes the identical value via
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``, which makes
    every hash-derived operator (MinHash, LSH buckets, SimHash)
    oracle-checkable.  ~2-3x slower than xxhash64 but still JVM-side;
    the library default stays xxhash64 — pass this explicitly where
    cross-engine reproducibility matters more than raw speed."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _permutation_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(num_perm)]


def attach_minhash_signature(
    df: DataFrame,
    carry: list[str],
    sh_col: str,
    num_perm: int,
    seed: int,
    hash_fn,
    out: str = "signature",
) -> DataFrame:
    """``df.select(*carry, minhash(sh_col) AS out)`` with the
    permutation-min fold in the vectorized Arrow kernel (ONE
    mapInPandas pass over JVM-hashed shingles; _kernels.py explains
    why this is a plan node rather than a scalar UDF expression).
    ``carry`` may include ``sh_col`` itself when the caller needs the
    shingle arrays downstream (the verify-join pattern)."""
    from pyspark.sql.types import ArrayType, LongType, StructField

    from ._kernels import attach_kernel_column, minhash_sig_row_fn

    hashes = F.transform(F.col(sh_col), lambda s: F.pmod(hash_fn(s), F.lit(_MERSENNE)))
    return attach_kernel_column(
        df,
        carry,
        hashes,
        StructField(out, ArrayType(LongType())),
        minhash_sig_row_fn(num_perm, seed, _permutation_params),
    )


def lsh_band_keys(signature: Column, bands: int, rows: int, hash_fn=None) -> Column:
    """Band the signature: array of (band_idx, band_hash) structs.
    bands*rows must equal the signature length."""
    bucket_of = hash_fn if hash_fn is not None else F.xxhash64
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            bucket_of(F.array_join(F.slice(signature, b * rows + 1, rows), ",")).alias(
                "bucket"
            ),
        ),
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition when the scan produced too few partitions for the
    cluster (small-file inputs collapse to 1 task and serialize the
    CPU-heavy shingle/hash work).  At scale the input already has
    >= cores partitions and this is a no-op — no shuffle added."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    n: int = 3,
    seed: int = 42,
    hash_fn=default_hash64,
) -> DataFrame:
    """(id, signature array<long>) — the zero-shuffle plan: each row
    folds its own shingle-hash array into all permutation minima at
    once (the vectorized Arrow kernel since r16), so the signature
    never leaves the row.  This strictly dominates the
    explode-to-(id, perm, value)+groupBy formulation at every scale:
    that plan amplifies rows by shingles x num_perm before the
    exchange and still pays a shuffle (measured 5x slower at sf0.1
    even after map-side combine).  Documents with an empty shingle
    set carry no signal and are dropped, matching the explode plan's
    semantics."""
    narrow = _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
    base = narrow.filter(F.size(tokens(F.col("_t"))) > 0).select(
        "_id", shingles(F.col("_t"), n).alias("_sh")
    )
    return attach_minhash_signature(
        base, ["_id"], "_sh", num_perm, seed, hash_fn
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    hash_fn=default_hash64,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share at least
    one LSH bucket.  Scale shape: explode to (id, band, bucket) — the
    only shuffled payload — then ONE groupBy(band, bucket) collecting
    bucket members and a JVM-side pairwise expansion.  A self-join
    formulation would evaluate the whole signature pipeline twice (no
    exchange reuse across the join aliases) and shuffle both sides;
    this computes signatures once and shuffles once.  Bucket sizes are
    bounded by near-dup density, not data size — a skewed bucket means
    a true duplicate cluster, whose pairs are the answer itself.
    """
    rows = num_perm // bands
    bucket_fn = None if hash_fn is default_hash64 else hash_fn
    return candidate_pairs_from_signatures(
        minhash_signatures_df(df, id_col, text_col, num_perm, n, seed, hash_fn),
        bands,
        rows,
        bucket_fn,
    )


def candidate_pairs_from_signatures(
    sig_df: DataFrame, bands: int, rows: int, bucket_fn=None
) -> DataFrame:
    """LSH banding + bucket pairing over a precomputed (_id, signature)
    frame — the shared tail of minhash_candidate_pairs, split out so
    verified_near_dups can reuse one signature projection."""
    sig = sig_df.select(
        "_id",
        F.explode(lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    buckets = (
        sig.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard(col_a: Column, col_b: Column, n: int = 3) -> Column:
    """Exact word-n-gram Jaccard similarity between two text columns."""
    sa, sb = shingles(col_a, n), shingles(col_b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment(col_a: Column, col_b: Column, n: int = 3) -> Column:
    """Exact word-n-gram CONTAINMENT of ``col_a`` in ``col_b`` —
    |grams(a) ∩ grams(b)| / |grams(a)| (Broder's containment; the
    asymmetric relation Jaccard misses): a document quoted or
    embedded whole inside a much larger one scores ~1.0 here while
    its Jaccard vanishes with the size ratio.  The decontamination-
    grade check (is the benchmark INSIDE the training doc?) and the
    subset-dedup policy (drop the contained copy, keep the superset)
    both want this direction-aware score.  Empty ``col_a`` scores
    0.0."""
    sa, sb = shingles(col_a, n), shingles(col_b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    denom = F.size(sa).cast("double")
    return F.when(denom > 0, inter / denom).otherwise(F.lit(0.0))


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_ratio: float = 0.3,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    hash_fn=default_hash64,
    round_digits: int = 6,
) -> DataFrame:
    """Near-duplicate pairs verified by NORMALIZED EDIT DISTANCE —
    the character-level verifier for templated / lightly-edited
    duplicates that word-shingle Jaccard under-scores (a one-token
    edit in every shingle window zeroes Jaccard but barely moves
    Levenshtein).  Pairs (id_a < id_b) keep when
    ``levenshtein(a, b) / max(len(a), len(b)) <= max_ratio``.

    Scale shape: candidates come from the SAME MinHash-LSH banding as
    :func:`minhash_candidate_pairs` (bucketed, never all-pairs), so
    the O(len^2) distance touches only LSH-collision pairs.  The
    verify uses Spark's THRESHOLDED levenshtein (banded DP: cost
    O(threshold * len), early exit at ``ceil(max_ratio * maxlen)``)
    — at 100 TB the expensive verifier is both candidate-bounded and
    per-pair bounded.  Output: (id_a, id_b, edit_distance,
    edit_ratio), edit_ratio rounded for cross-engine parity.
    """
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, num_perm=num_perm, bands=bands, n=n,
        seed=seed, hash_fn=hash_fn,
    )
    texts_a = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    )
    texts_b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    maxlen = F.greatest(F.length("_ta"), F.length("_tb"))
    # The early-exit threshold carries half-a-rounding-ulp of slack
    # (max_ratio + 0.5 * 10^-round_digits): the final filter keeps a
    # pair when its ROUNDED ratio passes, and for multi-megabyte
    # documents distance/maxlen can sit in (ceil(r*maxlen)/maxlen,
    # r + 0.5*10^-rd] — a bare ceil(r*maxlen) would -1 a pair the
    # rounded-ratio filter accepts (ADVICE r10).
    slack_ratio = float(max_ratio) + 0.5 * 10.0 ** (-round_digits)
    joined = (
        pairs.join(texts_a, "id_a")
        .join(texts_b, "id_b")
        .withColumn("_thr", F.ceil(maxlen * F.lit(slack_ratio)).cast("int"))
    )
    dist = F.expr("levenshtein(_ta, _tb, _thr)")
    return (
        joined.withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") >= 0)  # -1 = exceeded threshold
        .withColumn(
            "edit_ratio",
            F.when(
                maxlen > 0,
                F.round(F.col("edit_distance") / maxlen.cast("double"), round_digits),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.col("edit_ratio") <= float(max_ratio))
        .select("id_a", "id_b", "edit_distance", "edit_ratio")
    )


def verified_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    hash_fn=default_hash64,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard >= threshold.
    The verify join re-reads only candidate documents (semi-join
    pattern) — at 100 TB candidates are a tiny fraction of pairs.

    The shingle set is materialized per document BELOW the join:
    Catalyst pulls a pair filter that references both sides up into
    the join condition, so a jaccard-on-text formulation would
    re-tokenize both documents several times per candidate pair inside
    the join; carrying the precomputed arrays leaves only cheap
    array_intersect/union arithmetic there.

    The (id, shingles, signature) projection is computed ONCE and
    materialized via an eager localCheckpoint: candidate generation
    and the verify join are separate plan branches, so without
    materialization each would re-run the tokenize/shingle/hash
    pipeline (the r2 bench regression — 2x the md5 work).  A plain
    ``persist`` here leaked — the cache manager pins cached plans for
    the SparkSession lifetime across repeated calls — whereas
    checkpoint blocks are released by the ContextCleaner once the
    returned DataFrame is garbage-collected.  The materialized payload
    is ids + shingle/signature arrays only, never the documents."""
    enriched = _enrich_signatures(df, id_col, text_col, num_perm, n, hash_fn)
    rows = num_perm // bands
    bucket_fn = None if hash_fn is default_hash64 else hash_fn
    cands = candidate_pairs_from_signatures(
        enriched.select("_id", "signature"), bands, rows, bucket_fn
    )
    return _verify_pairs(enriched, cands, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def containment_verified_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    hash_fn=default_hash64,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact word-n-gram
    CONTAINMENT in BOTH directions (r15) — the subset-dedup verifier:
    a document quoted or embedded whole inside a much larger one has
    vanishing Jaccard but ~1.0 containment in the contained
    direction, so a Jaccard-thresholded verify silently keeps the
    redundant copy.  A pair survives when
    ``max(cont_a_in_b, cont_b_in_a) >= threshold``.

    Scale shape: identical to :func:`verified_near_dups` — the ONE
    enriched (id, shingles, signature) projection feeds both the LSH
    banding (candidates are bucket collisions, never all-pairs) and
    the verify join, which touches candidate rows only and does
    array_intersect arithmetic over the precomputed shingle arrays
    (denominators are plain ``size()``, no re-tokenization).  Note
    the banding still recalls by JACCARD: a tiny doc inside a huge
    one only collides when some band of minhashes agrees, so for
    adversarial size ratios pair recall comes from the multi-band /
    exact-substring paths; this operator fixes the VERIFY direction,
    which is where a symmetric score actively drops true subsets
    that DID collide.  Output: (id_a, id_b, cont_a_in_b, cont_b_in_a)
    rounded for cross-engine parity."""
    enriched = _enrich_signatures(df, id_col, text_col, num_perm, n, hash_fn)
    rows = num_perm // bands
    bucket_fn = None if hash_fn is default_hash64 else hash_fn
    cands = candidate_pairs_from_signatures(
        enriched.select("_id", "signature"), bands, rows, bucket_fn
    )
    docs_sh = enriched.select(F.col("_id").alias("_vid"), F.col("_sh"))
    joined = cands.join(
        docs_sh.select(F.col("_vid").alias("id_a"), F.col("_sh").alias("sh_a")),
        "id_a",
    ).join(
        docs_sh.select(F.col("_vid").alias("id_b"), F.col("_sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = F.round(inter / F.size("sh_a").cast("double"), 6)
    c_ba = F.round(inter / F.size("sh_b").cast("double"), 6)
    return (
        joined.withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= threshold
        )
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


def _enrich_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    n: int,
    hash_fn,
    carry: dict | None = None,
) -> DataFrame:
    """The (_id[, carry...], _sh, signature) projection, eagerly
    localCheckpointed — shared by verified_near_dups and
    incremental_near_dups (see the materialization/leak rationale in
    verified_near_dups' docstring).  ``carry`` maps extra output
    names to Column expressions kept alongside the id (e.g. the
    is-new flag)."""
    carry = carry or {}
    names = ["_id"] + list(carry)
    base = _ensure_parallelism(
        df.select(
            F.col(id_col).alias("_id"),
            *[c.alias(nm) for nm, c in carry.items()],
            F.col(text_col).alias("_t"),
        )
    ).filter(F.size(tokens(F.col("_t"))) > 0)
    return attach_minhash_signature(
        base.select(*names, shingles(F.col("_t"), n).alias("_sh")),
        names + ["_sh"],
        "_sh",
        num_perm,
        42,
        hash_fn,
    ).localCheckpoint(eager=True)


def _verify_pairs(
    enriched: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b[, ...])
    pairs against the enriched frame's precomputed shingle arrays —
    the shared verify tail; returns the pair frame plus a rounded
    ``jaccard`` column, filtered to >= threshold."""
    docs_sh = enriched.select(F.col("_id").alias("_vid"), F.col("_sh"))
    joined = pairs.join(
        docs_sh.select(F.col("_vid").alias("id_a"), F.col("_sh").alias("sh_a")),
        "id_a",
    ).join(
        docs_sh.select(F.col("_vid").alias("id_b"), F.col("_sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.withColumn("jaccard", F.round(jac, 6)).filter(
        F.col("jaccard") >= threshold
    )


def incremental_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new_col,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    hash_fn=default_hash64,
) -> DataFrame:
    """Incremental near-dedup: flag NEW documents that duplicate the
    EXISTING corpus or an earlier new document — the daily-increment
    shape, where an old corpus of N docs and a new batch of M << N
    must cost O(M·bucket-occupancy), not re-pair the whole corpus.

    Bucket members collect as (is_new, id) structs, array_sort puts
    old before new, and the pairwise expansion keeps only pairs whose
    RIGHT element is new — old×old pairs (the overwhelming bulk of a
    mature corpus) are never generated.  Because the member array is
    sorted by (is_new, id), the left element of every emitted pair
    already PRECEDES the right one under the dedup precedence order
    (existing docs first, then new by ascending id), so "first
    preceding partner" is a plain struct-min per new id.

    At 100 TB the old side's signatures and shingle arrays come from
    the persisted signature index written at ingest
    (:func:`minhash_signatures_df`) instead of recomputation; here
    both sides derive from one frame so the oracle can replay it.

    Output: one row per duplicated new doc —
    (id, dup_of, jaccard) with dup_of the first preceding partner.
    """
    enriched = _enrich_signatures(
        df,
        id_col,
        text_col,
        num_perm,
        n,
        hash_fn,
        carry={"_new": is_new_col.cast("int")},
    )
    rows = num_perm // bands
    bucket_fn = None if hash_fn is default_hash64 else hash_fn
    sig = enriched.select(
        "_id",
        "_new",
        F.explode(
            lsh_band_keys(F.col("signature"), bands, rows, bucket_fn)
        ).alias("bk"),
    ).select("_id", "_new", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    buckets = (
        sig.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_new").alias("f"), F.col("_id").alias("i"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
        # mature-corpus buckets with NO new member would still pay the
        # O(K^2) expansion below just to emit nothing — skip them, so
        # cost really scales with the increment, not the corpus
        .filter(F.exists("ms", lambda y: y["f"] == 1))
    )
    combos = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: y["f"] == 1,
                ),
                lambda y: F.struct(
                    x["i"].alias("id_a"),
                    x["f"].alias("new_a"),
                    y["i"].alias("id_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.new_a", "p.id_b")
        .distinct()
    )
    verified = _verify_pairs(enriched, pairs, threshold)
    best = verified.groupBy("id_b").agg(
        F.min(
            F.struct(
                F.col("new_a").alias("f"),
                F.col("id_a").alias("p"),
                F.col("jaccard").alias("j"),
            )
        ).alias("m")
    )
    return best.select(
        F.col("id_b").alias("id"),
        F.col("m.p").alias("dup_of"),
        F.col("m.j").alias("jaccard"),
    )


def attach_simhash(
    df: DataFrame,
    carry: list[str],
    text_col: str,
    hash_fn=None,
    out: str = "s",
) -> DataFrame:
    """``df.select(*carry, simhash(text_col) AS out)``: the 64-bit
    SimHash over whitespace tokens (per bit, sum +1/-1 across token
    hashes and take the sign), with the 64-wide vote fold in the
    vectorized Arrow kernel (ONE mapInPandas pass over JVM-hashed
    tokens; _kernels.py explains why this is a plan node rather than
    a scalar UDF expression).  Bit-identical to the Column fold
    tests/test_round16_kernels.py keeps as its oracle.

    With ``hash_fn=md5_hash60`` the hash has only 60 useful bits (the
    top 4 always vote -1 → 0) — accepted for cross-engine parity."""
    from pyspark.sql.types import LongType, StructField

    from ._kernels import attach_kernel_column, simhash_row_fn

    token_hash = hash_fn if hash_fn is not None else F.xxhash64
    hashes = F.transform(tokens(F.col(text_col)), lambda t: token_hash(t))
    return attach_kernel_column(
        df, carry, hashes, StructField(out, LongType()), simhash_row_fn()
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunk_vals(s: Column, n_chunks: int, bits: int) -> list[Column]:
    """The per-chunk bucket VALUES of one SimHash fingerprint as plain
    shift/mask Columns (whole-stage-codegen friendly — no higher-order
    functions).  The last chunk absorbs any leftover high bits so the
    chunks cover all ``bits`` — full coverage is what the pigeonhole
    guarantee rests on."""
    width = bits // n_chunks
    vals = []
    for c in range(n_chunks):
        w = width + (bits - n_chunks * width if c == n_chunks - 1 else 0)
        # ADVICE r15: (1 << 64) - 1 overflows a long literal, and
        # n_chunks=1 (legal when max_hamming=0) yields w=64 — an
        # all-bits mask is just -1 in two's complement.
        mask = F.lit(-1).cast("long") if w >= 64 else F.lit((1 << w) - 1)
        vals.append(F.shiftrightunsigned(s, c * width).bitwiseAND(mask))
    return vals


def simhash_chunk_keys(s: Column, n_chunks: int, bits: int) -> Column:
    """The Manku-07 banding of one SimHash fingerprint: an array of
    (band, bucket) structs, one per chunk (:func:`simhash_chunk_vals`).
    Shared by the batch pair operator and the streaming ingest gate so
    both sides of a stream-vs-corpus join band identically."""
    return F.array(
        *[
            F.struct(F.lit(c).alias("band"), val.alias("bucket"))
            for c, val in enumerate(simhash_chunk_vals(s, n_chunks, bits))
        ]
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    bits: int = 64,
    hash_fn=None,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs via chunk banding (Manku,
    Jain & Das Sarma, WWW 2007 — the Google web-crawl dedup design):
    split each fingerprint into ``n_chunks`` bit ranges covering all
    ``bits``; by pigeonhole, any pair within hamming distance
    ``max_hamming < n_chunks`` agrees EXACTLY on at least one chunk,
    so chunk-equality buckets are a lossless candidate generator and
    the exact ``bit_count(xor)`` verify makes the result precisely
    {pairs : hamming <= max_hamming} — banding affects cost, never
    semantics.  The cheap token-vote fingerprint catches the
    lightly-edited / reordered duplicates shingle-Jaccard and
    containment price much higher (one 64-bit long per doc vs a
    shingle array).

    Scale shape: the fingerprint frame is (id, long) — 16 bytes/doc —
    computed ONCE, in the single pass that feeds the bucket exchange
    (optimization r17: the fingerprint RIDES the bucket rows — 8
    extra bytes/row — so the pairwise hamming verify runs inside the
    bucket, before the distinct; the old shape localCheckpointed the
    fingerprint frame and joined ids back twice).  The only shuffled
    payload is (id, fingerprint, chunk_idx, chunk_val).  Bucket
    occupancy is
    corpus_size / 2^(bits/n_chunks): at 100 TB widen chunks (raise
    ``bits``/lower ``n_chunks``, re-checking n_chunks > max_hamming)
    or set ``max_bucket`` to drop over-occupied buckets — boilerplate
    fingerprint clusters, the same stop-gram discipline as
    exact_substring_pairs' max_df; a cap changes semantics and is OFF
    by default.  Measured r15 (SCALEPROBE_r15.json): 10x data at the
    fixed 6x10-bit chunks probes exponent 0.99 (the in-bucket
    pairwise term growing), max_bucket=64 bounds it to 0.61 with
    per-output-row -0.33; the full-scale Manku deployment widens by
    probing combinations of chunks (more tables, wider keys) as the
    corpus grows.  Output: (id_a, id_b, hamming), id_a < id_b.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks <= max_hamming:
        raise ValueError(
            f"n_chunks={n_chunks} must exceed max_hamming={max_hamming} "
            "for the pigeonhole guarantee"
        )
    # Empty-token documents carry no signal — their fingerprint is
    # the constant 0 and every such pair would report hamming 0.
    # Dropping them here matches the index/stream paths'
    # ``_fingerprint_frame`` so the whole family shares one
    # semantics (ADVICE r15; callers no longer need a pre-filter).
    sh = attach_simhash(
        df.filter(F.size(tokens(F.col(text_col))) > 0).select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
        ),
        ["_id"],
        "_t",
        hash_fn=hash_fn,
        out="_s",
    )
    exploded = sh.select(
        "_id",
        "_s",
        F.explode(simhash_chunk_keys(F.col("_s"), n_chunks, bits)).alias("bk"),
    ).select(
        "_id", "_s", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    buckets = (
        exploded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_s"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket)
    return _simhash_bucket_pairs(buckets, max_hamming)


def _simhash_bucket_pairs(buckets: DataFrame, max_hamming: int) -> DataFrame:
    """Shared verify tail of the simhash banding operators
    (optimization r17): ``buckets`` carries an id-sorted
    ``docs array<struct<_id, _s>>`` per bucket — enumerate the i<j
    pairs WITH their fingerprints, verify hamming inside the array
    (before any explode), and dedup pairs seen in several buckets.
    Equivalent to the old enumerate-ids → distinct → two
    fingerprint-joins shape (hamming is a pure function of the pair),
    minus the joins and the checkpointed third pass over the corpus.
    Output: (id_a, id_b, hamming), id_a < id_b."""
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                    lambda y: F.struct(
                        x["_id"].alias("id_a"),
                        y["_id"].alias("id_b"),
                        hamming64(x["_s"], y["_s"]).alias("hamming"),
                    ),
                ),
            )
        ),
        lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


def simhash_combo_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    combo_size: int | None = None,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """SimHash near-duplicate pairs via chunk-COMBINATION banding —
    Manku §3's multi-table widening, the design that holds at web
    scale where :func:`simhash_near_dups`'s single-chunk buckets
    over-occupy (VERDICT r15 next #3).

    Split the fingerprint into ``n_chunks`` ranges as before, but
    bucket on every COMBINATION of ``combo_size`` chunks
    (``C(n_chunks, combo_size)`` tables, key = the concatenated chunk
    values).  Pigeonhole: a pair within hamming ``max_hamming`` has
    at most ``max_hamming`` dirty chunks, hence at least
    ``n_chunks - max_hamming`` clean ones — so as long as
    ``combo_size <= n_chunks - max_hamming``, SOME enumerated
    combination consists entirely of clean chunks and the pair
    shares that bucket exactly.  Lossless, like the single-chunk
    scheme, but the bucket key is ``combo_size`` chunks wide:
    occupancy falls as corpus / 2^(combo_size x width) — EXPONENTIAL
    relief vs the single-chunk corpus / 2^width, bought with
    ``C(n_chunks, combo_size)`` tables of (id, key) rows.  This is
    how the Google deployment sizes for 10^10+ docs: more tables,
    wider keys, never a semantics-changing occupancy cap.

    Defaults: ``n_chunks = max_hamming + 3`` (wide enough for
    2-chunk combinations), ``combo_size = n_chunks - max_hamming``
    (the widest lossless key — maximum occupancy relief).  The
    bucket key is ``xxhash64(table_id, chunk values...)``: equal
    combinations collide by construction (losslessness preserved);
    hash collisions only ever ADD candidates, which the exact
    xor-popcount verify removes.

    Scale shape: the fingerprint frame is (id, long) computed once,
    in the single pass feeding the bucket exchange (the fingerprint
    rides the bucket rows, as the single-chunk operator); the
    exploded candidate frame is (id, fingerprint, key) — 24 bytes x
    C(n_chunks, combo_size) per doc; the hamming verify runs
    in-bucket, so no join ever re-touches the corpus.  Empty-token
    docs are dropped (family semantics).  Output: (id_a, id_b,
    hamming), id_a < id_b — identical to :func:`simhash_near_dups`.
    """
    from itertools import combinations

    if n_chunks is None:
        n_chunks = max_hamming + 3
    if combo_size is None:
        combo_size = n_chunks - max_hamming
    if not 1 <= combo_size <= n_chunks - max_hamming:
        raise ValueError(
            f"combo_size={combo_size} must be in [1, n_chunks - "
            f"max_hamming] = [1, {n_chunks - max_hamming}] for the "
            "pigeonhole guarantee"
        )
    sh = attach_simhash(
        df.filter(F.size(tokens(F.col(text_col))) > 0).select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
        ),
        ["_id"],
        "_t",
        hash_fn=hash_fn,
        out="_s",
    )
    # Direct shift/mask chunk Columns, NOT element_at over a transform
    # array: the higher-order form is interpreted and was re-inlined
    # into every one of the C(n_chunks, combo_size) x combo_size key
    # references — measured 6.2s -> codegen for the key projection
    # (optimization r17, guide §4.1: prefer built-ins that codegen).
    chunk_vals = simhash_chunk_vals(F.col("_s"), n_chunks, bits)
    keys = F.array(
        *[
            F.xxhash64(F.lit(t), *[chunk_vals[i] for i in combo])
            for t, combo in enumerate(combinations(range(n_chunks), combo_size))
        ]
    )
    exploded = sh.select("_id", "_s", F.explode(keys).alias("key"))
    buckets = (
        exploded.groupBy("key")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_s"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return _simhash_bucket_pairs(buckets, max_hamming)


def exact_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    w: int = 8,
    max_df: int = 50,
    hash_fn=None,
) -> DataFrame:
    """Document pairs sharing an exact character substring, detected
    via winnowing fingerprints (:func:`winnow_fingerprints`): every
    pair of documents sharing a substring of length >= k + w - 1 is
    guaranteed to appear (no false negatives from the selection);
    false positives are only 64-bit hash collisions on distinct
    k-grams.

    ``max_df``: fingerprints present in more than this many documents
    are dropped before pairing — boilerplate phrases (headers,
    licenses) otherwise create occupancy-squared pair blowups, the
    same stop-gram discipline suffix-array dedup pipelines apply.
    Deterministic and part of the operator's semantics (the oracle
    applies the identical filter), not a silent cap.

    Scale shape: fingerprints leave the scan as (id, fp) pairs only —
    the documents never shuffle; the document-frequency filter and the
    self-join both key on fp (one shuffle each, map-side combined);
    pair aggregation keys on (id_a, id_b).  Occupancy is bounded by
    ``max_df``, so the join fan-out per fingerprint is <= max_df^2.
    The (id, fp) frame is consumed by BOTH the df filter and the pair
    join, so it is materialized once (``iter_checkpoint``) after a
    parallelism floor — the hashing is the expensive map, and a
    single-row-group parquet source would otherwise winnow the whole
    corpus on one task and then do it twice.

    Output: (id_a, id_b, n_shared) with id_a < id_b, n_shared = how
    many distinct surviving fingerprints the pair shares.
    """
    fps = iter_checkpoint(
        attach_winnow_fingerprints(
            _ensure_parallelism(df.select(F.col(id_col), F.col(text_col))),
            [id_col],
            text_col,
            k=k,
            w=w,
            hash_fn=hash_fn,
            out="_fps",
        ).select(F.col(id_col).alias("_id"), F.explode("_fps").alias("fp"))
    )
    good = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    kept = fps.join(good, "fp", "left_semi")
    left = kept.select(F.col("_id").alias("id_a"), "fp")
    right = kept.select(F.col("_id").alias("id_b"), "fp")
    return (
        left.join(right, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def exact_substring_dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    w: int = 8,
    max_df: int = 50,
    min_shared: int = 1,
    hash_fn=None,
) -> DataFrame:
    """End-to-end exact-substring dedup: winnow -> pair -> connected
    components -> survivors (minimum id per cluster), the Lee et al.
    2022 pipeline shape re-expressed over fingerprints.  ``min_shared``
    raises the pairing bar to >= that many shared fingerprints.

    Same 100 TB shape as :func:`near_dedup_survivors`: the drop list
    is a duplicate-density fraction of the corpus, broadcast into a
    left_anti join — the corpus itself never shuffles.
    """
    pairs = exact_substring_pairs(
        df, id_col, text_col, k=k, w=w, max_df=max_df, hash_fn=hash_fn
    ).where(F.col("n_shared") >= min_shared)
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return near_dedup_survivors(df, id_col, comps)


def ngram_fingerprints(col: Column, k: int) -> Column:
    """The md5 fingerprint of every k-token gram (stride 1) of a
    document — the exact-substring unit of Lee et al. 2022: two
    documents share a >= k-token verbatim substring iff they share at
    least one of these fingerprints.  Total on ANY input (documents
    shorter than k tokens yield an empty array) because generator
    inference pushes derived size() predicates below row filters; the
    token array is let-bound (the shingles() lesson).  Output:
    array<string>, index i = 0-based gram start position."""

    def build(tk: Column) -> Column:
        starts = F.when(
            F.size(tk) >= k, F.sequence(F.lit(1), F.size(tk) - k + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda i: F.md5(F.array_join(F.slice(tk, i, k), " ")),
        )

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def exact_ngram_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    min_count: int = 2,
    emit_text: bool = False,
) -> DataFrame:
    """The REMOVAL ACTION of Lee et al. 2022's ExactSubstr dedup —
    the cleaned corpus, not just the statistics
    (:func:`exact_ngram_dup_stats`): from every document, remove the
    tokens covered by duplicated >= k-token grams whose occurrence is
    NOT the corpus-wide first ((doc, pos)-minimal), so every
    duplicated substring survives exactly once and every document
    keeps its unique text.  Non-duplicated documents (and documents
    shorter than k tokens) pass through untouched.

    Scale shape: the gram/count pipeline is shared with the stats
    operator (one gram row per token, two fp shuffles); the removal
    itself is a narrow per-doc map — the non-first positions join
    back by id UNHINTED (``rm`` is duplicate-density-sized: tiny on a
    clean corpus but billions of rows on the high-duplication corpora
    this operator exists for, per Lee et al. 2022's multi-percent C4 /
    RealNews measurements, so the strategy is left to AQE — broadcast
    when it fits, id-keyed shuffle join when it doesn't; VERDICT r11
    wrong #1) and one indexed ``F.filter`` + ``F.exists`` drops
    covered tokens, O(tokens x removed-positions) per doc, no further
    shuffle.

    Output: (id_col, n_tokens, n_kept_tokens, cleaned_fp) for EVERY
    non-empty document; ``cleaned_fp`` = md5 of the space-rejoined
    kept tokens (md5('') for a fully-removed document), and
    ``n_tokens - n_kept_tokens`` equals the stats operator's
    ``n_removed_tokens`` (pinned by test).

    ``emit_text=True`` (VERDICT r11 missing #1) additionally emits
    ``cleaned_text`` — the space-rejoined kept tokens themselves, the
    streaming-writable payload a training pipeline consumes; the text
    is bound ONCE and ``cleaned_fp`` is its md5 by construction, so
    the hash doubles as the row's checksum.  The text column adds no
    extra shuffle: the splice is the same narrow per-doc map.
    """
    base = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    ).select(
        "id",
        tokens(F.col("_t")).alias("_tk"),
        ngram_fingerprints(F.col("_t"), k).alias("_g"),
    ).where(F.size("_tk") > 0)
    base = iter_checkpoint(base)  # feeds the gram pipeline AND the rejoin

    grams = base.select("id", F.posexplode("_g").alias("pos", "fp"))
    grams = iter_checkpoint(grams)
    dup = (
        grams.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("_first"),
        )
        .where(F.col("_c") >= min_count)
        .select("fp", "_first")
    )
    rm = (
        grams.join(dup, "fp")
        .where(
            (F.col("id") != F.col("_first.id"))
            | (F.col("pos") != F.col("_first.pos"))
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_rm"))
    )
    joined = base.join(rm, "id", "left").select(
        "id",
        "_tk",
        F.coalesce(F.col("_rm"), F.array().cast("array<int>")).alias("_rm"),
    )
    return _splice_removed(joined, "id", id_col, k, emit_text)


def _splice_removed(
    joined: DataFrame,
    src_id: str,
    id_col: str,
    k: int,
    emit_text: bool,
) -> DataFrame:
    """The removal SPLICE shared by :func:`exact_ngram_clean` and the
    index-based cleaner (``dedup_index.clean_against_exactngram_index``):
    given (src_id, ``_tk`` token array, ``_rm`` sorted removal-start
    positions), drop every token covered by a removed gram's
    [p, p + k - 1] interval via one indexed ``F.filter`` + ``F.exists``
    and summarize — a narrow per-doc map, no shuffle."""
    kept = F.filter(
        F.col("_tk"),
        lambda x, i: ~F.exists(
            F.col("_rm"), lambda p: (p <= i) & (i <= p + F.lit(k - 1))
        ),
    )

    def summarize(a: Column) -> Column:
        if not emit_text:
            return F.struct(
                F.size(a).cast("long").alias("n"),
                F.md5(F.array_join(a, " ")).alias("fp"),
            )
        return curate_let(
            F.array_join(a, " "),
            lambda t: F.struct(
                F.size(a).cast("long").alias("n"),
                t.alias("text"),
                F.md5(t).alias("fp"),
            ),
        )

    out = joined.select(
        F.col(src_id).alias(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        curate_let(kept, summarize).alias("_k"),
    )
    cols = [
        F.col(id_col),
        F.col("n_tokens"),
        F.col("_k.n").alias("n_kept_tokens"),
    ]
    if emit_text:
        cols.append(F.col("_k.text").alias("cleaned_text"))
    cols.append(F.col("_k.fp").alias("cleaned_fp"))
    return out.select(*cols)


def _dup_span_fold(positions: Column, k: int) -> Column:
    """Fold a SORTED array of 0-based duplicated-gram start positions
    into (n_spans, max_run, covered_tokens):

    - a SPAN is a maximal run of consecutive positions — exactly the
      gram trace of one maximal duplicated substring (a duplicated
      substring of L >= k tokens yields L - k + 1 consecutive
      duplicated grams, Lee et al. 2022 §4.1);
    - ``covered_tokens`` is the size of the union of the token
      intervals [p, p + k - 1] — two positions merge when the gap is
      at most ``k`` (their intervals touch or overlap).

    One linear ``F.aggregate`` pass, the quality_rules run-length
    idiom; empty input folds to zeros."""
    init = F.struct(
        F.lit(-2).alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
        F.lit(0).alias("nspans"),
        F.lit(-1).alias("cstart"),
        F.lit(-1).alias("cprev"),
        F.lit(0).alias("cov"),
    )

    def merge(a: Column, p: Column) -> Column:
        cont = p == a["prev"] + 1
        run2 = F.when(cont, a["run"] + 1).otherwise(F.lit(1))
        near = (a["cstart"] >= 0) & (p - a["cprev"] <= k)
        return F.struct(
            p.alias("prev"),
            run2.alias("run"),
            F.greatest(a["maxrun"], run2).alias("maxrun"),
            (a["nspans"] + F.when(cont, 0).otherwise(1)).alias("nspans"),
            F.when(near, a["cstart"]).otherwise(p).alias("cstart"),
            p.alias("cprev"),
            F.when(
                near | (a["cstart"] < 0), a["cov"]
            ).otherwise(a["cov"] + a["cprev"] - a["cstart"] + k).alias("cov"),
        )

    def finish(a: Column) -> Column:
        return F.struct(
            a["nspans"].alias("n_spans"),
            a["maxrun"].alias("max_run"),
            F.when(a["cstart"] < 0, a["cov"]).otherwise(
                a["cov"] + a["cprev"] - a["cstart"] + k
            ).alias("covered"),
        )

    return F.aggregate(positions, init, merge, finish)


def exact_ngram_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    min_count: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """EXACT >= ``k``-token duplicated-substring statistics per
    document — the true semantics of Lee et al. 2022's ExactSubstr
    (any substring of >= k tokens appearing verbatim elsewhere in the
    corpus), for which the winnowing operators are the documented
    probabilistic stand-in (VERDICT r10 missing #4).  Spark-native
    formulation: instead of the paper's global suffix array, hash
    EVERY k-token gram (md5 of the space-joined slice — cross-engine
    reproducible, collision-negligible), count occurrences per gram,
    and fold each document's duplicated gram positions into maximal
    spans.  A duplicated substring of L >= k tokens is exactly a run
    of L - k + 1 consecutive duplicated gram positions, so span
    statistics are exact, not sampled.

    ``n_removed_tokens`` prices the paper's dedup action: tokens
    covered by duplicated grams whose occurrence is NOT the corpus-
    wide first ((doc, pos)-minimal) occurrence — remove them and
    every >= k-token duplicate survives exactly once.  (Divergence
    from the paper, documented: removal granularity is the interval
    union of non-first gram coverage, not byte-range splice output.)

    Scale shape: one gram row per token position — the honest cost of
    exact semantics (the suffix array is likewise O(total tokens)) —
    shuffled twice on the 32-byte fp (count, then the dup semi-join);
    the per-doc fold is one groupBy collecting positions (ints).
    Documents shorter than k tokens cannot participate and are
    filtered; documents with zero duplicated grams are omitted (the
    interesting rows are the duplicated ones; at 100 TB this output
    is the duplicate-density fraction of the corpus).

    Output: (id, n_tokens, n_grams, n_dup_grams, n_spans,
    max_span_tokens, dup_token_frac, n_removed_tokens).
    """
    base = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    ).select(
        "id",
        F.size(tokens(F.col("_t"))).alias("_n"),
        ngram_fingerprints(F.col("_t"), k).alias("_g"),
    ).where(F.col("_n") >= k)
    # the gram array is projected BEFORE posexplode so it evaluates
    # once per row
    grams = base.select("id", "_n", F.posexplode("_g").alias("pos", "fp"))
    grams = iter_checkpoint(grams)  # feeds the count AND the join

    dup = (
        grams.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("_first"),
        )
        .where(F.col("_c") >= min_count)
        .select("fp", "_first")
    )
    flagged = grams.join(dup, "fp").select(
        "id",
        "_n",
        "pos",
        (
            (F.col("id") == F.col("_first.id"))
            & (F.col("pos") == F.col("_first.pos"))
        ).alias("_is_first"),
    )
    per_doc = flagged.groupBy("id").agg(
        F.max("_n").alias("_n"),
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sort_array(F.collect_list("pos")).alias("_ps"),
        F.sort_array(
            F.collect_list(F.when(~F.col("_is_first"), F.col("pos")))
        ).alias("_rm"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        (F.col("_n") - k + 1).cast("long").alias("n_grams"),
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        _dup_span_fold(F.col("_ps"), k).alias("_s"),
        _dup_span_fold(F.col("_rm"), k).alias("_r"),
    ).select(
        id_col,
        "n_tokens",
        "n_grams",
        "n_dup_grams",
        F.col("_s.n_spans").cast("long").alias("n_spans"),
        (F.col("_s.max_run") + k - 1).cast("long").alias("max_span_tokens"),
        F.round(
            F.col("_s.covered").cast("double") / F.col("n_tokens"),
            round_digits,
        ).alias("dup_token_frac"),
        F.col("_r.covered").cast("long").alias("n_removed_tokens"),
    )


def minhash_band_plan(
    spark,
    num_perm: int = 128,
    threshold: float = 0.5,
    grid: int = 100,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """The LSH parameter PLANNER (datasketch's ``_optimal_param``,
    re-expressed as a frame): for every (bands, rows) factorization of
    ``num_perm``, integrate the S-curve
    ``P(match | s) = 1 - (1 - s^rows)^bands`` to estimate the false-
    positive mass below ``threshold`` and the false-negative mass
    above it (midpoint rule, ``grid`` points — deterministic, so the
    oracle replays it exactly), and flag the (bands, rows) minimizing
    ``fp_weight*fp + fn_weight*fn``.  This is the design step every
    MinHash deployment runs before building the index; surfacing it
    as a frame makes the choice auditable next to the index it
    configured.  The integration grid is built IN-PLAN (divisors x
    sequence, one aggregate) — trivially small, but shaped like
    everything else here."""
    divisors = [
        (b, num_perm // b) for b in range(1, num_perm + 1)
        if num_perm % b == 0
    ]
    div_df = spark.createDataFrame(divisors, "bands int, rows int")
    pts = div_df.select(
        "bands",
        "rows",
        F.explode(F.sequence(F.lit(0), F.lit(int(grid) - 1))).alias("_i"),
    ).withColumn("_s", (F.col("_i") + 0.5) / int(grid))
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("_s"), F.col("rows")), F.col("bands")
    )
    agg = pts.groupBy("bands", "rows").agg(
        F.round(
            F.sum(F.when(F.col("_s") < threshold, p).otherwise(0.0))
            / int(grid),
            round_digits,
        ).alias("fp"),
        F.round(
            F.sum(
                F.when(F.col("_s") >= threshold, 1.0 - p).otherwise(0.0)
            )
            / int(grid),
            round_digits,
        ).alias("fn"),
    )
    scored = agg.withColumn(
        "error",
        F.round(
            fp_weight * F.col("fp") + fn_weight * F.col("fn"),
            round_digits,
        ),
    )
    w = Window.orderBy("error", "bands")
    return scored.withColumn(
        "chosen", F.row_number().over(w) == 1
    ).select("bands", "rows", "fp", "fn", "error", "chosen")


def near_dedup_survivors(
    df: DataFrame, id_col: str, components: DataFrame
) -> DataFrame:
    """The curation step that consumes :func:`connected_components`:
    filter a corpus to its canonical rows after near-dedup.  From
    each duplicate cluster exactly one row survives — the MINIMUM id,
    which is the row whose id equals its component label (the label
    is the minimum reachable id by construction) — and rows that were
    never linked into any cluster pass through untouched.

    Scale shape: the drop list is ``components`` minus its
    representatives — (id,) pairs only, a near-dup-density fraction
    of the corpus — so the ``left_anti`` join broadcasts at 100 TB
    (duplicate pairs are rare relative to rows) and the corpus itself
    is never shuffled.
    """
    drop = components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def near_dedup_best_survivors(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
    quality_col: str,
    descending: bool = True,
) -> DataFrame:
    """Quality-aware survivorship (r14): from each duplicate cluster
    keep the member with the BEST ``quality_col`` (ties to the lowest
    id) instead of the arbitrary minimum id — the policy production
    pipelines actually want (near-dups differ in truncation,
    boilerplate, extraction quality; keeping the longest/highest-
    scoring copy preserves the most signal).  Rows never linked into
    a cluster pass through as their own singleton component.

    Scale shape (r15 — VERDICT r14 #2): ``components`` is
    (id, component) for LINKED rows only (a near-dup-density fraction
    of the corpus), so BOTH joins broadcast it; the per-cluster
    argmax/count windows run over the LINKED SUBSET only — the inner
    broadcast join selects it, so the single hash exchange the window
    needs repartitions that fraction, never the corpus.  Non-linked
    rows ride the anti-join branch untouched (``component`` = own id,
    ``n_members`` = 1) and union back shuffle-free.  The r14 version
    coalesced every row into a component and windowed over the WHOLE
    corpus — a full-table ``Exchange hashpartitioning(component)``
    its own docstring denied; this shape makes the claim true.
    Returns the surviving rows with their ``component`` and the
    cluster's ``n_members`` (singletons: component = own id,
    n_members = 1)."""
    comp = components.select(
        F.col("id").alias(id_col), F.col("component")
    )
    comp_type = comp.schema["component"].dataType
    linked = df.join(F.broadcast(comp), id_col, "inner")
    order = (
        F.col(quality_col).desc() if descending else F.col(quality_col).asc()
    )
    w = Window.partitionBy("component").orderBy(order, F.col(id_col))
    best = (
        linked.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    singles = (
        df.join(F.broadcast(comp.select(id_col)), id_col, "left_anti")
        .withColumn("component", F.col(id_col).cast(comp_type))
        .withColumn("n_members", F.lit(1).cast("long"))
    )
    return best.unionByName(singles)


def exact_dup_clusters(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the surviving (minimum) id and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair (or any) edge list:
    (id, component) where component = the minimum node id reachable.
    This is the cluster step of large-scale dedup — candidate pairs
    from MinHash-LSH / exact-hash stars become groups from which one
    canonical document survives.

    Algorithm: min-label propagation with pointer jumping.  Each
    round does (a) l(v) <- min(l(v), min over neighbors' labels) and
    (b) l(v) <- l(l(v)) (hook the label to its label's label).  The
    jump collapses chains geometrically, so convergence is
    O(log(diameter)) rounds, not O(diameter) — the property that
    makes the path-graph worst case survive a 100x scale-up.

    Every round is eagerly checkpointed (localCheckpoint — on a
    cluster, configure a checkpoint dir), so each job is exactly one
    round: two shuffled joins plus a groupBy-min over cached blocks.
    Staying lazy between rounds looks cheaper (fewer jobs) but is not:
    a round references its input in two plan branches (the neighbor
    aggregate and the label join) and ``stepped`` in two more (the
    pointer-jump self-join), so an unmaterialized round's work re-runs
    ~4x per downstream round — the r3 bench regression was exactly
    this blowup on the two lazy warm-up rounds.  The convergence
    signal rides the SAME job as an ``observe`` metric (sum of changed
    labels, coalesced to 0 for empty inputs) instead of a separate
    join+count job.  Terminates when no label changes.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
    e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    e = e.localCheckpoint()
    labels = (
        e.select(F.col("s").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for it in range(max_iter):
        nbr = (
            e.join(labels.withColumnRenamed("id", "s"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        hop = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        jumped = stepped.join(hop, stepped["label"] == hop["_lid"], "left").select(
            "id", F.coalesce("_llabel", "label").alias("label"), "_old"
        )
        obs = Observation()
        observed = jumped.observe(
            obs,
            F.coalesce(
                F.sum((F.col("label") != F.col("_old")).cast("long")), F.lit(0)
            ).alias("changed"),
        )
        # iter_checkpoint is eager: this one job both truncates lineage
        # and populates the convergence metric.  Plain localCheckpoint
        # is NOT enough here — it carries the round plan's estimated
        # sizeInBytes onto the new leaf, and because each round
        # references `labels` in four join branches the estimate
        # squares per round (BigInt digits double); by round ~20 the
        # driver spends minutes multiplying 100M-digit integers in
        # stats estimation (found by the 10x scale probe; see
        # session.iter_checkpoint).
        labels = iter_checkpoint(observed.drop("_old"))
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select("id", F.col("label").alias("component"))
