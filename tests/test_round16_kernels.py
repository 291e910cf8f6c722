"""Optimization r16: the vectorized Arrow kernels (minhash signature,
simhash fingerprint — attach_minhash_signature / attach_simhash, one
mapInPandas pass) must be BIT-IDENTICAL to the Catalyst
higher-order-function folds they replaced (kept here as the oracles
``_legacy_signature_from_shingles`` / ``_legacy_simhash64``) — same int64
arithmetic, same null/empty semantics, same element order.  Each test
runs both on real corpus text plus adversarial edge rows and asserts
exact equality; a further test pins the ewma/holt mapInPandas rewrite
across Arrow batch boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _edge_rows(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
            (7, "dup dup dup dup dup"),
            (8, "x" * 500),
        ],
        "doc_id long, text string",
    )


def _docs(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    return docs.unionByName(_edge_rows(spark))


def _legacy_signature_from_shingles(sh, num_perm, seed, hash_fn):
    """MinHash signature of a shingle array as one Catalyst fold: ONE
    aggregate over the shingle-hash array updates all permutation
    minima together via zip_with."""
    params = ddp._permutation_params(num_perm, seed)
    consts = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params]
    )
    init = F.array(*[F.lit(ddp._MERSENNE).cast("long") for _ in range(num_perm)])
    # pmod, not %: JVM % is sign-preserving while the numpy kernel's %
    # is floor-mod, so a hash_fn that can return a negative long (the
    # abs(Long.MIN_VALUE) corner of default_hash64, or a user fn) would
    # make the two paths diverge (ADVICE r16).  With x in [0, p) the
    # (a*x + b) % p fold below is already non-negative everywhere.
    hashes = F.transform(sh, lambda s: F.pmod(hash_fn(s), F.lit(ddp._MERSENNE)))
    return F.aggregate(
        hashes,
        init,
        lambda acc, x: F.zip_with(
            acc,
            consts,
            lambda m, c: F.least(m, (c["a"] * x + c["b"]) % F.lit(ddp._MERSENNE)),
        ),
    )


_SIMHASH_MASKS = [1 << b for b in range(63)] + [-(1 << 63)]


def _legacy_simhash64(col, hash_fn):
    """64-bit SimHash as one Catalyst fold: one aggregate over the
    token-hash array carries all 64 bit counters (zip_with against a
    constant mask array), then a final fold ORs the positive-counter
    masks together."""
    tk = ddp.tokens(col)
    token_hash = hash_fn if hash_fn is not None else F.xxhash64
    hashes = F.transform(tk, lambda t: token_hash(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _SIMHASH_MASKS])
    init = F.array(*[F.lit(0).cast("long") for _ in _SIMHASH_MASKS])
    votes = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda cnt, m: cnt
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    signed = F.zip_with(
        votes,
        masks,
        lambda cnt, m: F.when(cnt > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        signed, F.lit(0).cast("long"), lambda acc, m: acc.bitwiseOR(m)
    )


@pytest.mark.parametrize(
    "num_perm,hash_fn", [(32, ddp.md5_hash60), (64, ddp.default_hash64)]
)
def test_minhash_kernel_matches_column_fold(spark, num_perm, hash_fn):
    docs = _docs(spark)
    base = docs.select(
        "doc_id", ddp.shingles(F.col("text"), 3).alias("_sh")
    )
    new = ddp.attach_minhash_signature(
        base, ["doc_id"], "_sh", num_perm, 42, hash_fn, out="sig"
    )
    old = base.select(
        "doc_id",
        _legacy_signature_from_shingles(
            F.col("_sh"), num_perm, 42, hash_fn
        ).alias("sig"),
    )
    got = {r.doc_id: r.sig for r in new.collect()}
    want = {r.doc_id: r.sig for r in old.collect()}
    assert got and got == want


def test_banding_explode_over_kernel_signature_runs(spark):
    """Regression for the Spark 4.1.2 Python-UDF extraction gap: a
    scalar-UDF signature column consumed by the LSH banding explode
    above a repartition died with "Cannot evaluate expression:
    PythonUDF" (order-dependently).  The kernels therefore run as
    mapInPandas plan nodes; executing the full candidate pipeline
    (repartition below, Generate above) proves the shape stays
    executable."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = ddp.minhash_candidate_pairs(
        docs, "doc_id", "text", num_perm=32, bands=8, hash_fn=ddp.md5_hash60
    )
    assert pairs.count() > 0


@pytest.mark.parametrize("hash_fn", [ddp.md5_hash60, None])
def test_simhash_kernel_matches_column_fold(spark, hash_fn):
    docs = _docs(spark)
    new = ddp.attach_simhash(docs, ["doc_id"], "text", hash_fn=hash_fn, out="fp")
    old = docs.select(
        "doc_id", _legacy_simhash64(F.col("text"), hash_fn).alias("fp")
    )
    got = {r.doc_id: r.fp for r in new.collect()}
    want = {r.doc_id: r.fp for r in old.collect()}
    assert got and got == want


def test_ewma_holt_carry_across_arrow_batches(spark):
    """Optimization r16 rewrote ewma/holt from per-group applyInPandas
    to one key-sorted mapInPandas per partition; the new failure mode
    is a key whose rows SPAN Arrow batch boundaries (the recurrence
    carry must survive the batch edge).  Force 7-row batches over a
    1000-row single-key frame plus a multi-key frame and compare with
    the plain per-key Python recurrence."""
    from cdp_spark.datapipe.analytics import ewma, holt

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i % 3, i, float((i * 37) % 101)) for i in range(1000)]
        df = spark.createDataFrame(rows, "k long, i long, x double")
        got_e = {(r.k, r.i): r.ewma for r in ewma(df, "k", ["i"], "x", 0.25).collect()}
        got_h = {
            (r.k, r.i): (r.level, r.trend)
            for r in holt(df, "k", ["i"], "x", 0.5, 0.25).collect()
        }
        by_key = {}
        for k, i, x in sorted(rows, key=lambda t: (t[0], t[1])):
            by_key.setdefault(k, []).append((i, x))
        for k, seq in by_key.items():
            prev = None
            lv, tr = None, None
            for i, x in seq:
                prev = x if prev is None else 0.25 * x + 0.75 * prev
                assert got_e[(k, i)] == prev, (k, i)
                if lv is None:
                    lv, tr = x, 0.0
                else:
                    l_new = 0.5 * x + 0.5 * (lv + tr)
                    tr = 0.25 * (l_new - lv) + 0.75 * tr
                    lv = l_new
                assert got_h[(k, i)] == (lv, tr), (k, i)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
