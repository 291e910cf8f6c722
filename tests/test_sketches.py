"""Cross-engine-reproducible HyperLogLog (datapipe/sketches.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe.sketches import (
    hll_estimate,
    hll_oracle_sql,
    hll_registers,
)

# HyperLogLog's relative standard error at p = 8: 1.04 / sqrt(2^8).
HLL_ERROR_BOUND_P8 = 1.04 / 16


def _ids(spark, n, start=0):
    return spark.range(start, start + n).select(F.col("id").alias("v"))


def test_hll_estimate_within_theoretical_error(spark):
    for n in (100, 1000, 20000):
        est = hll_estimate(_ids(spark, n), "v", p=8).first()["hll_estimate"]
        # 1.04/sqrt(m) is one sigma; allow four
        assert abs(est - n) / n < 4 * HLL_ERROR_BOUND_P8, (n, est)


def test_hll_matches_duckdb_oracle_exactly(spark):
    df = _ids(spark, 5000)
    got = hll_estimate(df, "v", p=8).first()
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS v FROM range(5000)")
    want = con.execute(hll_oracle_sql("t", "v", 8)).fetchone()
    assert (got["n_registers"], got["hll_estimate"]) == want


def test_hll_registers_merge_by_max(spark):
    # sketch mergeability: registers(A ∪ B) == max-merge of registers
    a, b = _ids(spark, 3000), _ids(spark, 3000, start=1500)
    merged = (
        hll_registers(a, "v", 8)
        .unionByName(hll_registers(b, "v", 8))
        .groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    direct = hll_registers(a.unionByName(b), "v", 8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_small_range_uses_linear_counting(spark):
    # tiny cardinality -> the linear-counting branch, still near-exact
    est = hll_estimate(_ids(spark, 10), "v", p=8).first()["hll_estimate"]
    assert abs(est - 10) <= 2


def test_hll_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (None,), (2,)], "v int"
    )
    regs = hll_registers(df, "v", 8)
    assert regs.agg(F.sum(F.lit(1))).first()[0] <= 2


def test_cms_never_underestimates_and_is_tight_at_low_collision(spark):
    from cdp_spark.datapipe.sketches import cms_estimates, cms_sketch

    # 40 items with frequency i+1
    rows = [(f"item{i}",) for i in range(40) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "v string")
    sketch = cms_sketch(df, "v", depth=3, width=256)
    items = df.distinct()
    est = {
        r["v"]: r["est_count"]
        for r in cms_estimates(sketch, items, "v", depth=3, width=256).collect()
    }
    for i in range(40):
        assert est[f"item{i}"] >= i + 1  # upper bound always
    # 40 items in 256 buckets x 3 rows: the min-row estimate is exact
    # for the vast majority
    exact_hits = sum(1 for i in range(40) if est[f"item{i}"] == i + 1)
    assert exact_hits >= 35


def test_cms_matches_duckdb_oracle_exactly(spark):
    from cdp_spark.datapipe.sketches import (
        cms_estimates,
        cms_oracle_sql,
        cms_sketch,
    )

    rows = [(f"u{i % 17}",) for i in range(500)]
    df = spark.createDataFrame(rows, "v string")
    got = sorted(
        map(
            tuple,
            cms_estimates(
                cms_sketch(df, "v", 3, 64), df.distinct(), "v", 3, 64
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 'u' || CAST(range % 17 AS VARCHAR) AS v FROM range(500)"
    )
    want = sorted(map(tuple, con.execute(cms_oracle_sql("t", "v", 3, 64)).fetchall()))
    assert got == want


def test_cms_merges_by_adding_counters(spark):
    from cdp_spark.datapipe.sketches import cms_sketch

    a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 5, "v string")
    b = spark.createDataFrame([("x",)] * 10 + [("z",)] * 7, "v string")
    merged = (
        cms_sketch(a, "v", 3, 64)
        .unionByName(cms_sketch(b, "v", 3, 64))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_sketch(a.unionByName(b), "v", 3, 64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_bloom_no_false_negatives_and_matches_oracle(spark):
    from cdp_spark.datapipe.sketches import (
        bloom_contains,
        bloom_oracle_sql,
        bloom_positions,
    )

    build = spark.createDataFrame([(f"k{i}",) for i in range(200)], "v string")
    probe = spark.createDataFrame([(f"k{i}",) for i in range(400)], "v string")
    pos = bloom_positions(build, "v", n_bits=1024, k=3)
    got = {
        r["v"]: r["might_contain"]
        for r in bloom_contains(pos, probe, "v", n_bits=1024, k=3).collect()
    }
    # every built key MUST be found
    assert all(got[f"k{i}"] for i in range(200))
    con = duckdb.connect()
    con.execute("CREATE TABLE b AS SELECT 'k' || CAST(range AS VARCHAR) AS v FROM range(200)")
    con.execute("CREATE TABLE p AS SELECT 'k' || CAST(range AS VARCHAR) AS v FROM range(400)")
    want = dict(con.execute(bloom_oracle_sql("b", "v", "p", "v", 1024, 3)).fetchall())
    assert got == want


def test_bloom_merge_is_union_of_positions(spark):
    from cdp_spark.datapipe.sketches import bloom_contains, bloom_positions

    a = spark.createDataFrame([("x1",), ("x2",)], "v string")
    b = spark.createDataFrame([("y1",), ("y2",)], "v string")
    merged = bloom_positions(a, "v", 512, 3).unionByName(
        bloom_positions(b, "v", 512, 3)
    ).distinct()
    probe = a.unionByName(b)
    got = bloom_contains(merged, probe, "v", 512, 3).collect()
    assert all(r["might_contain"] for r in got)


def test_hll_estimate_from_merged_registers_equals_direct(spark):
    from cdp_spark.datapipe.sketches import hll_estimate_from_registers

    a, b = _ids(spark, 2000), _ids(spark, 2000, start=1000)
    merged = (
        hll_registers(a, "v", 8)
        .unionByName(hll_registers(b, "v", 8))
        .groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    got = hll_estimate_from_registers(merged, 8).first()
    want = hll_estimate(a.unionByName(b).distinct(), "v", 8).first()
    assert (got["n_registers"], got["hll_estimate"]) == (
        want["n_registers"],
        want["hll_estimate"],
    )


def test_histogram_quantiles_accuracy_and_oracle(spark):
    from cdp_spark.datapipe.sketches import (
        histogram_quantiles,
        histogram_quantiles_oracle_sql,
    )

    # values 0..9999 -> exact quantiles known; bin width 10
    df = spark.range(10000).select(F.col("id").cast("double").alias("v"))
    got = {
        r["q"]: r["estimate"]
        for r in histogram_quantiles(df, "v", bins=1000, quantiles=(0.5, 0.95)).collect()
    }
    assert abs(got[0.5] - 5000) <= 10 and abs(got[0.95] - 9500) <= 10
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT CAST(range AS DOUBLE) AS v FROM range(10000)")
    want = dict(
        con.execute(
            histogram_quantiles_oracle_sql("t", "v", 1000, (0.5, 0.95))
        ).fetchall()
    )
    assert got == want


def test_histogram_sketch_merges_by_adding(spark):
    from cdp_spark.datapipe.sketches import histogram_sketch

    # same bounds on both shards so bins align (the merge contract:
    # sketches merge when built with shared bounds)
    a = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    b = spark.range(0, 1000).select((F.col("id").cast("double")).alias("v"))
    merged = (
        histogram_sketch(a, "v", 100)
        .unionByName(histogram_sketch(b, "v", 100))
        .groupBy("bin", "lo", "hi")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = histogram_sketch(a.unionByName(b), "v", 100)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_estimate_by_matches_per_group_global(spark):
    from cdp_spark.datapipe.sketches import hll_estimate, hll_estimate_by

    rows = [(i, "g" + str(i % 3)) for i in range(5000)]
    df = spark.createDataFrame(rows, "v long, grp string")
    grouped = {
        r["grp"]: (r["n_registers"], r["hll_estimate"])
        for r in hll_estimate_by(df, ["grp"], "v", 8).collect()
    }
    # each group's estimate equals a GLOBAL estimate over that group's
    # rows alone — grouping is pure partitioning of the sketch state
    for g in ("g0", "g1", "g2"):
        solo = hll_estimate(df.where(F.col("grp") == g), "v", 8).collect()[0]
        assert grouped[g] == (solo["n_registers"], solo["hll_estimate"])


def test_hll_estimate_by_error_within_bound(spark):
    from cdp_spark.datapipe.sketches import hll_estimate_by

    rows = [(i, "a" if i < 4000 else "b") for i in range(6000)]
    df = spark.createDataFrame(rows, "v long, grp string")
    out = {r["grp"]: r["hll_estimate"]
           for r in hll_estimate_by(df, ["grp"], "v", 8).collect()}
    bound = 4 * HLL_ERROR_BOUND_P8  # 4 sigma
    assert abs(out["a"] - 4000) / 4000 < bound
    assert abs(out["b"] - 2000) / 2000 < bound


def test_hll_intersection_inclusion_exclusion(spark):
    """Overlap estimate must track the true intersection for
    half-overlapping ranges and clamp at 0 for disjoint ones."""
    from cdp_spark.datapipe.sketches import (
        hll_intersection_estimate,
        hll_registers,
    )

    a = spark.range(0, 2000).select(F.col("id").alias("v"))
    b = spark.range(1000, 3000).select(F.col("id").alias("v"))
    est = hll_intersection_estimate(
        hll_registers(a, "v", p=10), hll_registers(b, "v", p=10), p=10
    ).first()
    # true intersection = 1000; p=10 keeps the stacked error modest
    assert abs(est["est_intersection"] - 1000) / 1000 < 0.25
    c = spark.range(10_000, 12_000).select(F.col("id").alias("v"))
    est2 = hll_intersection_estimate(
        hll_registers(a, "v", p=10), hll_registers(c, "v", p=10), p=10
    ).first()
    assert est2["est_intersection"] >= 0.0
    assert est2["est_intersection"] < 400  # near-disjoint stays small
