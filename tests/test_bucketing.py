"""Bucketed-join plan shape + salted-join equivalence.

The bucketing test asserts the ABSENCE of Exchange operators under
the join — that is the entire value of bucketing and the thing a
refactor would silently regress.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdp_spark.io import bucketing
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_pair(spark):
    # warehouse.dir is a static conf; managed tables land in the
    # session default and DROP TABLE removes their files.
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    bucketing.write_bucketed(orders, "orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    bucketing.write_bucketed(
        lineitem, "lineitem_b", ["l_orderkey"], 8, ["l_orderkey"]
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


@pytest.fixture()
def no_broadcast(spark):
    """Force sort-merge joins: test tables are tiny, so the planner
    would broadcast and never engage the bucketed scan (at real scale
    both sides exceed any broadcast threshold)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair, no_broadcast):
    lt, rt = bucketed_pair
    joined = (
        spark.table(lt)
        .withColumnRenamed("o_orderkey", "k")
        .join(spark.table(rt).withColumnRenamed("l_orderkey", "k"), "k")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and it is the real join result
    expected = (
        load_table(spark, SF, "orders")
        .join(
            load_table(spark, SF, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert joined.count() == expected


def test_bucketed_join_helper(spark, no_broadcast):
    # helper needs aligned key names: build small same-named tables
    a = spark.range(0, 100).withColumnRenamed("id", "k")
    b = spark.range(0, 100, 2).withColumnRenamed("id", "k")
    bucketing.write_bucketed(a, "a_b", ["k"], 4)
    bucketing.write_bucketed(b, "b_b", ["k"], 4)
    try:
        out = bucketing.bucketed_tables_join(spark, "a_b", "b_b", ["k"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert out.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS a_b")
        spark.sql("DROP TABLE IF EXISTS b_b")


def test_salted_join_matches_plain_join(spark):
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    dim = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 4).alias("avg_v"))
    )
    plain = ev.join(dim, "user_id").select("event_id", "avg_v")
    salted = bucketing.salted_join(
        ev, dim, ["user_id"], left_id=F.col("event_id"), salt=8
    ).select("event_id", "avg_v")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    right = spark.createDataFrame([(1, 10.0)], ["k", "w"])
    out = bucketing.salted_join(
        left, right, ["k"], left_id=F.col("v"), salt=4, how="left"
    )
    rows = {(r.k, r.w) for r in out.collect()}
    assert rows == {(1, 10.0), (2, None), (3, None)}


def test_salted_join_rejects_right_outer(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        bucketing.salted_join(df, df, ["id"], left_id=F.col("id"), how="full")

