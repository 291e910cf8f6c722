"""Windowing truth tables ported from the reference's executable spec
(__tests__/step.ts:6-111): size-1 windows, flatmap sliding groups with
truncated tails, reduce disjoint groups, and the count-or-time timeout
producing partial groups.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cdp_spark.windows import (
    count_or_time_windows,
    sliding_count_windows,
    tumbling_count_windows,
)


def ints_df(spark, n, t0=None, offsets=None):
    base = t0 or dt.datetime(2024, 1, 1)
    rows = [
        (i, i + 1, base + dt.timedelta(seconds=(offsets[i] if offsets else 0)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "rn long, d long, ts timestamp")


def groups(df):
    out = (
        df.groupBy("_w")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .orderBy("_w")
        .collect()
    )
    return [list(r["ds"]) for r in out]


def test_size_one_windows_ignore_timeouts(spark):
    # __tests__/step.ts:6-28
    df = tumbling_count_windows(ints_df(spark, 4), 1, "rn")
    assert groups(df) == [[1], [2], [3], [4]]


def test_flatmap_sliding_with_truncated_tail(spark):
    # __tests__/step.ts:30-59
    df = sliding_count_windows(ints_df(spark, 5), 3, "rn")
    assert groups(df) == [[1, 2, 3], [2, 3, 4], [3, 4, 5], [4, 5], [5]]


def test_reduce_disjoint_groups(spark):
    # __tests__/step.ts:61-86
    df = tumbling_count_windows(ints_df(spark, 4), 2, "rn")
    assert groups(df) == [[1, 2], [3, 4]]


def test_count_or_time_timeout_partial_groups(spark):
    # __tests__/step.ts:88-111 — size 2, 10ms timeout; events 1,2,3
    # arrive together, event 4 arrives 20ms later => [1,2], [3], [4]
    df = count_or_time_windows(
        ints_df(spark, 4, offsets=[0, 0, 0, 0.02]),
        max_size=2,
        max_seconds=0.01,
        ts_col="ts",
        order_by="rn",
    )
    assert groups(df) == [[1, 2], [3], [4]]


def test_count_or_time_no_timeout(spark):
    df = count_or_time_windows(
        ints_df(spark, 5), max_size=2, max_seconds=-1, ts_col="ts", order_by="rn"
    )
    assert groups(df) == [[1, 2], [3, 4], [5]]


def test_count_or_time_partitioned(spark):
    rows = [(i, i, "a" if i % 2 == 0 else "b", dt.datetime(2024, 1, 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "rn long, d long, k string, ts timestamp")
    out = count_or_time_windows(
        df, max_size=2, max_seconds=-1, ts_col="ts", order_by="rn", partition_by=["k"]
    )
    got = {
        (r["k"], r["_w"]): r["ds"]
        for r in out.groupBy("k", "_w").agg(F.array_sort(F.collect_list("d")).alias("ds")).collect()
    }
    assert got == {("a", 0): [0, 2], ("a", 1): [4], ("b", 0): [1, 3], ("b", 1): [5]}

