"""Bucketed tables and skew handling — the co-location toolkit for
100 TB joins.

A big fact-to-fact join shuffles both sides on the join key every
query.  Bucketing pays that shuffle ONCE at write time: both tables
hash-partitioned into the same number of buckets on the join key, so
every later join (and groupBy on the key) runs shuffle-free — the
plan shows SortMergeJoin with no Exchange under either side.  This is
the standard Spark answer to "we join these two 50 TB tables daily".

Skew: when one join key carries a disproportionate share of rows
(the null key, the default tenant, the viral document), one task gets
that whole key.  AQE's skew-join splitting handles sort-merge joins
automatically; ``salted_join`` is the explicit fallback that also
works for aggregations feeding a join — it shards each hot key into
``salt`` sub-keys by replicating the dimension side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table.  ``num_buckets`` should be sized so one bucket of the
    LARGER table fits an executor's task comfortably (at 100 TB /
    1000 executors, thousands of buckets, not 32 — the parameter is
    the knob, the tests just keep it small).

    Sorting within buckets additionally removes the per-task Sort
    under a sort-merge join of two same-bucketed tables.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def bucketed_tables_join(
    spark, left_table: str, right_table: str, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables.  With both sides bucketed on
    ``on`` into the same bucket count, Catalyst plans a SortMergeJoin
    whose children read bucket-aligned splits directly — no Exchange
    on either side (assert that in tests, it is the whole point)."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def with_salt(df: DataFrame, key_cols: Sequence[str], salt: int, id_col: Column) -> DataFrame:
    """Add a deterministic ``_salt`` in [0, salt) derived from a
    per-row column (NOT rand(): retries/speculative tasks must
    re-derive the same salt or rows silently migrate buckets)."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(salt)).cast("int"))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_id: Column,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: shard each key into ``salt`` sub-keys.

    The (big, skewed) ``left`` gets a deterministic per-row salt from
    ``left_id``; the (smaller) ``right`` is replicated ``salt`` times
    so every sub-key finds its match.  The shuffle then spreads a hot
    key over ``salt`` tasks instead of one.  Row-multiplication cost:
    ``salt`` copies of the right side — keep it the smaller input.

    Equivalent to ``left.join(right, on, how)`` for inner/left joins
    (verified by tests); right/full-outer would double-count
    unmatched right rows across replicas and are rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    keys = list(on)
    salted_left = with_salt(left, keys, salt, left_id)
    salted_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_left.join(salted_right, keys + ["_salt"], how)
    return out.drop("_salt")

