"""Windowing: assembling event "vectors" (micro-batch groups) in batch.

The reference assembles per-step vectors with a count-or-time rule:
flush at ``events: N`` elements or ``seconds: S`` after the group's
first event (src/step.ts:70-151, defaults {events: 1, seconds: -1} at
src/api.ts:345).  Two grouping modes (src/step.ts:88-131):

- ``reduce``  — disjoint tumbling-by-count groups [1..N], [N+1..2N]...
- ``flatmap`` — overlapping groups sliding by 1: (A,B,C), (B,C,D), ...
  including truncated tails (__tests__/step.ts:30-59).

Batch mapping: determinism comes from an explicit arrival-order column
(never physical row order).  Groups are identified by a window-id
column ``_w``; step functions (deduplicate/keep/...) operate per
``_w`` with window functions, then drop it.

Scale note: a single global arrival order forces a single-partition
sort, which is correct for parity tests but serial at 100 TB.  Every
function takes ``partition_by`` — with a partition key (e.g. the
event name, a tenant id) ordering and windowing run per key, fully
parallel, which is the deployment-scale configuration.  Time-based
windows (the streaming path) need no global order at all.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

WINDOW_COL = "_w"


def _order_window(order_by: str | Column, partition_by: Optional[Sequence[str]]):
    w = Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    return w.orderBy(order_by)


def with_arrival_order(
    df: DataFrame, order_by: str | Column, partition_by: Optional[Sequence[str]] = None,
    col_name: str = "_rn",
) -> DataFrame:
    """Materialize a dense 0-based arrival index (per partition key)."""
    return df.withColumn(
        col_name, F.row_number().over(_order_window(order_by, partition_by)) - 1
    )


def tumbling_count_windows(
    df: DataFrame,
    max_size: int,
    order_by: str | Column,
    partition_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """``reduce`` mode: disjoint count-N groups in arrival order
    (src/step.ts:112-113; truth table __tests__/step.ts:61-86).
    Adds the window-id column ``_w``."""
    if max_size < 1:
        raise ValueError("window size must be >= 1")
    out = with_arrival_order(df, order_by, partition_by)
    return out.withColumn(WINDOW_COL, F.floor(F.col("_rn") / max_size)).drop("_rn")


def sliding_count_windows(
    df: DataFrame,
    size: int,
    order_by: str | Column,
    partition_by: Optional[Sequence[str]] = None,
    ts_col: Optional[str] = None,
    max_seconds: float = -1.0,
) -> DataFrame:
    """``flatmap`` mode: every event starts a group of the next
    ``size`` events, including truncated tails
    (src/step.ts:114-117; truth table __tests__/step.ts:30-59).

    With ``ts_col``/``max_seconds``, each group only holds members
    arriving within ``max_seconds`` of its leader (the per-buffer
    timeout of src/step.ts:76-87 applied to flatmap's multi-buffer).

    Returns one row per (group, member): window-id ``_w`` is the
    arrival index of the group's first event.  Row amplification is
    x``size`` by construction — the same cost the reference documents
    for flatmap windows (README.md:670).
    """
    if size < 1:
        raise ValueError("window size must be >= 1")
    out = with_arrival_order(df, order_by, partition_by)
    member_of = F.sequence(
        F.greatest(F.lit(0), F.col("_rn") - F.lit(size - 1)), F.col("_rn")
    )
    out = out.withColumn(WINDOW_COL, F.explode(member_of))
    if ts_col is not None and max_seconds >= 0:
        # leader ts = ts of the first member of each group (_rn == _w)
        parts = list(partition_by) if partition_by else []
        leader = Window.partitionBy(*(parts + [WINDOW_COL])).orderBy("_rn")
        out = (
            out.withColumn("_lead_ts", F.first(F.col(ts_col)).over(leader).cast("double"))
            .filter(F.col(ts_col).cast("double") - F.col("_lead_ts") <= F.lit(float(max_seconds)))
            .drop("_lead_ts")
        )
    return out.drop("_rn")


def count_or_time_windows(
    df: DataFrame,
    max_size: int,
    max_seconds: float,
    ts_col: str,
    order_by: str | Column,
    partition_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Exact count-or-time semantics in batch: a group flushes at
    ``max_size`` events or when an arriving event is more than
    ``max_seconds`` after the group's FIRST event (src/step.ts:70-151;
    timeout truth table __tests__/step.ts:88-111).

    The flush rule depends on the running group's first-event time, so
    it is inherently sequential per partition key.  Plan shape: hash
    repartition on the keys + sortWithinPartitions + ONE mapInPandas
    pass per partition with carry-over state across Arrow batches —
    one Python round-trip per partition, not one per key (per-key
    applyInPandas slicing costs ~4x in Arrow/dispatch overhead).
    """
    if max_size < 1:
        raise ValueError("window size must be >= 1")
    keys = list(partition_by) if partition_by else []
    order_name = order_by if isinstance(order_by, str) else None
    if order_name is None:
        raise ValueError("count_or_time_windows needs a named order column")

    from pyspark.sql import types as T

    # Copy the fields: StructType.add would mutate df's cached schema.
    schema = T.StructType(list(df.schema.fields) + [T.StructField(WINDOW_COL, T.LongType())])
    out_cols = [f.name for f in schema.fields]
    check_time = max_seconds >= 0

    def assign_stream(batches):
        # Rows arrive key-contiguous and order-sorted (partitioned by
        # key, sorted within partition); state survives batch splits.
        state_key = object()
        wid, count, first_ts = 0, 0, 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pd.api.types.is_numeric_dtype(pdf[ts_col]):
                ts = pdf[ts_col].astype("float64").to_numpy().tolist()
            else:
                ts = (
                    pd.to_datetime(pdf[ts_col]).astype("int64") / 1e9
                ).to_numpy().tolist()
            if keys:
                if len(keys) == 1:
                    kvals = pdf[keys[0]].to_numpy().tolist()
                else:
                    kvals = list(zip(*[pdf[k].to_numpy().tolist() for k in keys]))
            else:
                kvals = None
            # Plain-list loop: the recurrence is data-dependent (each
            # window's end depends on its first event) so it can't be
            # vectorized; list scalar access beats pandas indexing ~30x.
            win = []
            for i, t in enumerate(ts):
                if kvals is not None and kvals[i] != state_key:
                    state_key = kvals[i]
                    wid, count = 0, 0
                if count > 0 and (
                    count >= max_size or (check_time and t - first_ts > max_seconds)
                ):
                    wid += 1
                    count = 0
                if count == 0:
                    first_ts = t
                count += 1
                win.append(wid)
            pdf = pdf.copy()
            pdf[WINDOW_COL] = pd.Series(win, dtype="int64", index=pdf.index)
            yield pdf[out_cols]

    if keys:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        arranged = df.repartition(parallelism, *keys).sortWithinPartitions(
            *keys, order_name
        )
    else:
        # Single logical stream — inherently serial, for parity/tests.
        arranged = df.coalesce(1).sortWithinPartitions(order_name)
    return arranged.mapInPandas(assign_stream, schema=schema)

