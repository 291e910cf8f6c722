"""Streaming count-or-time vector assembly — the reference's exact
windowing rule (src/step.ts:70-151) as a stateful streaming operator.

Rule: per key, buffer arriving events; flush the buffer as one window
when it reaches ``max_size`` events, or ``max_seconds`` after the
buffer's FIRST event arrived (whichever first); flush partials on
timeout, and the final partial on stream end (close-truncation,
src/step.ts:136-148).

Implementation: ``applyInPandasWithState`` with a processing-time
timeout.  State = (buffered rows as JSON ``[[n, d, t_json], ...]``,
first-event wall time, next window id).  Output rows carry (key,
window id ``w``, within-window flush index ``i``, the event payload
and its serialized trace) — the same ``_w`` convention as the batch
windower, so the same downstream operators apply per micro-batch.

Scale: state is per-key and bounded by max_size events; timeouts are
Spark-managed.  This is the one operator that genuinely needs custom
state — everything else in the streaming path is native watermark
windows.
"""

from __future__ import annotations

import json
import time
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


# Flushed rows: the within-window flush index ``i`` lets downstream
# rebuild arrival order as (w, i), and the serialized trace column lets
# events survive the state round-trip whole.
FLUSH_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("w", T.LongType()),
        T.StructField("i", T.LongType()),
        T.StructField("n", T.StringType()),
        T.StructField("d", T.StringType()),
        T.StructField("t_json", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("buffered", T.StringType()),  # JSON [[n, d, t_json], ...]
        T.StructField("first_ms", T.LongType()),
        T.StructField("next_w", T.LongType()),
    ]
)


def make_count_or_time_fn(max_size: int, max_seconds: float):
    """Build the applyInPandasWithState function (factored out so
    batch tests can exercise the state-machine logic directly); it
    emits :data:`FLUSH_SCHEMA` rows."""
    timeout_ms = int(max_seconds * 1000) if max_seconds > 0 else None
    columns = FLUSH_SCHEMA.fieldNames()

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        buffered: list[list[Any]]
        if state.exists:
            buffered_json, first_ms, next_w = state.get
            buffered = json.loads(buffered_json)
        else:
            buffered, first_ms, next_w = [], 0, 0

        out_rows: list[tuple] = []
        k = key[0]

        def flush() -> None:
            nonlocal buffered, next_w
            if buffered:
                for i, (n, d, tj) in enumerate(buffered):
                    out_rows.append((k, next_w, i, n, d, tj))
                next_w += 1
                buffered = []

        if state.hasTimedOut:
            # Timer fired max_seconds after the buffer's first event:
            # emit the partial group (src/step.ts:136-148).
            flush()
            state.update((json.dumps(buffered), 0, next_w))
            # No new timeout until the next event arrives.
        else:
            for pdf in pdfs:
                for n, d, tj in zip(pdf["n"], pdf["d"], pdf["t_json"]):
                    if not buffered:
                        first_ms = int(time.time() * 1000)
                    buffered.append(
                        [
                            n,
                            None if d is None else str(d),
                            None if tj is None else str(tj),
                        ]
                    )
                    if len(buffered) >= max_size:
                        flush()
            state.update((json.dumps(buffered), first_ms, next_w))
            if buffered and timeout_ms is not None:
                # Arm relative to the buffer's FIRST event (src/step.ts:76-87):
                # a steady sub-max_size trickle must still flush max_seconds
                # after the window opened, not max_seconds after the last
                # arrival.  Re-arming with the remaining time is idempotent
                # for an existing buffer and starts a fresh countdown when a
                # new buffer just opened.
                now_ms = int(time.time() * 1000)
                state.setTimeoutDuration(max(1, first_ms + timeout_ms - now_ms))

        if out_rows:
            yield pd.DataFrame(out_rows, columns=columns)

    return fn


def _timeout_conf(max_seconds: float) -> str:
    """Pure count windows (max_seconds <= 0) must use NoTimeout: a
    stateful operator registered with ProcessingTimeTimeout makes the
    engine keep scheduling (empty) micro-batches to service potential
    timers, so a Trigger.AvailableNow query NEVER terminates even
    after the source is exhausted.  Timers only exist when a time
    bound was actually requested."""
    return (
        GroupStateTimeout.ProcessingTimeTimeout
        if max_seconds > 0
        else GroupStateTimeout.NoTimeout
    )


def streaming_count_or_time(
    events: DataFrame,
    max_size: int,
    max_seconds: float,
    key_expr=None,
) -> DataFrame:
    """Apply the count-or-time vector assembly to a streaming (n, d, t)
    event DataFrame.  Output: :data:`FLUSH_SCHEMA` rows in flush order;
    the within-window flush index and the serialized trace let the
    per-batch compiler rebuild full (n, d, t, _w, _ord) events from
    flushed windows.

    ``key_expr`` defaults to a single shared buffer — exact parity
    with the reference's per-step vector assembly (src/step.ts:70-151
    buffers ONE vector per step, not per event name).  A single key
    serializes the stateful task; pass a real key expression for the
    keyed scale twin, exactly like the batch windower's keyed variants.
    """
    from pyspark.sql import functions as F

    key = key_expr if key_expr is not None else F.lit("")
    keyed = events.select(
        key.alias("key"), "n", "d", F.to_json("t").alias("t_json")
    ).groupBy("key")
    return keyed.applyInPandasWithState(
        make_count_or_time_fn(max_size, max_seconds),
        outputStructType=FLUSH_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=_timeout_conf(max_seconds),
    )
