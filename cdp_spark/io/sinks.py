"""Pass-through sink step functions (batch executors).

Reference shape (e.g. src/step-functions/send-file.ts:121-135): a sink
forwards its input events unchanged and drains a side-effect channel.
Batch mapping: the compiler forwards the DataFrame and records an
*action* (a thunk) per sink; running the pipeline executes the
actions.  The emitted payload is either the events themselves (NDJSON)
or, with ``jq-expr``, each value the jq program produces
(src/step-functions/index.ts:35-48).

Driver-side sinks (stdout, single-file append) collect one run's lines
with ``toArrow`` and order them on the driver: one action, which fills
every observation upstream of the lines, and no Spark sort, whose
range-partition sampling job would execute an observed plan a second
time (see README "Per-trigger work").  One run's lines (one trigger in
streaming) are held on the driver; that is the parity/debug path.  The
scale path for files is the ``spark-dir`` step option (distributed
text write), and send-http posts from executors via
``foreachPartition`` through the one HTTP client
(:mod:`cdp_spark.io.http_client`).
"""

from __future__ import annotations

import json
import sys
from itertools import islice
from typing import Callable, Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..events import EVENT_LINE_SQL
from ..operators.transform import produced_values, value_program
from ..windows import WINDOW_COL
from .http_client import poster

# send-http without an expr posts NDJSON bodies of at most this many lines.
NDJSON_BATCH_LINES = 500


# Reference rule for every expr-sink (send-stdout.ts:75-78,
# send-file.ts:95-98, http-client.ts sendThing): STRING values are
# emitted raw, everything else compact-JSON.  _val is JSON text, so
# unquote string values.
@F.pandas_udf(T.StringType())
def _raw_line(vals: pd.Series) -> pd.Series:
    def conv(t):
        try:
            v = json.loads(t)
        except ValueError:
            return t
        return v if isinstance(v, str) else t

    return vals.map(conv)


class SinkLines:
    """A sink step's output lines, lowered once: one line per emitted
    value with an order column ``_ord`` — events as NDJSON, or each
    jq/jsonnet-produced value verbatim when an expr is given
    (src/step-functions/index.ts:35-48).  :meth:`bind` costs one
    projection (three with an expr)."""

    def __init__(
        self,
        order_col: str = "_ord",
        jq_expr: Optional[str] = None,
        jq_prelude: Optional[str] = None,
        jsonnet_expr: Optional[str] = None,
        jsonnet_prelude: Optional[str] = None,
        window_col: Optional[str] = WINDOW_COL,
    ):
        self.program = value_program(
            jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude, order_col, window_col
        )
        if self.program is None:
            self._cols = [F.col(order_col).alias("_ord"), F.expr(EVENT_LINE_SQL).alias("line")]
        else:
            # Dense (window, index) renumber — see ValueEvents for why
            # the packed-long form overflows at >=1024 input partitions.
            self._cols = [
                F.row_number().over(Window.orderBy("_worder", "_idx")).cast("long").alias("_ord"),
                _raw_line(F.col("_val")).alias("line"),
            ]

    def bind(self, df: DataFrame) -> DataFrame:
        source = df if self.program is None else self.program.produced(df)
        return source.select(*self._cols)


def sink_payload_lines(
    df: DataFrame,
    order_col: str = "_ord",
    jq_expr: Optional[str] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_expr: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
) -> DataFrame:
    """DataFrame of one output line per emitted value, with an order
    column (see :class:`SinkLines`)."""
    window_col = WINDOW_COL if WINDOW_COL in df.columns else None
    return SinkLines(
        order_col, jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude, window_col
    ).bind(df)


def ordered_lines(lines_df: DataFrame) -> list[str]:
    """The ``line`` column of ``lines_df`` in ``_ord`` order, collected
    by one ``toArrow`` and sorted on the driver (a struct ``_ord``
    sorts field by field, as Spark orders structs)."""
    table = lines_df.toArrow().select(["_ord", "line"]).flatten()
    keys = [(name, "ascending") for name in table.column_names if name != "line"]
    return table.sort_by(keys, null_placement="at_start").column("line").to_pylist()


def make_stdout_action(lines_df: DataFrame, stream=None) -> Callable[[], None]:
    """send-stdout (src/step-functions/send-stdout.ts:64-113)."""

    def action() -> None:
        out = stream if stream is not None else sys.stdout
        for line in ordered_lines(lines_df):
            out.write(line + "\n")

    return action


def make_file_action(lines_df: DataFrame, path: str) -> Callable[[], None]:
    """send-file append-NDJSON (src/step-functions/send-file.ts:80-135).
    Driver-side append to ONE file for reference parity; use
    make_file_dir_action for the distributed write."""

    def action() -> None:
        lines = ordered_lines(lines_df)
        with open(path, "a", encoding="utf-8") as fh:
            for line in lines:
                fh.write(line + "\n")

    return action


def make_file_dir_action(lines_df: DataFrame, path: str) -> Callable[[], None]:
    """Distributed variant: a directory of part files (the shape a
    100 TB pipeline actually wants)."""

    def action() -> None:
        lines_df.select(F.col("line").alias("value")).write.mode("append").text(path)

    return action


def make_http_action(
    lines_df: DataFrame,
    target: str,
    method: str = "POST",
    headers: Optional[dict[str, str]] = None,
) -> Callable[[], None]:
    """send-http fire-and-forget (src/step-functions/send-http.ts:88-154):
    the lines go out as NDJSON bodies of up to ``NDJSON_BATCH_LINES``
    lines.  Executes on executors via foreachPartition; concurrency is
    the partition count (the reference's 10-in-flight window becomes
    cluster parallelism)."""
    post = poster(method, target, {"Content-Type": "application/x-ndjson", **(headers or {})})

    def send_partition(rows) -> None:  # noqa: ANN001
        rows = iter(rows)
        while batch := [row["line"] for row in islice(rows, NDJSON_BATCH_LINES)]:
            post(("\n".join(batch) + "\n").encode())

    return lambda: lines_df.select("line").foreachPartition(send_partition)


def make_http_value_action(
    lines_df: DataFrame,
    target: str,
    method: str = "POST",
    headers: Optional[dict[str, str]] = None,
) -> Callable[[], None]:
    """send-http with a jq/jsonnet expr: ONE request per produced
    value, body = the value itself (raw for strings — already
    unquoted by sink_payload_lines — compact JSON otherwise), no
    implicit Content-Type (http-client.ts sendThing:111-124).  This
    is how e.g. the filebeat-opensearch example assembles a single
    _bulk NDJSON body per window."""
    post = poster(method, target, dict(headers or {}))

    def send_partition(rows) -> None:  # noqa: ANN001
        for row in rows:
            post(row["line"].encode())

    return lambda: lines_df.select("line").foreachPartition(send_partition)


def _iter_values(produced: DataFrame) -> Iterable[str]:
    """Produced values (JSON text) in (window, index) order, driver-side."""
    for row in produced.orderBy("_worder", "_idx").select("_val").toLocalIterator():
        yield row["_val"]


# expose-http buffers by step name, so tests / embedding apps can query
# what a pipeline exposed (and serve it with expose.ExposeServer).
_EXPOSE_BUFFERS: dict[str, "ExposeBuffer"] = {}


def get_expose_buffer(step_name: str) -> Optional["ExposeBuffer"]:
    return _EXPOSE_BUFFERS.get(step_name)


def make_expose_action(
    df: DataFrame,
    step_name: str,
    options: Optional[dict] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
) -> Callable[[], None]:
    """expose-http (src/step-functions/expose-http.ts:165-291): slide
    each window (or each jq/jsonnet-produced value) into a fixed-size
    response ring buffer with ETag + Link-paging semantics
    (cdp_spark.io.expose).  When a ``port`` option is given, an HTTP
    server serves the buffer at ``endpoint``; otherwise the buffer is
    queryable via :func:`get_expose_buffer` (embedding apps own the
    server lifecycle)."""
    from .expose import ExposeBuffer, ExposeServer

    o = options or {}
    responses = int(o.get("responses", 1))
    jq_expr = o.get("jq-expr")
    jsonnet_expr = o.get("jsonnet-expr")

    def action() -> None:
        # The action runs once per batch (streaming: every micro-batch)
        # — the ring buffer accumulates across runs and the server
        # binds once, matching the reference's continuously-fed window
        # buffer (expose-http.ts:179-199).
        buffer = _EXPOSE_BUFFERS.get(step_name)
        if buffer is None or buffer.size != responses:
            buffer = ExposeBuffer(responses)
            _EXPOSE_BUFFERS[step_name] = buffer
        produced = produced_values(df, jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude)
        if produced is not None:
            for val in _iter_values(produced):
                buffer.register_value(val)
        else:
            from .brokers import _iter_vectors

            for lines, _stamps in _iter_vectors(df):
                buffer.register_window(lines)
        if o.get("port") is not None and step_name not in _EXPOSE_SERVERS:
            server = ExposeServer(
                buffer,
                endpoint=o.get("endpoint", "/events"),
                port=int(o["port"]),
                headers=o.get("headers"),
            )
            _EXPOSE_SERVERS[step_name] = server.start()
        elif step_name in _EXPOSE_SERVERS:
            # rebind the (possibly new) buffer into the live server
            _EXPOSE_SERVERS[step_name].buffer = buffer

    return action


_EXPOSE_SERVERS: dict[str, object] = {}


def get_expose_server(step_name: str):
    """The running server of an expose-http step that set a ``port``;
    with ``port: 0`` it is the only way to learn the bound port."""
    return _EXPOSE_SERVERS.get(step_name)


def make_broker_action(
    kind: str,
    df: DataFrame,
    options: Optional[dict] = None,
    pipeline_name: str = "cdp",
    step_name: str = "step",
    jq_expr: Optional[str] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_expr: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
) -> Callable[[], None]:
    """send-amqp / send-mqtt / send-redis publisher action.  Framing,
    routing, and dispatch live in :mod:`cdp_spark.io.brokers`
    (unit-tested against fake clients); the real client connection is
    import-gated in ``default_client_factory`` — inject one with
    ``brokers.set_client_factory``.
    (src/step-functions/send-{amqp,mqtt,redis}.ts)"""
    from . import brokers

    opts = options or {}

    def action() -> None:
        produced = produced_values(df, jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude)
        if produced is not None:
            brokers.publish_values(kind, _iter_values(produced), opts, pipeline_name, step_name)
        else:
            brokers.publish_events(kind, df, opts, pipeline_name, step_name)

    return action
