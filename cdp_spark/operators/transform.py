"""send-receive transforms: pipe each window vector through an
external program/service; its output becomes the new events.

- send-receive-jq (src/step-functions/send-receive-jq.ts:70-95): the
  reference's workhorse transform.  Spark mapping: windows are
  collected to one row each, a partition-level ``mapInPandas`` feeds
  all vectors of an Arrow batch to ONE ``jq`` subprocess (one JSON
  array per line), and the program is wrapped as ``[try (...)]`` so
  (a) runtime errors silently skip the vector (parity with the
  ``try``-wrap at src/io/jq.ts:14-24) and (b) each input line maps to
  exactly one output line, keeping window attribution deterministic.
- send-receive-http (src/step-functions/send-receive-http.ts:96-143):
  POST each vector as NDJSON; the response body becomes the new
  events; request errors yield an empty vector.  Requests go through
  the one HTTP client (:mod:`cdp_spark.io.http_client`, retry/backoff
  as src/io/http-client.ts:28-56) — this is the external-model-
  inference hook.
- send-receive-jsonnet (src/step-functions/send-receive-jsonnet.ts:70-97
  -> stream-jsonnet/main.go:18-70): same adapter shape as jq, but the
  ``function(events)`` program runs in-process on each executor via
  :mod:`cdp_spark.jsonnet` (pure-Python lazy evaluator — no subprocess,
  no jsonnet library dependency).

Output values are parsed back into events with the shared
variants_to_events (old-event semantics; wrap directive supported),
so invalid outputs drop silently like the reference.
"""

from __future__ import annotations

import functools
import json
import subprocess
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..events import (
    EVENT_LINE_SQL,
    TRACE_TYPE,
    WrapDirective,
    valid_events_sql,
    validate_wrap,
)
from ..windows import WINDOW_COL

# What a program produces per window: (window order, value index, the
# value as JSON text).  A StructType, not DDL, so no bind parses it.
VALUES_SCHEMA = T.StructType(
    [
        T.StructField("_worder", T.LongType()),
        T.StructField("_idx", T.LongType()),
        T.StructField("_val", T.StringType()),
    ]
)
_REPLIES_SCHEMA = T.StructType(
    VALUES_SCHEMA.fields[:2] + [T.StructField("_line", T.LongType())] + VALUES_SCHEMA.fields[2:]
)


def _vector_columns(
    order_col: str, window_col: Optional[str], ndjson: bool = False
) -> tuple[Column, list[Column]]:
    """The group-by key and aggregates of one row per window:
    (window id, min order, ``_vec``).  ``_vec`` holds the window's event
    lines (:data:`EVENT_LINE_SQL`) in arrival order: as a JSON array,
    the vector-in shape jq/Jsonnet read, or with ``ndjson``
    newline-joined with a trailing newline, the send-receive-http body.
    ``window_col`` None makes the whole frame one window."""
    group = F.col(window_col).alias("_w") if window_col else F.lit(1).alias("_w")
    lines = (
        "transform(array_sort(collect_list("
        f"struct(`{order_col}` AS o, {EVENT_LINE_SQL} AS line))), e -> e.line)"
    )
    vec = (
        f"concat(array_join({lines}, '\\n'), '\\n')"
        if ndjson
        else f"concat('[', array_join({lines}, ','), ']')"
    )
    return group, [F.min(order_col).alias("_worder"), F.expr(vec).alias("_vec")]


def _window_col_of(df: DataFrame) -> Optional[str]:
    return WINDOW_COL if WINDOW_COL in df.columns else None


class ValueEvents:
    """Produced values -> event rows, lowered once.  ``bind(produced)``
    costs at most one projection; the events are then :attr:`fields`
    (Columns n, d, t over the bound frame) in the order of
    :attr:`order_key` (window order, then output index, then any
    further ``order`` column)."""

    def __init__(
        self,
        wrap: WrapDirective,
        order: tuple[str, ...] = ("_worder", "_idx"),
        max_array_depth: int = 5,
    ):
        validate_wrap(wrap)
        # The order is the lexicographic struct (window order, output
        # index) — NOT a packed `_worder * 2^20 + _idx` long (overflows:
        # _worder derives from monotonically_increasing_id,
        # partition_id << 33) and NOT an eager dense renumber (executing
        # the plan at build time breaks the sink-before-output ordering
        # contract, and a lazy two-branch renumber re-runs the
        # jq/jsonnet subprocess and double-fires observed metrics — the
        # r3 regression).  Plan-only: zero extra stages, total order,
        # unique.  Consumers needing a dense long derive it with one
        # row_number over it (the pipeline compiler's renumber does).
        self._explode: Optional[list[Column]] = None
        if wrap is not None:
            name = wrap if isinstance(wrap, str) else wrap["name"]
            self.fields = {
                "n": F.lit(name),
                "d": F.col("_val"),
                "t": F.lit(None).cast(TRACE_TYPE),
            }
            self.order_key = F.struct(*order)
        else:
            generator, fields = valid_events_sql("_val", max_array_depth)
            self._explode = [F.struct(*order).alias("_ord"), F.expr(generator).alias("_v")]
            self.fields = {k: F.expr(sql) for k, sql in fields.items()}
            self.order_key = F.col("_ord")

    def bind(self, produced: DataFrame) -> DataFrame:
        return produced if self._explode is None else produced.select(*self._explode)

    def events(self, produced: DataFrame) -> DataFrame:
        """(n, d, t, _ord) rows, ``_ord`` the struct order."""
        cols = [c.alias(k) for k, c in self.fields.items()]
        return self.bind(produced).select(*cols, self.order_key.alias("_ord"))


def _values_to_events(
    produced: DataFrame,
    wrap: WrapDirective,
    max_array_depth: int = 5,
    order: tuple[str, ...] = ("_worder", "_idx"),
) -> DataFrame:
    """produced: (``order`` columns, _val JSON-text) -> event rows with
    a deterministic order column ``_ord`` (see :class:`ValueEvents`)."""
    return ValueEvents(wrap, order, max_array_depth).events(produced)


# The program checks below run on the driver when a program is lowered
# (once per template; again for each direct call of the functions
# below); a template's programs never change, so each is checked once
# per process.  lru_cache does not cache exceptions: a bad program
# raises on every call.


@functools.lru_cache(maxsize=256)
def _check_jq_program(jq_bin: str, program: str) -> None:
    """Fail fast on a bad jq program (parity: the reference errors at
    pipeline start, src/io/jq.ts) — run once against an empty array."""
    probe = subprocess.run(
        [jq_bin, "-c", program], input="[]", capture_output=True, text=True
    )
    if probe.returncode != 0:
        raise ValueError(f"invalid jq program: {probe.stderr.strip()}")


@functools.lru_cache(maxsize=256)
def _check_jsonnet_program(program: str) -> None:
    """Fail fast on a bad Jsonnet program (parity: SnippetToAST at
    pipeline start, stream-jsonnet/main.go:36-40)."""
    from ..jsonnet import parse

    parse(program)


def _jq_fn(program: str, jq_bin: str) -> Callable:
    """mapInPandas body: one ``jq`` subprocess per Arrow batch.

    Scale shape: one subprocess per Arrow batch per partition — the
    JSON round-trip is the cost, amplification is bounded by the jq
    program.  cites src/step-functions/send-receive-jq.ts:70-95,
    src/io/json-processor.ts:115-187."""

    def run_jq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            lines = "\n".join(pdf["_vec"].tolist()) + "\n"
            proc = subprocess.run(
                [jq_bin, "-c", program], input=lines, capture_output=True, text=True
            )
            out_lines = proc.stdout.splitlines()
            # [try (...)] guarantees 1:1 line mapping unless jq died
            # mid-stream; attribute what we can, drop the rest.
            rows = []
            for worder, out in zip(pdf["_worder"].tolist(), out_lines):
                try:
                    values = json.loads(out)
                except ValueError:
                    continue
                for idx, val in enumerate(values):
                    rows.append(
                        (worder, idx, json.dumps(val, separators=(",", ":"), ensure_ascii=False))
                    )
            yield pd.DataFrame(rows, columns=["_worder", "_idx", "_val"])

    return run_jq


def _jsonnet_fn(program: str) -> Callable:
    """mapInPandas body: Exactly ONE value per window (_idx == 0): the
    reference's stream-jsonnet emits one compacted line per input
    vector (stream-jsonnet/main.go:43-60), unlike jq's zero-or-more
    stream outputs.  Windows whose evaluation errors produce nothing
    (main.go:46-52 skips erroring inputs).

    Scale shape: the evaluator is pure Python running inside
    mapInPandas — per-partition, Arrow-batched, no subprocess.  The
    program parses once per batch; evaluation cost is proportional to
    the program, bounded per window.
    cites src/step-functions/send-receive-jsonnet.ts:70-97."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import logging

        from ..jsonnet import Closure, Evaluator, JsonnetError, manifest_json
        from ..jsonnet import parse as jsonnet_parse

        ast = jsonnet_parse(program)
        ev = Evaluator()
        fn = ev.eval_ast(ast)
        dropped = 0
        last_err: Optional[str] = None
        for pdf in batches:
            rows = []
            for worder, vec in zip(pdf["_worder"].tolist(), pdf["_vec"].tolist()):
                events = json.loads(vec)
                try:
                    val = ev.call(fn, [events]) if isinstance(fn, Closure) else fn
                    rows.append((worder, 0, manifest_json(val)))
                except JsonnetError as exc:
                    # Parity: erroring windows are skipped silently by
                    # stream-jsonnet (main.go:46-52) — but say so, with
                    # a count, so a program bug is visible instead of
                    # a silent drop.
                    dropped += 1
                    last_err = str(exc)
            yield pd.DataFrame(rows, columns=["_worder", "_idx", "_val"])
        if dropped:
            logging.getLogger("cdp_spark.jsonnet").warning(
                "jsonnet transform dropped %d window(s); last error: %s",
                dropped,
                last_err,
            )

    return run


class ValueProgram:
    """A step's ``jq-expr`` or ``jsonnet-expr`` over window vectors,
    lowered once: the program is checked and the per-window aggregate
    and the mapInPandas body are built here, so :meth:`produced` binds
    them to a frame with two DataFrame operations.  Rows of
    ``window_col`` form one window each (None: the whole frame)."""

    def __init__(
        self,
        jq_expr: Optional[str] = None,
        jq_prelude: Optional[str] = None,
        jsonnet_expr: Optional[str] = None,
        jsonnet_prelude: Optional[str] = None,
        order_col: str = "_ord",
        window_col: Optional[str] = WINDOW_COL,
        jq_bin: str = "jq",
    ):
        if jsonnet_expr is not None:
            program = f"{(jsonnet_prelude + chr(10)) if jsonnet_prelude else ''}{jsonnet_expr}"
            _check_jsonnet_program(program)
            self._fn = _jsonnet_fn(program)
        elif jq_expr is not None:
            program = f"[ try ( {(jq_prelude + chr(10)) if jq_prelude else ''}{jq_expr} ) ]"
            _check_jq_program(jq_bin, program)
            self._fn = _jq_fn(program, jq_bin)
        else:
            raise ValueError("a value program needs a jq-expr or a jsonnet-expr")
        self._group, self._aggs = _vector_columns(order_col, window_col)

    def produced(self, df: DataFrame) -> DataFrame:
        """(_worder, _idx, _val JSON-text) per produced value."""
        vectors = df.groupBy(self._group).agg(*self._aggs)
        return vectors.mapInPandas(self._fn, schema=VALUES_SCHEMA)


def value_program(
    jq_expr: Optional[str] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_expr: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
    order_col: str = "_ord",
    window_col: Optional[str] = WINDOW_COL,
) -> Optional[ValueProgram]:
    """The step's :class:`ValueProgram`; None when the step sets
    neither expr.  Template validation rejects a step that sets both."""
    if jq_expr is None and jsonnet_expr is None:
        return None
    return ValueProgram(jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude, order_col, window_col)


def jq_produced_values(
    df: DataFrame,
    jq_expr: str,
    order_col: str = "_ord",
    prelude: Optional[str] = None,
    jq_bin: str = "jq",
) -> DataFrame:
    """Run a jq program over each window vector; returns the raw
    produced values as (_worder, _idx, _val JSON-text) — used directly
    by sinks with a jq-expr, and by send_receive_jq for the
    value->event path."""
    return ValueProgram(
        jq_expr, prelude, order_col=order_col, window_col=_window_col_of(df), jq_bin=jq_bin
    ).produced(df)


def send_receive_jq(
    df: DataFrame,
    jq_expr: str,
    order_col: str = "_ord",
    prelude: Optional[str] = None,
    wrap: WrapDirective = None,
    jq_bin: str = "jq",
) -> DataFrame:
    """jq transform step: produced values parsed back into events
    (src/step-functions/send-receive-jq.ts:70-95)."""
    produced = jq_produced_values(df, jq_expr, order_col, prelude, jq_bin)
    return _values_to_events(produced, wrap)


class HttpExchange:
    """send-receive-http lowered once: POST each window vector as NDJSON
    to ``target`` (or, with a jq/jsonnet expr, each produced value as
    one JSON body); each line of the response body (NDJSON of values)
    becomes a new value.  Errors (network, non-2xx after retries)
    produce an empty vector, matching
    src/step-functions/send-receive-http.ts:96-143.  :meth:`replies`
    binds it to a frame: (_worder, _idx, _line, _val)."""

    def __init__(
        self,
        target: str,
        order_col: str = "_ord",
        window_col: Optional[str] = WINDOW_COL,
        method: str = "POST",
        headers: Optional[dict[str, str]] = None,
        jq_expr: Optional[str] = None,
        jq_prelude: Optional[str] = None,
        jsonnet_expr: Optional[str] = None,
        jsonnet_prelude: Optional[str] = None,
    ):
        # imported here: cdp_spark.io's sinks import this module
        from ..io.http_client import ndjson_values, poster

        self._program = value_program(
            jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude, order_col, window_col
        )
        if self._program is None:
            self._group, self._aggs = _vector_columns(order_col, window_col, ndjson=True)
            self._bodies = [
                F.col("_worder"), F.lit(0).cast("long").alias("_idx"), F.col("_vec").alias("_body")
            ]
            content_type = "application/x-ndjson"
        else:
            self._bodies = [F.col("_worder"), F.col("_idx"), F.col("_val").alias("_body")]
            content_type = "application/json"
        post = poster(method, target, {"Content-Type": content_type, **(headers or {})})

        def call(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = [
                    (worder, idx, line, val)
                    for worder, idx, body in zip(pdf["_worder"], pdf["_idx"], pdf["_body"])
                    for line, val in enumerate(ndjson_values(post(body.encode())))
                ]
                yield pd.DataFrame(rows, columns=["_worder", "_idx", "_line", "_val"])

        self._call = call

    def replies(self, df: DataFrame) -> DataFrame:
        if self._program is None:
            source = df.groupBy(self._group).agg(*self._aggs)
        else:
            source = self._program.produced(df)
        return source.select(*self._bodies).mapInPandas(self._call, schema=_REPLIES_SCHEMA)


REPLY_ORDER = ("_worder", "_idx", "_line")


def send_receive_http(
    df: DataFrame,
    target: str,
    order_col: str = "_ord",
    method: str = "POST",
    headers: Optional[dict[str, str]] = None,
    wrap: WrapDirective = None,
    jq_expr: Optional[str] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_expr: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
) -> DataFrame:
    """POST each window vector (see :class:`HttpExchange`); the replies
    parsed into events, in (window, value, response line) order.

    With ``jq_expr`` / ``jsonnet_expr`` the vector is first piped
    through the program and each produced value is sent as ONE
    request whose body is the JSON-encoded value (the reference's
    optional pre-transform, send-receive-http.ts:104-121 — e.g. the
    external-processing example posts ``map(.d)`` as a single JSON
    array instead of NDJSON)."""
    validate_wrap(wrap)
    exchange = HttpExchange(
        target, order_col, _window_col_of(df), method, headers,
        jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude,
    )
    return _values_to_events(exchange.replies(df), wrap, order=REPLY_ORDER)


def produced_values(
    df: DataFrame,
    jq_expr: Optional[str] = None,
    jq_prelude: Optional[str] = None,
    jsonnet_expr: Optional[str] = None,
    jsonnet_prelude: Optional[str] = None,
    order_col: str = "_ord",
) -> Optional[DataFrame]:
    """The values a step's ``jq-expr`` or ``jsonnet-expr`` produces
    over each window vector, as (_worder, _idx, _val JSON-text); None
    when the step sets neither."""
    program = value_program(
        jq_expr, jq_prelude, jsonnet_expr, jsonnet_prelude, order_col, _window_col_of(df)
    )
    return None if program is None else program.produced(df)


def jsonnet_produced_values(
    df: DataFrame,
    jsonnet_expr: str,
    order_col: str = "_ord",
    prelude: Optional[str] = None,
) -> DataFrame:
    """Evaluate a ``function(events)`` Jsonnet program over each window
    vector; returns (_worder, _idx, _val JSON-text)."""
    return ValueProgram(
        jsonnet_expr=jsonnet_expr, jsonnet_prelude=prelude, order_col=order_col,
        window_col=_window_col_of(df),
    ).produced(df)


def send_receive_jsonnet(
    df: DataFrame,
    jsonnet_expr: str,
    order_col: str = "_ord",
    prelude: Optional[str] = None,
    wrap: WrapDirective = None,
) -> DataFrame:
    """send-receive-jsonnet: transform event vectors with a
    ``function(events)`` Jsonnet program and parse the produced values
    back into events (src/step-functions/send-receive-jsonnet.ts:70-97
    -> src/io/jsonnet.ts:14-27 -> stream-jsonnet/main.go:18-70).
    Evaluated by :mod:`cdp_spark.jsonnet` (pure-Python subset — no
    jsonnet library ships in this environment)."""
    produced = jsonnet_produced_values(df, jsonnet_expr, order_col, prelude=prelude)
    return _values_to_events(produced, wrap)
