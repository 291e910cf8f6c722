"""The CDP event model on Spark DataFrames.

Reference data model (src/event.ts:80-133): an *event* is a JSON
envelope ``{n, d?, t}`` — name, free-form payload, trace — carried as
NDJSON on the wire (src/io/read-stream.ts:158-178).  Our in-flight
representation is a DataFrame with columns:

- ``n``  string         — event name (validated, src/event.ts:186-191)
- ``d``  string or null — the payload as JSON text (null = absent;
         the JSON literal ``null`` = present-and-null), parsed on
         demand with ``try_parse_json``/``from_json``
- ``t``  array<struct<i double, p string, h string>> — trace points
         (src/event.ts:16-34)

Parsing is tolerant: lines that aren't valid JSON, or don't validate
as events, are diverted to a dead-letter DataFrame rather than failing
the job (parity with parseVector dropping invalid events,
src/event.ts:276-297, and the per-line recovery of
src/io/read-stream.ts:31-146).  Top-level JSON arrays are flattened
(bounded depth) like the reference's nested-vector flattening.

Everything here is built from JVM-side expressions (variant functions,
``from_json``, ``to_json``, higher-order array functions) — no Python
UDFs — so parsing stays inside whole-stage codegen and scales with
executors.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .patterns import is_valid_event_name

# Trace point: unix-seconds timestamp, pipeline name, pipeline signature.
TRACE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("i", T.DoubleType()),
            T.StructField("p", T.StringType()),
            T.StructField("h", T.StringType()),
        ]
    )
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("n", T.StringType(), False),
        T.StructField("d", T.StringType(), True),
        T.StructField("t", TRACE_TYPE, True),
    ]
)

# Same charset/word rule as patterns.is_valid_event_name, as one regex
# so the check compiles to a JVM-side RLIKE.
_VALID_NAME_REGEX = r"^[A-Za-z0-9\-_$:]+(\.[A-Za-z0-9\-_$:]+)*$"

WrapDirective = Union[str, dict, None]


def validate_wrap(wrap: WrapDirective) -> None:
    """Port of validateWrap (src/event.ts:340-374)."""
    if wrap is None:
        return
    if isinstance(wrap, str):
        if not is_valid_event_name(wrap):
            raise ValueError("wrap is not valid: the given event name is not valid")
        return
    if isinstance(wrap, dict):
        if set(wrap.keys()) - {"name", "raw"} or "name" not in wrap:
            raise ValueError(f"wrap is not valid: {wrap!r}")
        if not is_valid_event_name(wrap["name"]):
            raise ValueError("wrap is not valid: the given event name is not valid")
        if "raw" in wrap and not isinstance(wrap["raw"], bool):
            raise ValueError("wrap is not valid: raw must be a boolean")
        return
    raise ValueError(f"wrap is not valid: {wrap!r}")


def _wrap_name(wrap: WrapDirective) -> Optional[str]:
    if isinstance(wrap, str):
        return wrap
    if isinstance(wrap, dict):
        return wrap["name"]
    return None


def _wrap_raw(wrap: WrapDirective) -> bool:
    return isinstance(wrap, dict) and bool(wrap.get("raw"))


def parse_lines(
    lines: DataFrame,
    line_col: str = "value",
    wrap: WrapDirective = None,
    max_array_depth: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Parse a DataFrame of raw text lines into (events, dead_letters).

    - No wrap: each line must be a serialized event or a (nested)
      array of them (flattened up to ``max_array_depth``, the batch
      analog of parseVector's recursion, src/event.ts:276-297).
    - wrap name / {name}: each line is an arbitrary JSON value,
      enveloped as ``{n: name, d: value}`` (src/event.ts:387-411).
    - wrap {name, raw: true}: each line is kept as an opaque string
      payload.

    Dead letters keep the offending line plus a reason column —
    the engine-level analog of the reference logging-and-dropping
    invalid events.
    """
    validate_wrap(wrap)
    name = _wrap_name(wrap)

    if name is not None and _wrap_raw(wrap):
        # Raw wrap: every line (as a JSON string payload) is an event.
        # to_json needs a container type, so encode via a 1-element
        # array and strip the brackets to get a JSON string literal.
        events = lines.select(
            F.lit(name).alias("n"),
            F.expr(f"substring(to_json(array({line_col})), 2, length(to_json(array({line_col}))) - 2)").alias("d"),
            F.lit(None).cast(TRACE_TYPE).alias("t"),
        )
        return events, lines.limit(0).withColumn("reason", F.lit(""))

    parsed = lines.withColumn("_v", F.try_parse_json(F.col(line_col)))
    dead_json = parsed.filter(F.col("_v").isNull() & F.col(line_col).isNotNull()).select(
        F.col(line_col).alias("line"), F.lit("invalid JSON").alias("reason")
    )
    ok = parsed.filter(F.col("_v").isNotNull())

    if name is not None:
        # Non-raw wrap: the whole JSON value becomes the payload.
        events = ok.select(
            F.lit(name).alias("n"),
            F.to_json(F.col("_v")).alias("d"),
            F.lit(None).cast(TRACE_TYPE).alias("t"),
        )
        return events, dead_json

    extracted = variants_to_events(
        ok.select(F.col(line_col).alias("line"), F.col("_v")),
        keep_cols=["line"],
        max_array_depth=max_array_depth,
    )
    events = extracted.filter(F.col("_reason").isNull()).select("n", "d", "t")
    dead_events = extracted.filter(F.col("_reason").isNotNull()).select(
        F.col("line"), F.col("_reason").alias("reason")
    )
    return events, dead_json.unionByName(dead_events)


def _quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), so generated ``selectExpr`` strings parse any column
    name — spaces, hyphens, reserved words."""
    return "`" + name.replace("`", "``") + "`"


# SQL over one JSON value held as a VARIANT expression ``v``: the
# value's nested arrays flattened into one array (up to
# ``max_array_depth`` levels), and the envelope fields of an event
# candidate.  One definition serves ingestion (variants_to_events,
# which keeps the drop reason for the dead-letter channel) and the
# send-receive value path (valid_events_sql, which keeps only events).
_TRACE_DDL = TRACE_TYPE.simpleString()
# SQL string literals eat single backslashes — double them so the
# parsed regex is byte-for-byte _VALID_NAME_REGEX
_NAME_RE_SQL = _VALID_NAME_REGEX.replace("\\", "\\\\")


def _flat_array_sql(v: str, max_array_depth: int) -> str:
    # ONE Generate instead of max_array_depth stacked explodes
    # (optimization r17): every DataFrame op re-analyzes the whole
    # accumulated plan, so five explode layers cost five growing
    # Catalyst analyses PER MICRO-BATCH in the pipeline compiler
    # (~0.4s/batch measured) — and every later op re-walks all five
    # Generate nodes again.  Equivalent single projection: flatten
    # each nesting level INSIDE one expression (flatten/transform
    # preserve element order, exactly like sequential explodes), then
    # explode once.  Rows with non-array values pass through as
    # 1-element arrays; arrays nested deeper than max_array_depth
    # surface as ARRAY variants and are flagged 'not an event object'
    # — both unchanged.  tests/test_events.py covers every branch.
    # An ARRAY variant casts to array<variant> as is; a to_json /
    # from_json round trip gave the same elements at twice the analysis
    # cost per bind.
    arr_t = (
        "CASE WHEN startswith(schema_of_variant({x}), 'ARRAY') "
        "THEN try_variant_get({x}, '$', 'array<variant>') "
        "ELSE array({x}) END"
    )
    expr = arr_t.format(x=v)
    for i in range(1, max_array_depth):
        expr = f"flatten(transform({expr}, x{i} -> {arr_t.format(x=f'x{i}')}))"
    return expr


def _name_sql(v: str) -> str:
    return f"try_variant_get({v}, '$.n', 'string')"


def _data_sql(v: str) -> str:
    # distinguish absent d — SQL NULL — from JSON null: to_json of a
    # variant-null is 'null', of SQL NULL is NULL
    return f"to_json(try_variant_get({v}, '$.d', 'variant'))"


def _raw_trace_sql(v: str) -> str:
    return f"try_variant_get({v}, '$.t', 'variant')"


def _parsed_trace_sql(traw: str) -> str:
    return f"from_json(to_json({traw}), '{_TRACE_DDL}')"


def _trace_sql(traw: str) -> str:
    return f"coalesce({_parsed_trace_sql(traw)}, CAST(NULL AS {_TRACE_DDL}))"


def _reason_sql(n: str, traw: str, sch: str) -> str:
    """NULL when the candidate (name ``n``, raw trace ``traw``, variant
    schema ``sch``) is a valid event, else why it is not."""
    t_parsed = _parsed_trace_sql(traw)
    trace_ok = (
        f"({traw} IS NULL OR ({t_parsed} IS NOT NULL AND NOT "
        f"exists({t_parsed}, tp -> tp.i IS NULL OR tp.p IS NULL "
        f"OR tp.h IS NULL)))"
    )
    return (
        f"CASE WHEN NOT startswith({sch}, 'OBJECT') "
        "THEN 'not an event object' "
        f"WHEN NOT ({n} IS NOT NULL AND {n} RLIKE '{_NAME_RE_SQL}') "
        "THEN 'invalid or missing event name' "
        f"WHEN NOT {trace_ok} THEN 'invalid trace' "
        "ELSE CAST(NULL AS string) END"
    )


def valid_events_sql(json_text: str, max_array_depth: int = 5) -> tuple[str, dict[str, str]]:
    """The valid events in each JSON text of ``json_text`` (a SQL
    expression), as ``(generator, fields)``: ``generator`` explodes the
    text's flattened values, invalid candidates already dropped, into a
    VARIANT column ``_v``; ``fields`` maps n, d and t to SQL over
    ``_v``.  The same envelope rules as :func:`variants_to_events`,
    with the filter inside the generator, so parsing a step's produced
    values back into events costs one projection and no separate
    filter (parseVector, src/event.ts:276-297)."""
    flat = _flat_array_sql(f"try_parse_json({json_text})", max_array_depth)
    valid = _reason_sql(_name_sql("ev"), _raw_trace_sql("ev"), "schema_of_variant(ev)")
    fields = {"n": _name_sql("_v"), "d": _data_sql("_v"), "t": _trace_sql(_raw_trace_sql("_v"))}
    return f"explode(filter({flat}, ev -> {valid} IS NULL))", fields


def variants_to_events(
    df: DataFrame,
    variant_col: str = "_v",
    keep_cols: Optional[list[str]] = None,
    max_array_depth: int = 5,
) -> DataFrame:
    """Turn a DataFrame with a variant column of raw JSON values into
    candidate events: flattens (nested) arrays, extracts/validates the
    envelope.  Output columns: keep_cols + n, d, t, _reason (null when
    the value is a valid event; else a drop reason).  NDJSON ingestion
    keeps the reasons for the dead-letter channel (parseVector,
    src/event.ts:276-297)."""
    keep = [_quote_ident(c) for c in keep_cols or []]
    v = _quote_ident(variant_col)
    flat = df.selectExpr(*keep, f"explode({_flat_array_sql(v, max_array_depth)}) AS {v}")
    # Same single-parse selectExpr trade as the flatten above.
    extracted = flat.selectExpr(
        *keep,
        f"{_name_sql(v)} AS n",
        f"{_data_sql(v)} AS d",
        f"{_raw_trace_sql(v)} AS _traw",
        f"schema_of_variant({v}) AS _sch",
    )
    return extracted.selectExpr(
        *keep,
        "n",
        "d",
        f"{_trace_sql('_traw')} AS t",
        f"{_reason_sql('n', '_traw', '_sch')} AS _reason",
    )


def read_ndjson(
    spark: SparkSession,
    path: str,
    wrap: WrapDirective = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch-read an NDJSON file/dir of events (the engine analog of
    the reference's stdin/tail inputs, src/input/{stdin,tail}.ts)."""
    return parse_lines(spark.read.text(path), "value", wrap)


# One NDJSON line per event, as ONE SQL expression (a single JVM
# parse).  Also embedded in the per-window vector aggregate
# (operators.transform._collect_vectors), so every wire shape of an
# event comes from this one encoder.  The name is JSON-string-encoded
# (event names can't contain quotes/backslashes, but stay correct
# regardless); the payload embeds as raw JSON, not a quoted string.
EVENT_LINE_SQL = (
    "concat('{\"n\":', substring(to_json(array(n)), 2, length(to_json(array(n))) - 2), "
    "coalesce(concat(',\"d\":', d), ''), "
    "',\"t\":', coalesce(to_json(t), '[]'), '}')"
)


def serialize_events(df: DataFrame) -> Column:
    """One NDJSON line per event of ``df``, reference wire shape
    (Event.toJSON, src/event.ts:122-128): key order n, d, t; ``d``
    omitted when absent; ``t`` always present (empty array when null)."""
    return F.expr(EVENT_LINE_SQL)


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def new_event_trace_sql(
    trace_sql: str, pipeline_name: str, signature: str, arrival_ts: Optional[float] = None
) -> str:
    """SQL of the trace ``trace_sql`` with a point appended
    unconditionally — events entering from an input form
    (makeNewEventParser, src/event.ts:218-230).  One expression, so a
    per-trigger bind builds it with a single JVM parse; the point's time
    is ``arrival_ts`` (unix seconds), or the current time when None."""
    ts = f"{float(arrival_ts)!r}D" if arrival_ts is not None else (
        "CAST(unix_timestamp(current_timestamp()) AS DOUBLE)"
    )
    point = (
        f"named_struct('i', {ts}, "
        f"'p', {_sql_string(pipeline_name)}, 'h', {_sql_string(signature)})"
    )
    return f"concat(coalesce({trace_sql}, CAST(array() AS {_TRACE_DDL})), array({point}))"


def old_event_trace(
    trace: Column, pipeline_name: str, signature: str, arrival_ts: Column | None = None
) -> Column:
    """``trace`` with a point appended only when this pipeline's (p, h)
    is not already present — events re-emitted by a step function
    (makeOldEventParser, src/event.ts:244-263)."""
    ts = arrival_ts if arrival_ts is not None else F.unix_timestamp(F.current_timestamp()).cast("double")
    point = F.struct(ts.alias("i"), F.lit(pipeline_name).alias("p"), F.lit(signature).alias("h"))
    trace = F.coalesce(trace, F.lit([]).cast(TRACE_TYPE))
    has_point = F.exists(
        trace, lambda tp: (tp["p"] == F.lit(pipeline_name)) & (tp["h"] == F.lit(signature))
    )
    return F.when(has_point, trace).otherwise(F.concat(trace, F.array(point)))


def event_timestamp(df: DataFrame) -> Column:
    """Event arrival time = timestamp of the last trace point
    (src/event.ts:144-151), as unix-seconds double."""
    return F.element_at(F.col("t"), -1)["i"]
