"""Event envelope: tolerant NDJSON parsing, wrap directives, trace
stamping, serialization round-trip.  Ports the semantics of
src/event.ts (validation, parseVector flattening, new/old parsers) and
src/io/read-stream.ts (per-line error recovery) to batch DataFrames.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cdp_spark.events import (
    parse_lines,
    serialize_events,
    new_event_trace_sql,
    old_event_trace,
    event_timestamp,
    validate_wrap,
)
from cdp_spark.utils import envsubst, get_signature


def lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], ["value"])


def test_parse_valid_and_invalid_lines(spark):
    events, dead = parse_lines(
        lines_df(
            spark,
            [
                '{"n":"a.b","d":{"x":1},"t":[{"i":1.5,"p":"p1","h":"h1"}]}',
                '{"n":"c","d":null}',
                '{"n":"d"}',
                "not json",
                '{"d":5}',
                '{"n":".bad."}',
                "123",
            ],
        )
    )
    rows = {r["n"]: r for r in events.collect()}
    assert set(rows) == {"a.b", "c", "d"}
    assert json.loads(rows["a.b"]["d"]) == {"x": 1}
    assert rows["a.b"]["t"][0]["p"] == "p1"
    # JSON-null payload is present-as-null; absent payload is SQL NULL
    assert rows["c"]["d"] == "null"
    assert rows["d"]["d"] is None
    reasons = sorted(r["reason"] for r in dead.collect())
    assert reasons == [
        "invalid JSON",
        "invalid or missing event name",
        "invalid or missing event name",
        "not an event object",
    ]


def test_parse_flattens_nested_arrays(spark):
    events, dead = parse_lines(
        lines_df(spark, ['[{"n":"a"},[{"n":"b"},[{"n":"c"}]],{"n":"d"}]'])
    )
    assert sorted(r["n"] for r in events.collect()) == ["a", "b", "c", "d"]
    assert dead.count() == 0


def test_wrap_json(spark):
    events, dead = parse_lines(lines_df(spark, ['{"x": 1}', "[1,2]", '"s"', "bad{"]), wrap="wrapped.in")
    got = [(r["n"], r["d"]) for r in events.collect()]
    assert sorted(got) == [("wrapped.in", '"s"'), ("wrapped.in", "[1,2]"), ("wrapped.in", '{"x":1}')]
    assert dead.count() == 1


def test_wrap_raw(spark):
    events, dead = parse_lines(lines_df(spark, ["hello world", "bad{"]), wrap={"name": "raw.ev", "raw": True})
    got = sorted((r["n"], r["d"]) for r in events.collect())
    assert got == [("raw.ev", '"bad{"'), ("raw.ev", '"hello world"')]
    assert dead.count() == 0


def test_validate_wrap():
    validate_wrap(None)
    validate_wrap("a.b")
    validate_wrap({"name": "a", "raw": True})
    with pytest.raises(ValueError):
        validate_wrap("*bad*")
    with pytest.raises(ValueError):
        validate_wrap({"raw": True})
    with pytest.raises(ValueError):
        validate_wrap({"name": "a", "extra": 1})


def test_serialize_round_trip(spark):
    src = [
        '{"n":"a.b","d":{"x":1},"t":[{"i":1.5,"p":"p1","h":"h1"}]}',
        '{"n":"c","d":null,"t":[]}',
        '{"n":"d","t":[]}',
    ]
    events, _ = parse_lines(lines_df(spark, src))
    out = [r["line"] for r in events.select(serialize_events(events).alias("line")).collect()]
    assert sorted(json.dumps(json.loads(l), sort_keys=True) for l in out) == sorted(
        json.dumps(json.loads(l), sort_keys=True) for l in src
    )


def test_stamp_new_always_appends(spark):
    events, _ = parse_lines(
        lines_df(spark, ['{"n":"a","t":[{"i":1.0,"p":"pipe","h":"sig"}]}', '{"n":"b"}'])
    )
    stamped = events.withColumn("t", F.expr(new_event_trace_sql("t", "pipe", "sig", 9.0)))
    rows = {r["n"]: r["t"] for r in stamped.collect()}
    assert [tp["i"] for tp in rows["a"]] == [1.0, 9.0]
    assert [(tp["p"], tp["h"]) for tp in rows["b"]] == [("pipe", "sig")]
    ts = {r["n"]: r["ts"] for r in stamped.select("n", event_timestamp(stamped).alias("ts")).collect()}
    assert ts == {"a": 9.0, "b": 9.0}


def test_stamp_old_appends_only_if_missing(spark):
    events, _ = parse_lines(
        lines_df(
            spark,
            [
                '{"n":"a","t":[{"i":1.0,"p":"pipe","h":"sig"}]}',
                '{"n":"b","t":[{"i":1.0,"p":"other","h":"sig"}]}',
            ],
        )
    )
    stamped = events.withColumn("t", old_event_trace(F.col("t"), "pipe", "sig", F.lit(9.0)))
    rows = {r["n"]: r["t"] for r in stamped.collect()}
    assert [tp["i"] for tp in rows["a"]] == [1.0]
    assert [tp["i"] for tp in rows["b"]] == [1.0, 9.0]


def test_signature_and_envsubst():
    # base64url(sha1(b'{"a":1}')) — the exact bytes JS
    # JSON.stringify({a:1}) produces (src/utils.ts:58-84).
    assert get_signature({"a": 1}) == "n4nHQM60bXQYySSnisV5QdXpZSA"
    assert get_signature("x", None) == get_signature("x")
    with pytest.raises(ValueError):
        get_signature(None)
    assert envsubst({"k": "v-${FOO}", "${FOO}": ["${BAR}"]}, {"FOO": "f"}) == {
        "k": "v-f",
        "f": [""],
    }


def test_variants_to_events_quotes_identifiers(spark):
    """Generated SQL quotes every identifier: keep columns named with a
    space, a hyphen and a reserved word, and a variant column holding a
    backtick, pass through unchanged."""
    from cdp_spark.events import variants_to_events

    df = spark.createDataFrame(
        [(1, 2, 3, '[{"n":"a","d":1},{"n":"b"}]'), (4, 5, 6, '{"n":"c"}')],
        ["a b", "a-b", "select", "raw"],
    ).select("a b", "a-b", "select", F.parse_json("raw").alias("v`x"))
    keep = ["a b", "a-b", "select"]
    out = variants_to_events(df, variant_col="v`x", keep_cols=keep)
    assert out.columns == keep + ["n", "d", "t", "_reason"]
    rows = sorted(
        (r["a b"], r["a-b"], r["select"], r["n"], r["_reason"])
        for r in out.collect()
    )
    assert rows == [(1, 2, 3, "a", None), (1, 2, 3, "b", None), (4, 5, 6, "c", None)]
