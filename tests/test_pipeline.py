"""Pipeline front-end + compiler tests: template validation errors
(ported from __tests__/pipeline.ts:11-168 and api-level checks in
src/api.ts:254-293), and end-to-end compiled pipelines over batch
events: match/drop vs match/pass routing, windowed jq transforms,
DAG fan-in/fan-out, sinks.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cdp_spark.pipeline import compile_pipeline, from_yaml, make_pipeline_template
from cdp_spark.pipeline.template import TemplateError


BASE = {"name": "test", "input": {"stdin": None}}


def tpl(steps):
    return make_pipeline_template({**BASE, "steps": steps})


def test_validates_basic_shapes():
    t = from_yaml(
        """
name: "Basic"
input:
  file: {path: /tmp/in.ndjson}
steps:
  print:
    flatmap:
      send-stdout:
"""
    )
    assert t.name == "Basic"
    assert t.steps[0].after == ["$input"]
    assert t.steps[0].window_events == 1


@pytest.mark.parametrize(
    "steps, message",
    [
        ({"$input": {"reduce": {"send-stdout": None}}}, "reserved name"),
        (
            {"a": {"after": ["nope"], "reduce": {"send-stdout": None}}},
            "dangling dependency",
        ),
        (
            {
                "a": {"after": ["b"], "reduce": {"send-stdout": None}},
                "b": {"after": ["a"], "reduce": {"send-stdout": None}},
            },
            "cycle",
        ),
        ({"a": {"reduce": {"send-stdout": None}, "flatmap": {"send-stdout": None}}}, "both flatmap and reduce"),
        ({"a": {}}, "must use one of flatmap or reduce"),
        (
            {"a": {"match/drop": "x", "match/pass": "y", "reduce": {"send-stdout": None}}},
            "both match/drop and match/pass",
        ),
        ({"a": {"match/drop": "bad*pattern", "reduce": {"send-stdout": None}}}, "invalid pattern"),
        (
            {"a": {"window": {"events": 0, "seconds": 1}, "reduce": {"send-stdout": None}}},
            "window.events",
        ),
        (
            {"a": {"window": {"events": 2, "seconds": -1}, "reduce": {"send-stdout": None}}},
            "window.seconds",
        ),
        ({"a": {"reduce": {"rename": {"replace": ".bad"}}}}, "rename"),
        ({"a": {"reduce": {"keep-when": {"type": 42}}}}, "keep-when schema"),
        ({"a": {"reduce": {"nonsense-fn": {}}}}, "unknown step function"),
        *[
            (
                {"a": {"reduce": {fn: {**opts, "jq-expr": ".", "jsonnet-expr": "function(e) e"}}}},
                "step 'a' .*jq-expr and jsonnet-expr are mutually exclusive",
            )
            for fn, opts in [
                ("send-file", {"path": "/tmp/x.ndjson"}),
                ("send-http", {"target": "http://127.0.0.1:1/x"}),
                ("send-receive-http", {"target": "http://127.0.0.1:1/x"}),
            ]
        ],
    ],
)
def test_validation_errors(steps, message):
    with pytest.raises(TemplateError, match=message):
        tpl(steps)


def events_input(spark, rows):
    """rows: (n, d_json)"""
    df = spark.createDataFrame([(i, n, d) for i, (n, d) in enumerate(rows)], "rn long, n string, d string")
    return df.select(
        F.col("n"),
        F.col("d"),
        F.lit(None).cast("array<struct<i double, p string, h string>>").alias("t"),
        F.col("rn").cast("long").alias("_ord"),
    )


def run_pipeline(spark, yaml_text, rows, arrival_ts=1000.0):
    t = from_yaml(yaml_text)
    result = compile_pipeline(spark, t, input_df=events_input(spark, rows), arrival_ts=arrival_ts)
    out = result.output.orderBy("_ord").collect()
    return result, [(r["n"], r["d"]) for r in out]


def test_match_drop_routing(spark):
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  only-temp:
    match/drop: "sensor.temp.*"
    reduce:
      rename: {prepend: "seen."}
""",
        [("sensor.temp.a", "1"), ("sensor.hum.b", "2"), ("sensor.temp.c", "3")],
    )
    assert got == [("seen.sensor.temp.a", "1"), ("seen.sensor.temp.c", "3")]


def test_match_pass_bypasses(spark):
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  tag-temp:
    match/pass: "sensor.temp.*"
    reduce:
      rename: {prepend: "seen."}
""",
        [("sensor.temp.a", "1"), ("sensor.hum.b", "2")],
    )
    assert sorted(got) == [("seen.sensor.temp.a", "1"), ("sensor.hum.b", "2")]


def test_dag_fan_in_and_fan_out(spark):
    result, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  evens:
    match/drop: "ev.even"
    reduce:
      rename: {append: ".left"}
  odds:
    match/drop: "ev.odd"
    reduce:
      rename: {append: ".right"}
  merge:
    after: [evens, odds]
    reduce:
      rename: {prepend: "m."}
""",
        [("ev.even", "0"), ("ev.odd", "1"), ("ev.even", "2")],
    )
    assert sorted(got) == [("m.ev.even.left", "0"), ("m.ev.even.left", "2"), ("m.ev.odd.right", "1")]
    assert set(result.step_outputs) == {"evens", "odds", "merge"}


def test_windowed_jq_aggregation(spark):
    # moving-aggregate idiom from README.md:624-626: sum each window's
    # payloads with jq over a reduce window of 2
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  sum:
    window: {events: 2, seconds: 3600}
    reduce:
      send-receive-jq: '{n: "sum", d: (map(.d) | add)}'
""",
        [("x", "1"), ("x", "2"), ("x", "3"), ("x", "4"), ("x", "5")],
    )
    assert got == [("sum", "3"), ("sum", "7"), ("sum", "5")]


def test_flatmap_sliding_jq(spark):
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  slide:
    window: {events: 2, seconds: 3600}
    flatmap:
      send-receive-jq: '{n: "s", d: (map(.d) | add)}'
""",
        [("x", "1"), ("x", "2"), ("x", "3")],
    )
    assert got == [("s", "3"), ("s", "5"), ("s", "3")]


def test_jq_trace_stamped_old(spark):
    result, _ = run_pipeline(
        spark,
        """
name: stamped
input: {stdin: }
steps:
  t:
    reduce:
      send-receive-jq: '{n: .[0].n, d: 1}'
""",
        [("a", "0")],
    )
    row = result.output.first()
    assert [tp["p"] for tp in row["t"]] == ["stamped"]
    assert row["t"][0]["h"] == result.signature


def test_jq_wrap(spark):
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  t:
    reduce:
      send-receive-jq:
        jq-expr: ".[0].d"
        wrap: "wrapped"
""",
        [("a", '{"x":5}')],
    )
    assert got == [("wrapped", '{"x":5}')]


def test_invalid_jq_program_fails_at_compile(spark):
    with pytest.raises(ValueError, match="invalid jq program"):
        run_pipeline(
            spark,
            """
name: p
input: {stdin: }
steps:
  t:
    reduce:
      send-receive-jq: "this is (not valid jq"
""",
            [("a", "0")],
        )


def _compile_twice(spark, step_yaml):
    t = from_yaml(f"name: p\ninput: {{stdin: }}\nsteps:\n  t:\n    reduce:\n      {step_yaml}\n")
    for _ in range(2):
        compile_pipeline(spark, t, input_df=events_input(spark, [("a", "1")]), arrival_ts=1000.0)


def test_jq_program_is_checked_once_per_process(spark, monkeypatch):
    import subprocess

    probes = []
    run = subprocess.run

    def counting(args, *a, **kw):
        probes.append(args)
        return run(args, *a, **kw)

    monkeypatch.setattr(subprocess, "run", counting)
    # a program no other test compiles, so the process cache is cold
    _compile_twice(spark, 'send-receive-jq: "[.[] | .d] | length + 17"')
    assert len(probes) == 1
    for _ in range(2):
        with pytest.raises(ValueError, match="invalid jq program"):
            _compile_twice(spark, 'send-receive-jq: "this is (not valid jq 17"')


def test_jsonnet_program_is_checked_once_per_process(spark, monkeypatch):
    from cdp_spark import jsonnet

    parses = []
    parse = jsonnet.parse

    def counting(src):
        parses.append(src)
        return parse(src)

    monkeypatch.setattr(jsonnet, "parse", counting)
    _compile_twice(spark, 'send-receive-jsonnet: "function(events) std.length(events) + 17"')
    assert len(parses) == 1
    for _ in range(2):
        with pytest.raises(jsonnet.JsonnetParseError):
            _compile_twice(spark, 'send-receive-jsonnet: "function(events) (17"')


def test_send_file_sink(spark, tmp_path):
    out_file = tmp_path / "out.ndjson"
    result, got = run_pipeline(
        spark,
        f"""
name: p
input: {{stdin: }}
steps:
  save:
    reduce:
      send-file: {{path: "{out_file}"}}
""",
        [("a.b", "1"), ("c.d", "2")],
    )
    # sink forwards events unchanged
    assert got == [("a.b", "1"), ("c.d", "2")]
    result.run_sinks()
    lines = [json.loads(l) for l in out_file.read_text().splitlines()]
    assert [l["n"] for l in lines] == ["a.b", "c.d"]
    # trace carries the new-event stamp
    assert lines[0]["t"][0]["p"] == "p"


def test_send_file_sink_with_jq_expr(spark, tmp_path):
    out_file = tmp_path / "vals.ndjson"
    result, _ = run_pipeline(
        spark,
        f"""
name: p
input: {{stdin: }}
steps:
  save:
    window: {{events: 2, seconds: 3600}}
    reduce:
      send-file:
        path: "{out_file}"
        jq-expr: "map(.d) | add"
""",
        [("a", "1"), ("a", "2"), ("a", "3")],
    )
    result.run_sinks()
    assert [json.loads(l) for l in out_file.read_text().splitlines()] == [3, 3]


def test_stdin_input_form_requires_input_df(spark):
    t = from_yaml("{name: p, input: {http: {endpoint: /e}}}")
    with pytest.raises(NotImplementedError, match="streaming"):
        compile_pipeline(spark, t)


def test_distributed_sinks_flag_flips_send_file(spark, tmp_path):
    # per-step spark-dir: true -> executor-parallel directory writer
    # instead of the driver-side single-file parity append
    out_dir = tmp_path / "outdir"
    t = from_yaml(
        f"""
name: p
input: {{stdin: }}
steps:
  out:
    reduce:
      send-file:
        path: {out_dir}
        spark-dir: true
"""
    )
    df = events_input(spark, [("a", "1"), ("b", "2")])
    result = compile_pipeline(spark, t, input_df=df, arrival_ts=1000.0)
    result.run_sinks()
    assert out_dir.is_dir()  # executor-written directory, not one file
    import json as _json

    lines = [
        _json.loads(line)
        for f in sorted(out_dir.glob("part-*"))
        for line in f.read_text().splitlines()
    ]
    assert sorted(e["n"] for e in lines) == ["a", "b"]


def test_window_key_template_validation():
    # engine extension: optional window.key = name | data.<path>
    t = tpl({"a": {"window": {"events": 2, "seconds": 10, "key": "name"},
                   "reduce": {"send-stdout": None}}})
    assert t.steps[0].window_key == "name"
    t = tpl({"a": {"window": {"events": 2, "seconds": 10, "key": "data.user"},
                   "reduce": {"send-stdout": None}}})
    assert t.steps[0].window_key == "data.user"
    with pytest.raises(TemplateError, match="window.key"):
        tpl({"a": {"window": {"events": 2, "seconds": 10, "key": "trace"},
                   "reduce": {"send-stdout": None}}})
    # plain reference-parity window still validates, key stays None
    t = tpl({"a": {"window": {"events": 2, "seconds": 10},
                   "reduce": {"send-stdout": None}}})
    assert t.steps[0].window_key is None


def test_windowed_jq_aggregation_keyed_by_name(spark):
    # keyed scale twin: per-name buffers — key a windows [1,2],[3];
    # key b window [10,20]; close-truncation flushes a's partial
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  sum:
    window: {events: 2, seconds: 3600, key: name}
    reduce:
      send-receive-jq: '{n: (.[0].n), d: (map(.d) | add)}'
""",
        [("a", "1"), ("b", "10"), ("a", "2"), ("b", "20"), ("a", "3")],
    )
    assert sorted(got) == [("a", "3"), ("a", "3"), ("b", "30")]


def test_windowed_jq_aggregation_keyed_by_data_path(spark):
    # data.<path> keys: per-tenant buffers from a payload field
    _, got = run_pipeline(
        spark,
        """
name: p
input: {stdin: }
steps:
  sum:
    window: {events: 2, seconds: 3600, key: data.t}
    reduce:
      send-receive-jq: '{n: (.[0].d.t), d: (map(.d.v) | add)}'
""",
        [
            ("e", '{"t":"x","v":1}'),
            ("e", '{"t":"y","v":5}'),
            ("e", '{"t":"x","v":2}'),
            ("e", '{"t":"y","v":6}'),
        ],
    )
    assert sorted(got) == [("x", "3"), ("y", "11")]


def _stub_server(statuses, reply=lambda body: json.dumps({"n": "reply", "d": 1})):
    """Local HTTP service answering the i-th POST with ``statuses[i]``
    (the last status repeats) and, on a 200, ``reply(body)`` (one
    reply event by default).  Returns (server, calls); ``calls``
    records (status, body, Content-Type)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    calls: list[tuple[int, str, str]] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()
            with lock:
                status = statuses[min(len(calls), len(statuses) - 1)]
                calls.append((status, body, self.headers.get("Content-Type")))
            out = reply(body).encode() if status == 200 else b""
            self.send_response(status)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # noqa: N802
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, calls


def _run_with_server(spark, statuses, step_yaml, rows, **server):
    """Compile a pipeline whose first step, ``call``, is ``step_yaml``
    with a stub server's URL filled in (more steps may follow), execute
    it, and return (output events in order, server calls)."""
    srv, calls = _stub_server(statuses, **server)
    url = f"http://127.0.0.1:{srv.server_address[1]}/x"
    try:
        t = from_yaml(f"name: p\ninput: {{stdin: }}\nsteps:\n  call:\n{step_yaml % url}")
        result = compile_pipeline(spark, t, input_df=events_input(spark, rows), arrival_ts=1000.0)
        got = []
        result.execute(lambda out: got.extend((r["n"], r["d"]) for r in out.orderBy("_ord").collect()))
    finally:
        srv.shutdown()
        srv.server_close()
    return got, calls


def test_send_receive_http_body_is_the_send_file_lines(spark, tmp_path):
    """A window's send-receive-http body is the window's send-file
    lines, byte for byte, newline-joined with a trailing newline: one
    event encoder for every wire path (Event.toJSON,
    src/event.ts:122-128)."""
    out_file = tmp_path / "out.ndjson"
    steps = (
        "    window: {events: 3, seconds: 3600}\n    reduce:\n      send-receive-http: \"%s\"\n"
        f"  store:\n    flatmap:\n      send-file: {{path: \"{out_file}\"}}\n"
    )
    rows = [("a.b", '{"s":"héllo ✓ 日本"}'), ("a.b", "null"), ("a.c", '"ünï"')]
    _, calls = _run_with_server(spark, [200], steps, rows)
    lines = out_file.read_text(encoding="utf-8").splitlines()
    assert len(lines) == 3 and "日本" in lines[0] and '"d":null' in lines[1]
    assert calls == [(200, "\n".join(lines) + "\n", "application/x-ndjson")]


SEND_HTTP = "    flatmap:\n      send-http: {target: \"%s\"}\n"
SEND_HTTP_JQ = "    window: {events: 2, seconds: 3600}\n    reduce:\n      send-http: {target: \"%s\", jq-expr: \"map(.d)\"}\n"
RECEIVE = "    window: {events: 2, seconds: 3600}\n    reduce:\n      send-receive-http: {target: \"%s\"}\n"
RECEIVE_JQ = "    window: {events: 2, seconds: 3600}\n    reduce:\n      send-receive-http: {target: \"%s\", jq-expr: \"map(.d)\", wrap: r}\n"


@pytest.mark.parametrize("step_yaml, rows, body, content_type, out", [
    (SEND_HTTP, [("a", "1")], '{"n":"a","d":1,"t":[{"i":1000.0,', "application/x-ndjson", [("a", "1")]),
    (SEND_HTTP_JQ, [("a", "1"), ("a", "2")], "[1,2]", None, [("a", "1"), ("a", "2")]),
    (RECEIVE, [("a", "1"), ("a", "2")], '{"n":"a","d":1,', "application/x-ndjson", [("reply", "1")]),
    (RECEIVE_JQ, [("a", "1"), ("a", "2")], "[1,2]", "application/json", [("r", '{"n":"reply","d":1}')]),
], ids=["send-http", "send-http-jq", "send-receive-http", "send-receive-http-jq"])
def test_http_retries_a_5xx_once_then_delivers(spark, monkeypatch, step_yaml, rows, body, content_type, out):
    """One HTTP client for every wire step (src/io/http-client.ts:28-56):
    a 503 is retried and the body delivered exactly once."""
    from cdp_spark.io import http_client

    monkeypatch.setattr(http_client, "BACKOFF_S", 0.0)
    got, calls = _run_with_server(spark, [503, 200], step_yaml, rows)
    assert [s for s, _, _ in calls] == [503, 200]
    assert calls[0][1] == calls[1][1] and calls[1][1].startswith(body)
    assert calls[1][2] == content_type
    assert got == out


def test_http_404_is_not_retried_and_gives_an_empty_vector(spark, monkeypatch):
    from cdp_spark.io import http_client

    monkeypatch.setattr(http_client, "BACKOFF_S", 0.0)
    got, calls = _run_with_server(spark, [404], RECEIVE, [("a", "1"), ("a", "2")])
    assert [s for s, _, _ in calls] == [404]
    assert got == []


def test_send_receive_http_orders_by_window_value_line(spark):
    """Replies keep (window, produced value, response line) order."""
    step = (
        "    window: {events: 2, seconds: 3600}\n    reduce:\n"
        "      send-receive-http: {target: \"%s\", jq-expr: \".[] | .d\", wrap: r}\n"
    )
    got, calls = _run_with_server(
        spark, [200], step, [("a", "1"), ("a", "2"), ("a", "3"), ("a", "4")],
        reply=lambda body: f"[{body},0]\n\nnot json\n[{body},1]\n",
    )
    assert len(calls) == 4
    assert [json.loads(d) for _, d in got] == [[v, i] for v in (1, 2, 3, 4) for i in (0, 1)]
