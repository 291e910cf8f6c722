"""Managed pipeline lifecycle: ordered drain, health monitor
(src/api.ts:318-441 contract)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from cdp_spark.pipeline import from_yaml
from cdp_spark.streaming import PipelineRunner, run_pipeline_managed


def _post(url: str, body: str) -> int:
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    with urllib.request.urlopen(req) as resp:
        return resp.status


def _http_template(spool: str) -> str:
    return f"""
name: managed
input:
  http:
    endpoint: /events
    port: 0
    spool-dir: {spool}
steps:
  tag:
    reduce:
      rename: {{prepend: "m."}}
"""


def test_managed_http_pipeline_ordered_close(spark, tmp_path):
    from cdp_spark.io.sinks import get_expose_buffer  # noqa: F401  (import check)

    spool = str(tmp_path / "spool")
    batches: list[tuple[str, str]] = []
    template = from_yaml(_http_template(spool))
    runner = run_pipeline_managed(
        template,
        spark,
        on_batch=lambda df, epoch: batches.extend((r.n, r.d) for r in df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=0.5,
    )
    try:
        assert runner.healthy()
        # find the server the runner owns (registered as its closer)
        server = runner._input_closers[0].__self__
        assert _post(f"http://127.0.0.1:{server.port}/events", '{"n":"a","d":1}') == 200
        deadline = time.time() + 60
        while not batches and time.time() < deadline:
            time.sleep(0.3)
        assert batches == [("m.a", "1")]
    finally:
        runner.close()
    # ordered drain: input server refuses first, then the query stops
    assert not runner.query.isActive
    assert not runner.healthy()
    with pytest.raises(urllib.error.URLError):
        _post(f"http://127.0.0.1:{server.port}/events", '{"n":"b","d":2}')
    # idempotent
    runner.close()


def test_health_monitor_triggers_drain(spark, tmp_path):
    spool = str(tmp_path / "spool")
    template = from_yaml(_http_template(spool))
    flag = {"ok": True}
    runner = run_pipeline_managed(
        template,
        spark,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=0.5,
        health_checks=[lambda: flag["ok"]],
        health_interval=0.3,
    )
    assert runner.healthy()
    flag["ok"] = False
    deadline = time.time() + 30
    while runner.query.isActive and time.time() < deadline:
        time.sleep(0.2)
    assert not runner.query.isActive  # monitor drained and stopped it


def test_runner_health_reflects_query_state(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text('{"n":"a","d":1}\n')
    template = from_yaml(
        f"""
name: p
input: {{tail: {src}}}
steps:
  t:
    reduce:
      rename: {{prepend: "x."}}
"""
    )
    runner = run_pipeline_managed(
        template, spark, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    runner.query.awaitTermination(120)
    # availableNow query self-terminates -> no longer healthy
    assert not runner.healthy()
    runner.close()


def test_close_logs_a_raising_closer_and_still_stops(spark, tmp_path, caplog):
    import logging

    def closer():
        raise RuntimeError("closer boom")

    def check():
        raise RuntimeError("check boom")

    query = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    runner = PipelineRunner(query, input_closers=[closer], health_checks=[check])
    with caplog.at_level(logging.WARNING, logger="cdp_spark.runner"):
        assert not runner.healthy()
        runner.close(drain_timeout=0.5)
    assert not query.isActive
    messages = [(r.getMessage(), r.exc_info[1]) for r in caplog.records]
    assert any("health check" in m and str(e) == "check boom" for m, e in messages)
    assert any("input closer" in m and str(e) == "closer boom" for m, e in messages)


def test_reference_exposition_example_end_to_end(spark, tmp_path):
    """The reference's examples/exposition pipeline (prometheus-style
    text via jsonnet + expose-http), run as a streaming pipeline on
    this engine with a live HTTP server — input form swapped from
    generator to a file drop for determinism."""
    import urllib.request

    from cdp_spark.io.sinks import get_expose_buffer, get_expose_server

    src = tmp_path / "in"
    src.mkdir()
    (src / "m.ndjson").write_text(
        '{"n":"exposition_example","d":0.4}\n{"n":"exposition_example","d":0.5}\n'
    )
    template = from_yaml(
        f"""
name: "Event exposition"
input: {{tail: {src}}}
jsonnet-prelude: |-
  local eventPipeline(event) =
    event.t[std.length(event.t) - 1].p;

  local eventSignature(event) =
    event.t[std.length(event.t) - 1].h;
steps:
  expose for prometheus:
    window: {{events: 100, seconds: 3600}}
    flatmap:
      expose-http:
        endpoint: /metrics
        port: 0
        responses: 100
        headers:
          Content-Type: "text/plain; version=0.0.4"
        jsonnet-expr: |-
          function(events)
            "# TYPE " + events[0].n + " gauge\\n" +
            std.join(
              "\\n",
              std.map(
                function(event)
                  event.n +
                  "{{pipeline=\\"" + eventPipeline(event) + "\\"," +
                  "signature=\\"" + eventSignature(event) + "\\"}} " +
                  std.toString(event.d),
                events
              )
            ) +
            "\\n"
"""
    )
    runner = run_pipeline_managed(
        template, spark, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    try:
        runner.query.awaitTermination(180)
    finally:
        runner.close()
    server = get_expose_server("expose for prometheus")
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/metrics") as r:
            body = r.read().decode()
            ctype = r.headers["Content-Type"]
    finally:
        server.close()
    assert body.startswith("# TYPE exposition_example gauge\n")
    # flatmap = sliding windows: the latest response is the truncated
    # tail [0.5]; the previous (via the ring's link) holds both events
    lines = body.strip().split("\n")[1:]
    assert [line.rsplit(" ", 1)[1] for line in lines] == ["0.5"]
    assert all(line.startswith('exposition_example{pipeline="Event exposition"') for line in lines)
    assert ctype == "text/plain; version=0.0.4"
    buf = get_expose_buffer("expose for prometheus")
    older = buf.get(buf.get().link_key)
    older_lines = older.body.strip().split("\n")[1:]
    assert [line.rsplit(" ", 1)[1] for line in older_lines] == ["0.4", "0.5"]


def test_close_warns_when_it_stops_a_trigger_mid_flight(spark, tmp_path, caplog):
    """A trigger still running after ``drain_timeout`` is stopped, and
    ``close`` says so, naming its epoch."""
    import logging
    import threading

    from cdp_spark.streaming import run_pipeline_stream
    from cdp_spark.streaming.sources import stream_ndjson_files

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text('{"n":"a","d":1}\n')
    template = from_yaml(
        f"""
name: p
input: {{tail: {src}}}
steps:
  t:
    reduce:
      rename: {{prepend: "x."}}
"""
    )
    started = threading.Event()

    def slow(df, epoch):
        started.set()
        time.sleep(3)

    query = run_pipeline_stream(
        template,
        input_stream=stream_ndjson_files(spark, str(src)),
        on_batch=slow,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=0.2,
    )
    runner = PipelineRunner(query)
    assert started.wait(120)
    with caplog.at_level(logging.WARNING, logger="cdp_spark.runner"):
        runner.close(drain_timeout=0.3)
    assert not query.isActive
    assert any(
        "mid-trigger" in r.getMessage() and "epoch 0" in r.getMessage() for r in caplog.records
    )


def test_checksum_off_warns_once_per_process(spark, monkeypatch, caplog):
    import logging

    from cdp_spark import session

    monkeypatch.delenv("CDP_SPARK_CHECKPOINT_CHECKSUM", raising=False)
    monkeypatch.setattr(session, "_warned_checksum_off", False)
    conf = spark.sparkContext.getConf()
    with caplog.at_level(logging.WARNING, logger="cdp_spark.session"):
        for _ in range(2):
            # the running session, same app name and shuffle partitions
            session.get_spark(conf.get("spark.app.name"), shuffle_partitions=8)
    records = [r for r in caplog.records if r.name == "cdp_spark.session"]
    assert len(records) == 1
    assert "CDP_SPARK_CHECKPOINT_CHECKSUM" in records[0].getMessage()
