"""HTTP server input (src/input/http.ts:90-165) and stdin input
(src/input/stdin.ts:68-112) tests."""

from __future__ import annotations

import io
import json
import urllib.error
import urllib.request

import pytest

from cdp_spark.pipeline import compile_pipeline, from_yaml
from cdp_spark.sources.stdin import read_stdin
from cdp_spark.streaming.http_input import HttpIngestServer, stream_http


def _post(url: str, body: str) -> int:
    req = urllib.request.Request(
        url, data=body.encode(), method="POST",
        headers={"Content-Type": "application/x-ndjson"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status


# ---------------------------------------------------------------------------
# HTTP input


def test_http_post_spools_and_streams(spark, tmp_path):
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream, server = stream_http(spark, spool, endpoint="/events", port=0)
    try:
        assert _post(server.url(), '{"n":"a","d":1}\n{"n":"b","d":2}') == 200
        assert _post(server.url(), '{"n":"c","d":3}') == 200
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        server.close()
    got = {(r["n"], r["d"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", "1"), ("b", "2"), ("c", "3")}


def test_http_wrap_and_partial_line(spark, tmp_path):
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    stream, server = stream_http(
        spark, spool, endpoint="/ingest", port=0, wrap="wrapped"
    )
    try:
        # body without trailing newline still forms a complete line
        assert _post(server.url(), '{"k": 1}') == 200
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        server.close()
    rows = spark.read.parquet(out).collect()
    assert [(r["n"], json.loads(r["d"])) for r in rows] == [("wrapped", {"k": 1})]


def test_http_unknown_path_404(tmp_path):
    server = HttpIngestServer(str(tmp_path / "spool"), endpoint="/events", port=0).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            _post(f"http://127.0.0.1:{server.port}/other", "{}")
        assert err.value.code == 404
    finally:
        server.close()


def test_http_backpressure_503(tmp_path):
    spool = str(tmp_path / "spool")
    server = HttpIngestServer(
        spool, endpoint="/events", port=0, max_backlog_files=2
    ).start()
    try:
        assert _post(server.url(), '{"n":"a","d":1}') == 200
        assert _post(server.url(), '{"n":"b","d":2}') == 200
        # backlog full (nothing draining the spool) -> 503, reference
        # parity with the saturated-queue branch (http.ts:115-117)
        with pytest.raises(urllib.error.HTTPError) as err:
            _post(server.url(), '{"n":"c","d":3}')
        assert err.value.code == 503
    finally:
        server.close()


def test_http_health_endpoint(tmp_path):
    server = HttpIngestServer(str(tmp_path / "s"), port=0).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/healthz") as r:
            assert r.status == 200
            assert r.headers["Content-Type"] == "application/health+json"
            assert json.loads(r.read()) == {"status": "pass"}
    finally:
        server.close()


def test_http_health_endpoint_unhealthy(tmp_path):
    server = HttpIngestServer(
        str(tmp_path / "s"), port=0, healthy=lambda: False
    ).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"http://127.0.0.1:{server.port}/healthz")
        assert err.value.code == 500
        assert json.loads(err.value.read()) == {"status": "fail"}
    finally:
        server.close()


# ---------------------------------------------------------------------------
# stdin input


def test_read_stdin_parity_with_read_ndjson(spark):
    src = io.StringIO('{"n":"a","d":1}\n[{"n":"b","d":2},{"n":"c","d":3}]\nnot json\n')
    events, dead = read_stdin(spark, source=src)
    got = [(r["n"], r["d"]) for r in events.collect()]
    assert got == [("a", "1"), ("b", "2"), ("c", "3")]
    assert [r["reason"] for r in dead.collect()] == ["invalid JSON"]


def test_read_stdin_wrap(spark):
    src = io.StringIO("41\n42\n")
    events, dead = read_stdin(spark, wrap="num", source=src)
    assert [(r["n"], r["d"]) for r in events.collect()] == [("num", "41"), ("num", "42")]
    assert dead.count() == 0


def test_read_stdin_empty(spark):
    events, dead = read_stdin(spark, source=io.StringIO(""))
    assert events.count() == 0 and dead.count() == 0


def test_pipeline_stdin_input(spark, monkeypatch):
    import sys

    monkeypatch.setattr(
        sys, "stdin", io.StringIO('{"n":"x","d":10}\n{"n":"y","d":20}\n')
    )
    t = from_yaml(
        """
name: p
input: {stdin: }
steps:
  tag:
    reduce:
      rename: {prepend: "in."}
"""
    )
    result = compile_pipeline(spark, t, arrival_ts=1000.0)
    got = [(r["n"], r["d"]) for r in result.output.orderBy("_ord").collect()]
    assert got == [("in.x", "10"), ("in.y", "20")]
