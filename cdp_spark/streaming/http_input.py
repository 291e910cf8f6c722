"""HTTP server input — the reference's main ingestion path
(src/input/http.ts:90-165, examples/basic-http-input).

Contract: ``POST <endpoint>`` with an NDJSON body feeds events into
the pipeline; ``GET /healthz`` answers a health document
(application/health+json, src/input/http.ts:126-139); anything else is
404; ingestion under backpressure answers 503 (http.ts:115-117).

Spark-first shape: the server is driver-side and spools each request
body as one atomically-renamed NDJSON file; the pipeline reads the
spool with Spark's file stream (``stream_ndjson_files``), which gives
exactly-once offsets, distributed parsing, and replayable input for
free — the same bridge pattern a cluster deployment would use with an
object-store spool and a fleet of stateless ingest pods.  Parsing and
wrap semantics are shared with every other line-oriented source
(``lines_to_events``).

Backpressure: the reference flips 503 while its internal queue is
saturated (src/backpressure.ts).  Here the analog signal is the spool
backlog — requests are refused once ``max_backlog_files`` spooled
files await pickup, which bounds spool growth when the stream stalls.
The stream deletes files it has committed (file-source
``cleanSource=delete``), so the backlog gauge is pending work, not a
cumulative counter — a drained pipeline accepts new POSTs forever.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..events import WrapDirective
from .consumers import MessageSpool
from .sources import stream_ndjson_files

HEALTH_ENDPOINT = "/healthz"  # HTTP_SERVER_HEALTH_ENDPOINT, src/conf.ts:174-178
DEFAULT_PORT = 8000  # HTTP_SERVER_DEFAULT_PORT, src/conf.ts:143-148


class HttpIngestServer:
    """Accept POSTed NDJSON and spool it for a Spark file stream: one
    request body -> one file of the shared :class:`MessageSpool`."""

    def __init__(
        self,
        spool_dir: str,
        endpoint: str = "/events",
        port: int = 0,
        max_backlog_files: int = 1024,
        healthy: Optional[callable] = None,
    ):
        self.spool = MessageSpool(spool_dir, max_backlog_files)
        self.endpoint = endpoint if endpoint.startswith("/") else "/" + endpoint
        self._healthy = healthy if healthy is not None else (lambda: True)
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args: object) -> None:
                pass

            def do_POST(self) -> None:
                path = self.path.split("?", 1)[0].rstrip("/") or "/"
                if path != server.endpoint.rstrip("/"):
                    self.send_error(404)
                    return
                if not server.spool.accepting():
                    self.send_error(503)
                    return
                length = int(self.headers.get("Content-Length", 0))
                server.spool.write(self.rfile.read(length))
                # ctx.body = null -> 204-equivalent empty success
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_GET(self) -> None:
                path = self.path.split("?", 1)[0]
                if path != HEALTH_ENDPOINT:
                    self.send_error(404)
                    return
                ok = server._healthy()
                doc = json.dumps({"status": "pass" if ok else "fail"})
                body = doc.encode()
                self.send_response(200 if ok else 500)
                self.send_header("Content-Type", "application/health+json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def url(self) -> str:
        return f"http://127.0.0.1:{self.port}{self.endpoint}"

    def start(self) -> "HttpIngestServer":
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def stream_http(
    spark: SparkSession,
    spool_dir: str,
    endpoint: str = "/events",
    port: int = 0,
    wrap: WrapDirective = None,
    max_backlog_files: int = 1024,
) -> tuple[DataFrame, HttpIngestServer]:
    """HTTP input: start the ingest server and return (event stream,
    server handle).  The stream is the standard file stream over the
    spool; callers own the server lifecycle (``server.close()``)."""
    server = HttpIngestServer(
        spool_dir,
        endpoint=endpoint,
        port=port,
        max_backlog_files=max_backlog_files,
    ).start()
    stream = stream_ndjson_files(
        spark,
        spool_dir,
        wrap=wrap,
        clean_source="delete",
    )
    return stream, server
