"""Pipeline metrics — the reference's Prometheus surface re-expressed
with Spark observed metrics.

Reference (src/metrics.ts:30-117): counters ``pipeline_events_total
{flow}`` and ``step_events_total{step,flow}`` plus gauges for queue
depth / dead events / backpressure, exposed in Prometheus text format
on :8001/metrics.  Queue depth and backpressure are executor-model
concepts Spark owns (micro-batch scheduling, AQE) and are not
re-counted here; event counters map directly onto ``DataFrame.observe``
— metrics ride the job that executes the plan, costing no extra pass
over the data.

Batch / foreachBatch: each observed step gets a
:class:`pyspark.sql.Observation`; values are read after an action runs
the plan.  ``PipelineMetrics`` accumulates across pipeline runs
(micro-batches) and renders the Prometheus text exposition format.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from .pipeline.compiler import PipelineResult

_log = logging.getLogger("cdp_spark.metrics")


@dataclass
class PipelineMetrics:
    """Accumulated event counters across pipeline executions."""

    pipeline_events_total: dict[str, int] = field(default_factory=dict)
    step_events_total: dict[tuple[str, str], int] = field(default_factory=dict)
    dead_events: int = 0
    batches: int = 0
    # Load gauges (src/metrics.ts:46-117): computed at scrape time
    # from registered watchers, mirroring prom-client's collect()
    # callbacks.  Sources register what "queued" means for them (the
    # HTTP input's spool backlog, a broker consumer's lag, ...);
    # backpressure is true when any watcher trips.
    _queue_watchers: list = field(default_factory=list)
    _backpressure_watchers: list = field(default_factory=list)

    def register_queue_watcher(self, fn) -> None:
        """``fn() -> int``: a component's current queued-event count
        (reference: sumQueues over all tracked queues,
        src/metrics.ts:41-66)."""
        self._queue_watchers.append(fn)

    def register_backpressure_watcher(self, fn) -> None:
        """``fn() -> bool``: True when this component wants ingestion
        paused (reference: sequenceWatchers -> BackpressureSignal,
        src/metrics.ts:80-160)."""
        self._backpressure_watchers.append(fn)

    def queued_events(self) -> int:
        total = 0
        for fn in self._queue_watchers:
            try:
                total += int(fn())
            except Exception:
                # a dying component must not break the scrape
                _log.warning("queue watcher %r raised; scraping the others", fn, exc_info=True)
        return total

    def backpressure(self) -> bool:
        for fn in self._backpressure_watchers:
            try:
                if fn():
                    return True
            except Exception:
                _log.warning(
                    "backpressure watcher %r raised; scraping the others", fn, exc_info=True
                )
        return False

    def record(self, flow: str, count: int) -> None:
        self.pipeline_events_total[flow] = (
            self.pipeline_events_total.get(flow, 0) + count
        )

    def record_step(self, step: str, flow: str, count: int) -> None:
        key = (step, flow)
        self.step_events_total[key] = self.step_events_total.get(key, 0) + count

    def update_from(self, result: "PipelineResult") -> None:
        """Fold one executed pipeline's observations in.  Call only
        after :meth:`PipelineResult.execute` (or an action on
        ``result.output``) — ``Observation.get`` blocks until a plan
        holding it executed.

        ``incoming`` counts the rows of the compiled batch's input.
        Under the streaming runner's stateful window path those are the
        flushed window members, counted at flush time, not the events
        read: events buffered in state or dropped before the window
        are not in it."""
        self.batches += 1
        for name, obs in result.observations.items():
            count = int(obs.get.get("events", 0))
            if name == "$input":
                self.record("incoming", count)
            else:
                self.record_step(name, "outgoing", count)
        if result.dead_letters is not None:
            self.dead_events += result.dead_letters.count()

    def as_prometheus_lines(self) -> list[str]:
        """Prometheus text exposition (src/metrics.ts:187-228 exposes
        the same families over HTTP; serving is deployment glue)."""
        lines = [
            "# TYPE cdp_pipeline_events_total counter",
        ]
        for flow, value in sorted(self.pipeline_events_total.items()):
            lines.append(f'cdp_pipeline_events_total{{flow="{flow}"}} {value}')
        lines.append("# TYPE cdp_step_events_total counter")
        for (step, flow), value in sorted(self.step_events_total.items()):
            lines.append(
                f'cdp_step_events_total{{step="{step}",flow="{flow}"}} {value}'
            )
        lines.append("# TYPE cdp_dead_events gauge")
        lines.append(f"cdp_dead_events {self.dead_events}")
        lines.append("# TYPE cdp_queued_events gauge")
        lines.append(f"cdp_queued_events {self.queued_events()}")
        lines.append("# TYPE cdp_backpressure gauge")
        lines.append(f"cdp_backpressure {1 if self.backpressure() else 0}")
        return lines


def serve_metrics(metrics: "PipelineMetrics", port: int = 0, endpoint: str = "/metrics"):
    """Serve the Prometheus text exposition over HTTP — the
    reference's metrics endpoint (src/metrics.ts:187-228 behind
    METRICS_EXPOSITION_PORT/PATH, src/conf.ts).  Returns a started
    server object with ``.port`` and ``.close()``; scrape-ready:

        GET <endpoint> -> text/plain; version=0.0.4
    """
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args: object) -> None:
            pass

        def do_GET(self) -> None:
            if self.path.split("?", 1)[0].rstrip("/") != endpoint.rstrip("/"):
                self.send_error(404)
                return
            body = ("\n".join(metrics.as_prometheus_lines()) + "\n").encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)

    class _Server:
        def __init__(self) -> None:
            self.port = httpd.server_address[1]
            self._thread = threading.Thread(target=httpd.serve_forever, daemon=True)
            self._thread.start()

        def close(self) -> None:
            httpd.shutdown()
            httpd.server_close()

    return _Server()
