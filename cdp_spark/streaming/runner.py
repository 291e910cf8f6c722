"""Run a validated pipeline template as a Structured Streaming query.

The reference executes one continuous process: events flow through the
step DAG as they arrive, vectors assemble per-step by count-or-time
(src/api.ts:318-441, src/pipeline.ts:109-254).  Here the same
*compiled* pipeline runs per micro-batch via ``foreachBatch``: every
trigger, the batch compiler lowers the template over that batch's
events and executes sinks + output.

Semantics vs the reference:

- The batch-shared arrival timestamp is exact parity: the reference
  stamps every event in one poll with a single wall-clock read
  (``arrivalTimestamp`` box, src/event.ts:198-206); here every event
  in a micro-batch gets the trigger's wall-clock read.
- Under a CONTINUOUS trigger, a pipeline whose first windowed step
  is a count-or-time ``reduce`` reachable from the input through
  pattern filters and renames runs that window as the REAL stateful
  operator (:func:`cdp_spark.streaming.streaming_count_or_time`,
  ``applyInPandasWithState``): buffers span micro-batches exactly
  like the reference's per-step vectors span polls
  (src/step.ts:70-151) — a 100-event window fed 40+40+20 across
  three triggers flushes ONCE, in the third.  The runner lowers the
  pre-window steps onto the stream, lets Spark manage the buffer
  state + the max_seconds processing-time timer, and compiles the
  REST of the DAG per micro-batch over the flushed windows.
- For shapes the stateful prefix can't cover (window mid-fan-in,
  ``match/pass`` bypass before the window, ``flatmap`` sliding
  windows), step windows assemble *within* a micro-batch: a count
  window whose buffer spans a trigger boundary flushes at the
  boundary (as if the reference's time limit fired at the trigger
  interval).
- Backpressure / queueing are Spark's (trigger intervals, source rate
  limits) — not reimplemented (SURVEY §2.5).

Each trigger executes its plan once, with as few actions as its sinks
allow.  ``foreachBatch`` hands over a plan, not data, and every action
on it would run the stateful flush, the Jsonnet/jq reduces and the
HTTP calls again.  The template is lowered once and bound to each
batch (:func:`cdp_spark.pipeline.compiler.lower`); a driver-side sink's
action fills the metrics' observations, so with one such sink and no
``on_batch`` the trigger runs one Spark action and persists nothing.
When a second action reads the batch (another sink, ``on_batch``, or
an observation no sink fills), the runner persists the batch, and
:meth:`PipelineResult.execute` persists every frame that several
actions share; the cache is released whether the trigger succeeds or
fails.

Metrics: pass a :class:`cdp_spark.metrics.PipelineMetrics`; per-batch
observed counters accumulate into the reference's counter families.
Under the stateful window path the input of the compiled batch is the
flushed windows, so ``incoming`` counts window members at flush time
(events still buffered in state, or routed away before the window, are
not counted yet or at all); per-batch paths count every event read.
"""

from __future__ import annotations

import logging
import tempfile
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..dead_letter import ship_dead_letters
from ..metrics import PipelineMetrics
from ..pipeline.compiler import compile_pipeline
from ..pipeline.template import PipelineTemplate
from .sources import stream_generator, stream_ndjson_files

_log = logging.getLogger("cdp_spark.runner")


def start_foreach_batch(
    source_stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint_dir: Optional[str],
    available_now: bool,
    trigger_seconds: Optional[float] = None,
) -> StreamingQuery:
    """Start ``body(batch_df, epoch_id)`` as the foreachBatch sink of
    ``source_stream``: checkpointed when ``checkpoint_dir`` is given,
    drained once with ``available_now``, else every
    ``trigger_seconds`` (Spark's default trigger when None)."""
    writer = source_stream.writeStream.foreachBatch(body)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _input_stream(
    spark: SparkSession,
    template: PipelineTemplate,
    closers: Optional[list] = None,
    metrics: Optional[PipelineMetrics] = None,
) -> DataFrame:
    """Build the template's input stream.  Server-backed inputs append
    their close() handles to ``closers`` so the managed runner can
    drain in order (input first, then the query)."""
    form, opts = template.input_form, template.input_options
    o = opts if isinstance(opts, dict) else {}
    if form in ("file", "tail"):
        path = opts if isinstance(opts, str) else o["path"]
        return stream_ndjson_files(spark, path, wrap=o.get("wrap"))
    if form == "generator":
        return stream_generator(
            spark,
            name=o.get("name", "_generated"),
            seconds=float(o.get("seconds", 1)),
        )
    if form == "http":
        from .http_input import stream_http

        endpoint = opts if isinstance(opts, str) else o.get("endpoint", "/events")
        # Default to a per-run unique spool: a fixed shared directory
        # would replay files left by a previous run into a fresh
        # checkpoint (and count them toward the 503 backlog gate).
        spool_dir = o.get("spool-dir") or tempfile.mkdtemp(prefix="cdp_spark_http_spool_")
        stream, source = stream_http(
            spark,
            spool_dir=spool_dir,
            endpoint=endpoint,
            port=int(o.get("port", 0)) or 0,
            wrap=o.get("wrap"),
        )
    elif form in ("amqp", "mqtt", "redis"):
        from .consumers import stream_broker

        stream, source = stream_broker(spark, form, opts)
    else:
        raise NotImplementedError(
            f"input form '{form}' has no streaming executor here; poll maps "
            "to an ingest bridge (cdp_spark.streaming.sources module notes)"
        )
    if closers is not None:
        closers.append(source.close)
    if metrics is not None:
        # The spool backlog is this input's queued work, and the 503 /
        # pause gate is its backpressure signal — the same numbers the
        # reference exports as queued_events / backpressure gauges
        # (src/metrics.ts:46-117).
        spool = source.spool
        metrics.register_queue_watcher(spool.backlog)
        metrics.register_backpressure_watcher(lambda: not spool.accepting())
    return stream


def _stateful_window_plan(template: PipelineTemplate):
    """If the template's first windowed step can run as the stateful
    streaming operator, return ``(pre_steps, windowed_step)``.

    Requirements (everything else falls back to per-batch windows):
    the windowed step is a count-or-time ``reduce`` (the stateful
    operator's semantics; ``flatmap`` slides by one), reachable from
    the input through a single-dependency chain of stream-safe steps
    (``match/drop`` + ``rename`` — plain filters and column ops), no
    ``match/pass`` bypass on the way, and nothing else consumes the
    raw input (the stream past the operator carries flushed windows,
    not raw events)."""
    from ..pipeline.compiler import INPUT_ALIAS

    by_name = {s.name: s for s in template.steps}
    windowed = [
        s for s in template.steps if s.window_events > 1 or s.window_seconds > 0
    ]
    if not windowed:
        return None
    win = windowed[0]
    if win.function_mode != "reduce":
        return None
    if win.pattern is not None and win.pattern_mode == "pass":
        return None
    chain: list = []
    cur = win
    while True:
        if len(cur.after) != 1:
            return None
        dep = cur.after[0]
        if dep == INPUT_ALIAS:
            break
        st = by_name.get(dep)
        if st is None:
            return None
        if st.window_events > 1 or st.window_seconds > 0:
            return None
        if st.pattern is not None and st.pattern_mode == "pass":
            return None
        if st.function_name != "rename":
            return None
        chain.append(st)
        cur = st
    pre = list(reversed(chain))
    head = pre[0].name if pre else win.name
    if any(
        INPUT_ALIAS in s.after and s.name != head for s in template.steps
    ):
        return None
    return pre, win


def run_pipeline_stream(
    template: PipelineTemplate,
    spark: Optional[SparkSession] = None,
    input_stream: Optional[DataFrame] = None,
    on_batch: Optional[Callable[[DataFrame, int], None]] = None,
    metrics: Optional[PipelineMetrics] = None,
    checkpoint_dir: Optional[str] = None,
    trigger_seconds: Optional[float] = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the pipeline as a streaming query and return it.

    ``input_stream`` overrides the template's input form (the library
    entry point, like ``input_df`` in batch).  ``on_batch`` receives
    each micro-batch's terminal output (already trace-stamped); sinks
    declared in the template run every batch regardless.  Under a
    continuous trigger the first eligible count-or-time window runs as
    the cross-batch stateful operator (see module notes).
    """
    if input_stream is None:
        if spark is None:
            raise ValueError("need spark or input_stream")
        input_stream = _input_stream(spark, template, metrics=metrics)

    # AvailableNow runs to completion and stops: per-batch assembly IS
    # the reference's close-truncation there (the final trigger flushes
    # everything), while the stateful operator would strand its last
    # partial buffer in the state store.  Cross-batch state therefore
    # engages only for continuous triggers.
    plan = None if available_now else _stateful_window_plan(template)
    applied: Optional[set] = None
    prewindowed: Optional[str] = None
    if plan is not None:
        from pyspark.sql import functions as F

        from ..operators import rename as rename_op
        from ..patterns import pattern_to_column
        from ..pipeline.compiler import window_key_column
        from .count_or_time import streaming_count_or_time

        pre_steps, win = plan
        stream = input_stream
        for st in pre_steps:
            if st.pattern is not None:
                stream = stream.filter(pattern_to_column(st.pattern, "n"))
            o = st.function_options or {}
            o = o if isinstance(o, dict) else {}
            stream = rename_op(
                stream,
                replace=o.get("replace"),
                prepend=o.get("prepend"),
                append=o.get("append"),
            )
        if win.pattern is not None:
            stream = stream.filter(pattern_to_column(win.pattern, "n"))
        input_stream = streaming_count_or_time(
            stream,
            win.window_events,
            win.window_seconds,
            # engine extension (template window.key): per-key buffers —
            # state parallelizes across executors instead of one
            # serialized task (the unkeyed reference-parity default)
            key_expr=(
                window_key_column(win.window_key)
                if win.window_key is not None
                else None
            ),
        )
        applied = {st.name for st in pre_steps}
        prewindowed = win.name

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # One wall-clock read per micro-batch = the reference's
        # batch-shared arrivalTimestamp (src/event.ts:198-206).
        arrival = time.time()
        # Under the stateful path batch_df is the operator's flushed
        # rows; the bind rebuilds events, window and order from them.
        result = compile_pipeline(
            batch_df.sparkSession,
            template,
            input_df=batch_df,
            arrival_ts=arrival,
            observe=metrics is not None,
            applied_steps=applied,
            prewindowed_step=prewindowed,
        )
        consume = None if on_batch is None else (lambda output: on_batch(output, epoch_id))
        # foreachBatch hands over a plan, not data: the stateful flush
        # below it runs once per action on the batch.  Persist it for
        # the trigger only when a second action will read it.
        held = result.actions(consume is not None) > 1
        if held:
            batch_df.persist()
        try:
            result.execute(consume)
        finally:
            if held:
                batch_df.unpersist()
        if metrics is not None:
            metrics.update_from(result)
        # Forward dead letters when DEAD_LETTER_TARGET is configured
        # (src/dead-letter.ts:19-32); no-op otherwise.
        ship_dead_letters(result.dead_letters)

    return start_foreach_batch(
        input_stream, process_batch, checkpoint_dir, available_now,
        trigger_seconds,
    )


class PipelineRunner:
    """Managed pipeline lifecycle (src/api.ts:318-441).

    Wraps the streaming query with the reference's health/shutdown
    contract:

    - ``healthy()``: the query is active and every registered health
      check passes — the healthz document the HTTP layer serves
      (src/input/http.ts:126-139 checks its processors the same way).
    - A monitor thread polls health every ``health_interval`` seconds
      and triggers the ordered drain when a check fails
      (api.ts:409-421: "draining queues and shutting down").
    - ``close()``: ordered drain (api.ts:422-431) — stop accepting
      input (server closers run first), give the query
      ``drain_timeout`` seconds to process what already arrived, then
      stop it.  Idempotent.
    """

    def __init__(
        self,
        query: StreamingQuery,
        input_closers: Optional[list[Callable[[], None]]] = None,
        health_checks: Optional[list[Callable[[], bool]]] = None,
        health_interval: float = 0.0,
    ):
        import threading

        self.query = query
        self._input_closers = list(input_closers or [])
        self._health_checks = list(health_checks or [])
        self._closed = threading.Event()
        self._monitor: Optional[threading.Thread] = None
        if health_interval > 0:
            def monitor() -> None:
                while not self._closed.wait(health_interval):
                    if not self.healthy():
                        self.close()
                        return

            self._monitor = threading.Thread(target=monitor, daemon=True)
            self._monitor.start()

    def healthy(self) -> bool:
        if self._closed.is_set() or not self.query.isActive:
            return False
        try:
            return all(check() for check in self._health_checks)
        except Exception:
            _log.warning("health check raised; reporting unhealthy", exc_info=True)
            return False

    def close(self, drain_timeout: float = 5.0) -> None:
        if self._closed.is_set():
            return
        self._closed.set()
        # 1. stop accepting input
        for closer in self._input_closers:
            try:
                closer()
            except Exception:
                _log.warning("input closer raised", exc_info=True)
        # 2. drain: let in-flight micro-batches finish within the
        #    timeout (INPUT_DRAIN_TIMEOUT analog, api.ts:423-426)
        deadline = time.time() + drain_timeout
        try:
            while self.query.isActive and time.time() < deadline:
                progress = self.query.status
                if not progress.get("isDataAvailable", False) and not progress.get(
                    "isTriggerActive", False
                ):
                    break
                time.sleep(0.2)
        except Exception:
            _log.warning("drain poll raised", exc_info=True)
        # 3. stop the query — mid-trigger if the drain timed out: the
        #    stop interrupts the batch body, and a batch it had
        #    persisted can stay registered in the cache
        try:
            if self.query.isActive:
                if self.query.status.get("isTriggerActive", False):
                    last = self.query.lastProgress
                    _log.warning(
                        "stopping the query mid-trigger: epoch %d still running after "
                        "drain_timeout=%.1fs",
                        last["batchId"] + 1 if last else 0,
                        drain_timeout,
                    )
                self.query.stop()
        except Exception:
            _log.warning("query stop raised", exc_info=True)


def run_pipeline_managed(
    template: PipelineTemplate,
    spark: SparkSession,
    health_checks: Optional[list[Callable[[], bool]]] = None,
    health_interval: float = 0.0,
    **kwargs,
) -> PipelineRunner:
    """Start the pipeline from its template input form and return the
    managed runner (query + ordered-drain close + health monitor)."""
    closers: list[Callable[[], None]] = []
    input_stream = _input_stream(
        spark, template, closers=closers, metrics=kwargs.get("metrics")
    )
    query = run_pipeline_stream(template, spark=spark, input_stream=input_stream, **kwargs)
    return PipelineRunner(
        query,
        input_closers=closers,
        health_checks=health_checks,
        health_interval=health_interval,
    )
