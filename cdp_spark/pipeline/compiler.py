"""Compile a validated PipelineTemplate onto a DataFrame DAG (batch).

Reference execution model (src/pipeline.ts:109-254): a central bus
routes every event from a step to all of its successors; fan-in is the
implicit union of predecessors; terminal-step output leaves the
pipeline.  Spark mapping: each step is a DataFrame expression over the
union of its predecessors' outputs — there is no bus, no queues, no
backpressure to reimplement; Catalyst sees the whole DAG and optimizes
across step boundaries (shared scans, pushed filters, collapsed
projections).

Lower once, bind per run.  CDP lowers a pipeline once and then streams
events through it; here :func:`lower` walks the template once (memoized
per template) and builds every step's Columns, SQL expressions and UDF
objects, and :func:`bind` applies them to one input frame.  Each
DataFrame operation makes Catalyst analyse the whole growing plan
again, so bind fuses each step's column rewrites (trace stamps, the
window column, the order renumber, the final projection) into one
``select``; the drainbench template binds with eight operations.  The
streaming runner binds every micro-batch through
:func:`compile_pipeline`, the one entry point.

Routing semantics (src/step.ts:39-54, src/api.ts:346-351):
- match/drop: non-matching events are dropped from this branch,
- match/pass: non-matching events bypass the function and are
  re-united with its output.

Ordering: the reference preserves arrival order through its queues.
Batch mode materializes it as the ``_ord`` column (input order), and
re-derives it after any step that regroups or produces events.  A
global order is inherently serial — it exists for reference parity and
tests; scale deployments window per key (see cdp_spark.windows notes)
or use the relational surface.
"""

from __future__ import annotations

import weakref
from collections import Counter
from dataclasses import dataclass, field, replace
from typing import Callable, Optional

from pyspark import SparkContext, StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..events import (
    TRACE_TYPE,
    event_timestamp,
    new_event_trace_sql,
    old_event_trace,
    read_ndjson,
)
from ..io.sinks import (
    SinkLines,
    make_broker_action,
    make_expose_action,
    make_file_action,
    make_file_dir_action,
    make_http_action,
    make_http_value_action,
    make_stdout_action,
)
from ..operators import deduplicate, keep, validate_rename
from ..operators.keep_when import compile_schema_predicate
from ..operators.transform import REPLY_ORDER, HttpExchange, ValueEvents, ValueProgram
from ..patterns import pattern_to_column
from ..utils import get_signature
from ..windows import (
    WINDOW_COL,
    count_or_time_windows,
    sliding_count_windows,
    tumbling_count_windows,
)
from .template import INPUT_ALIAS, PipelineTemplate, StepDef

ORDER_COL = "_ord"
EVENT_COLS = ("n", "d", "t", ORDER_COL)

# Sinks whose action fills the observations upstream of what it reads
# (collect/toArrow and writes do; foreachPartition and toLocalIterator
# do not — see README "Per-trigger work").
_FILLING_SINKS = ("send-stdout", "send-file")


@dataclass
class _Sink:
    name: str
    action: Callable[[], None]
    # the step input the action executes
    frame: DataFrame
    # id() of every sink frame the action executes, its own included
    reads: frozenset
    # observations the action fills
    fills: frozenset


@dataclass
class PipelineResult:
    """Compiled pipeline: per-step outputs, terminal output, sinks."""

    template: PipelineTemplate
    signature: str
    step_outputs: dict[str, DataFrame]
    output: DataFrame
    sinks: list[_Sink] = field(default_factory=list)
    # Input lines that failed event validation (the reference's
    # dead-letter channel, src/dead-letter.ts:19-32): (line, reason).
    dead_letters: Optional[DataFrame] = None
    # step name (or "$input") -> Observation, populated when compiled
    # with observe=True; values readable after a plan that holds them
    # executed.  Steps that provably pass their input's rows through
    # (a sink or rename right after one step) share its Observation.
    observations: dict[str, "Observation"] = field(default_factory=dict)
    # Frames that more than one branch reads (a step, or the input,
    # with several successors), or that one action executes twice (a
    # sorting sink's frame).  ``execute`` persists them.
    shared: list[DataFrame] = field(default_factory=list)

    def run_sinks(self) -> None:
        for sink in self.sinks:
            sink.action()

    def runs_output(self, consume: bool) -> bool:
        """Whether :meth:`execute` runs the output: when something
        consumes it, or when an observation sits where no sink's action
        fills it."""
        filled = frozenset().union(*(s.fills for s in self.sinks))
        return consume or any(name not in filled for name in self.observations)

    def actions(self, consume: bool) -> int:
        """Spark actions :meth:`execute` runs."""
        return len(self.sinks) + self.runs_output(consume)

    def _held(self, runs_output: bool) -> list[DataFrame]:
        held = {id(df): df for df in self.shared}
        for sink in self.sinks:
            readers = runs_output + sum(id(sink.frame) in s.reads for s in self.sinks)
            if readers > 1:
                held.setdefault(id(sink.frame), sink.frame)
        return list(held.values())

    def execute(self, consume: Optional[Callable[[DataFrame], None]] = None) -> None:
        """Run the sinks, then ``consume(output)`` — or, with no
        consumer, run the output only if an observation is still
        unfilled.  A DataFrame is a plan, and each action re-executes it
        (window flushes, Jsonnet reduces, HTTP calls) unless it is
        cached, so every frame that more than one action (or branch)
        reads is persisted for the duration, and nothing else is: with
        one sink and no consumer the sink's action is the only job.
        Spark's CacheManager substitutes cached plans when an action is
        planned, so frames built before the ``persist`` read the cache.
        The cache is released whether the run succeeds or raises."""
        runs_output = self.runs_output(consume is not None)
        held: list[DataFrame] = []
        try:
            for df in self._held(runs_output):
                # two sinks after one step share one cached plan
                if df.storageLevel == StorageLevel.NONE:
                    held.append(df.persist())
            self.run_sinks()
            if consume is not None:
                consume(self.output)
            elif runs_output:
                self.output.count()
        finally:
            for df in held:
                df.unpersist()


# ------------------------------------------------------------------ lower


def window_key_column(spec: str) -> Column:
    """Compile a template ``window.key`` (engine extension, see
    template._coerce_window) to a Column over the event frame:
    ``name`` keys on the event name, ``data.<path>`` on a JSON payload
    field (missing -> '' so null payloads share one buffer)."""
    if spec == "name":
        return F.col("n")
    path = spec[len("data."):]
    return F.coalesce(
        F.get_json_object(F.col("d"), "$." + path).cast("string"), F.lit("")
    )


def _window_is_multi(step: StepDef) -> bool:
    return step.window_events > 1 or step.window_seconds > 0


def _apply_windowing(df: DataFrame, step: StepDef) -> DataFrame:
    """Multi-event windows (count, count-or-time, sliding) within one
    frame; adds WINDOW_COL."""
    partition_by = None
    if step.window_key is not None:
        # Keyed scale twin: per-key buffers.  Window ids from the
        # keyed windowers restart per key, so re-qualify them with the
        # key into a STRING window id — downstream only ever groups /
        # orders by WINDOW_COL, never does arithmetic on it.
        df = df.withColumn("_wkey", window_key_column(step.window_key))
        partition_by = ["_wkey"]
    if step.function_mode == "flatmap":
        # Sliding-by-1, optionally truncated by the per-buffer timeout.
        if step.window_seconds > 0:
            ts = F.coalesce(event_timestamp(df), F.lit(0.0))
            df_ts = df.withColumn("_wts", ts)
            out = sliding_count_windows(
                df_ts, step.window_events, ORDER_COL,
                partition_by=partition_by,
                ts_col="_wts", max_seconds=step.window_seconds,
            ).drop("_wts")
        else:
            out = sliding_count_windows(
                df, step.window_events, ORDER_COL, partition_by=partition_by
            )
    elif step.window_seconds > 0:
        ts = F.coalesce(event_timestamp(df), F.lit(0.0))
        df_ts = df.withColumn("_wts", ts)
        out = count_or_time_windows(
            df_ts, step.window_events, step.window_seconds, "_wts", ORDER_COL,
            partition_by=partition_by,
        ).drop("_wts")
    else:
        out = tumbling_count_windows(
            df, step.window_events, ORDER_COL, partition_by=partition_by
        )
    if partition_by is not None:
        out = out.withColumn(
            WINDOW_COL,
            F.concat_ws("\x1f", F.col("_wkey"), F.col(WINDOW_COL).cast("string")),
        ).drop("_wkey")
    return out


def _renumber_column(*keys: Column) -> Column:
    """A dense arrival order re-derived after windows multiplied or
    reordered rows: order by (window, prior order)."""
    return F.row_number().over(Window.partitionBy().orderBy(*keys)).alias(ORDER_COL)


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


@dataclass
class _Bound:
    """One bound frame and what executing it does."""

    df: DataFrame
    # the observation whose count is this frame's row count
    obs: Optional[str] = None
    # observations upstream, filled when the frame executes
    observed: frozenset = frozenset()
    # id() of the sink frames upstream
    reads: frozenset = frozenset()
    # ORDER_COL is 1..N with no gaps, and the frame is exactly EVENT_COLS
    dense: bool = False


class _LoweredStep:
    """One step's Columns, expressions and UDF objects; :meth:`bind`
    applies them to the step's source frame."""

    def __init__(self, lowered: "Lowered", step: StepDef):
        self.step = step
        fn, opts = step.function_name, step.function_options
        o = opts if isinstance(opts, dict) else {}
        template = lowered.template
        self.pred = self.not_pred = None
        if step.pattern is not None:
            self.pred = pattern_to_column(step.pattern, "n")
            if step.pattern_mode == "pass":
                self.not_pred = ~self.pred
        self.is_sink = (
            fn.startswith("send-") and not fn.startswith("send-receive")
        ) or fn == "expose-http"
        # expose-http and the broker sinks group the frame they are
        # handed by a physical window column at action time
        self.materialize_window = self.is_sink and fn not in (
            "send-stdout", "send-file", "send-http"
        )
        multi = _window_is_multi(step)
        # the column holding each row's window id: a 1-event window's id
        # is the row's order (src/api.ts:345), so it needs no column
        window_col = WINDOW_COL if multi or self.materialize_window else ORDER_COL
        self.window_col = window_col
        # the step's output holds exactly its one source's rows, so its
        # count is the source's
        self.shares_count = (
            (fn == "rename" or self.is_sink) and self.pred is None and not multi
            and len(step.after) == 1
        )
        self.ord_col = F.col(ORDER_COL)
        n, d, t = F.col("n"), F.col("d"), F.col("t")
        order_keys: tuple = (
            (F.col(WINDOW_COL), F.col(ORDER_COL)) if window_col == WINDOW_COL else (F.col(ORDER_COL),)
        )
        if fn == "rename":
            validate_rename(o.get("replace"), o.get("prepend"), o.get("append"))
            if o.get("replace") is not None:
                n = F.lit(o["replace"])
            else:
                n = F.concat(F.lit(o.get("prepend") or ""), F.col("n"), F.lit(o.get("append") or ""))
        elif fn == "keep-when":
            self.keep_pred, _ = compile_schema_predicate(opts)
        elif fn in ("send-receive-jq", "send-receive-jsonnet"):
            expr = opts if isinstance(opts, str) else opts[fn[len("send-receive-"):] + "-expr"]
            wrap = None if isinstance(opts, str) else opts.get("wrap")
            if fn == "send-receive-jq":
                self.program = ValueProgram(
                    jq_expr=expr, jq_prelude=template.jq_prelude,
                    order_col=ORDER_COL, window_col=window_col,
                )
            else:
                self.program = ValueProgram(
                    jsonnet_expr=expr, jsonnet_prelude=template.jsonnet_prelude,
                    order_col=ORDER_COL, window_col=window_col,
                )
            self.events = ValueEvents(wrap)
        elif fn == "send-receive-http":
            o2 = {"target": opts} if isinstance(opts, str) else opts
            self.exchange = HttpExchange(
                o2["target"],
                order_col=ORDER_COL,
                window_col=window_col,
                method=o2.get("method", "POST"),
                headers=o2.get("headers"),
                jq_expr=o2.get("jq-expr"),
                jq_prelude=template.jq_prelude,
                jsonnet_expr=o2.get("jsonnet-expr"),
                jsonnet_prelude=template.jsonnet_prelude,
            )
            self.events = ValueEvents(o2.get("wrap"), order=REPLY_ORDER)
        elif fn in _FILLING_SINKS + ("send-http",):
            self.lines = SinkLines(
                ORDER_COL,
                jq_expr=o.get("jq-expr"),
                jq_prelude=template.jq_prelude,
                jsonnet_expr=o.get("jsonnet-expr"),
                jsonnet_prelude=template.jsonnet_prelude,
                window_col=window_col,
            )
        if fn.startswith("send-receive"):
            # produced events: the re-emitted trace stamp and a dense
            # order over (window order, output index[, reply line])
            f = self.events.fields
            n, d = f["n"], f["d"]
            t = old_event_trace(f["t"], template.name, lowered.signature)
            order_keys = (self.events.order_key,)
        self.out_cols = [n.alias("n"), d.alias("d"), t.alias("t"), _renumber_column(*order_keys)]
        if multi:
            # The stateful count-or-time operator's flushed rows
            # (count_or_time.FLUSH_SCHEMA) -> (_w, _ord), for the
            # streaming runner's prewindowed step; flush order = (window
            # id, index within window).  Keyed windows re-qualify the
            # per-key window ids with the key (string ids, the batch
            # windower's convention) and take a dense arrival order
            # over the batch's flushed rows — cross-key order is
            # unspecified by the extension, and the row_number is over
            # already-flushed windows (small), the same parity trade
            # the batch DAG documents.
            if step.window_key is not None:
                w = F.concat_ws("\x1f", F.col("key"), F.col("w").cast("string"))
                o = F.row_number().over(Window.orderBy("key", "w", "i")).cast("long")
            else:
                w = F.col("w")
                o = F.col("w") * F.lit(1 << 32) + F.col("i")
            self.flush_cols = [w.alias(WINDOW_COL), o.alias(ORDER_COL)]
        # the same projection when the order needs no renumber
        self.keep_order_cols = self.out_cols[:3] + [F.col(ORDER_COL)]

    def bind(self, b: "_Binder", src: _Bound, prewindowed: bool) -> _Bound:
        step = self.step
        df = src.df
        passed = None
        # The streaming runner filtered a prewindowed step's pattern
        # stream-side.
        if self.pred is not None and not prewindowed:
            passed = df.filter(self.not_pred) if self.not_pred is not None else None
            df = df.filter(self.pred)
        # a renumber over (order) of a dense order, with no row dropped,
        # is the identity
        renumber = not (
            src.dense and passed is None and df is src.df and self.window_col == ORDER_COL
        )
        if not prewindowed:
            # The streaming runner's prewindowed step consumes the
            # WINDOW_COL/ORDER_COL already on its input.
            if _window_is_multi(step):
                df = _apply_windowing(df, step)
            elif self.materialize_window:
                df = df.withColumn(WINDOW_COL, self.ord_col)

        fn = step.function_name
        if self.is_sink:
            if passed is not None:
                # match/pass: the step's count includes the bypass, so
                # it sits on the output below, not on what the sink reads
                frame = _Bound(df, observed=src.observed, reads=src.reads)
            elif self.shares_count and src.obs is not None and not prewindowed:
                frame = b.share(step.name, replace(src, df=df))
            else:
                frame = b.observe(step.name, _Bound(df, observed=src.observed, reads=src.reads))
            frame = replace(frame, reads=frame.reads | {id(frame.df)})
            fills = frame.observed if fn in _FILLING_SINKS else frozenset()
            if self.materialize_window:
                # expose-http and the broker sinks sort their frame, and
                # the sort's range-partition sample executes it once more
                b.shared.append(frame.df)
            action = self._sink_action(b.lowered.template, frame.df)
            b.sinks.append(_Sink(step.name, action, frame.df, frame.reads, fills))
            if not renumber:
                return replace(frame, dense=True)
            out = frame.df.select(*self.out_cols)
            if passed is None:
                return replace(frame, df=out, dense=True)
            out = out.unionByName(passed.select(*EVENT_COLS))
            return b.observe(step.name, _Bound(out, None, frame.observed, frame.reads))

        if fn == "rename" or fn == "keep-when":
            if fn == "keep-when":
                df = df.filter(self.keep_pred)
        elif fn == "deduplicate":
            o = step.function_options or {}
            df = deduplicate(
                df,
                ORDER_COL,
                consider_name=o.get("consider-name", True),
                consider_data=o.get("consider-data", True),
                consider_trace=o.get("consider-trace", False),
                window_col=self.window_col,
            )
        elif fn == "keep":
            opts = step.function_options
            first, last = (opts, None) if isinstance(opts, int) else (opts.get("first"), opts.get("last"))
            df = keep(df, ORDER_COL, first=first, last=last, window_col=self.window_col)
        elif fn == "send-receive-http":
            df = self.events.bind(self.exchange.replies(df))
        else:
            df = self.events.bind(self.program.produced(df))

        keep_order = fn == "rename" and not renumber
        out = df.select(*(self.keep_order_cols if keep_order else self.out_cols))
        if passed is not None:
            out = out.unionByName(passed.select(*EVENT_COLS))
        if self.shares_count and src.obs is not None:
            return b.share(step.name, _Bound(out, src.obs, src.observed, src.reads, dense=True))
        return b.observe(step.name, _Bound(out, None, src.observed, src.reads, dense=passed is None))

    def _sink_action(self, template: PipelineTemplate, df: DataFrame) -> Callable[[], None]:
        """Sinks forward events unchanged and register a side-effect
        action (fork shape, src/step-functions/send-file.ts:121-135)."""
        step = self.step
        fn = step.function_name
        opts = step.function_options
        o = opts if isinstance(opts, dict) else {}
        if fn == "send-stdout":
            return make_stdout_action(self.lines.bind(df))
        if fn == "send-file":
            path = opts if isinstance(opts, str) else o["path"]
            # Per-step `spark-dir` picks the executor-parallel directory
            # writer; the driver-side single-file append is the
            # reference-parity default for local/debug use (exact
            # byte-order append to ONE file).
            if o.get("spark-dir"):
                return make_file_dir_action(self.lines.bind(df), path)
            return make_file_action(self.lines.bind(df), path)
        if fn == "send-http":
            target = opts if isinstance(opts, str) else o["target"]
            if self.lines.program is not None:
                # one request per produced value, raw string bodies
                return make_http_value_action(
                    self.lines.bind(df), target, method=o.get("method", "POST"),
                    headers=o.get("headers"),
                )
            return make_http_action(
                self.lines.bind(df), target, method=o.get("method", "POST"),
                headers=o.get("headers"),
            )
        if fn == "expose-http":
            return make_expose_action(
                df,
                step.name,
                options=o,
                jq_prelude=template.jq_prelude,
                jsonnet_prelude=template.jsonnet_prelude,
            )
        return make_broker_action(
            fn,
            df,
            options=o if isinstance(opts, dict) else {"url": opts},
            pipeline_name=template.name,
            step_name=step.name,
            jq_expr=o.get("jq-expr"),
            jq_prelude=template.jq_prelude,
            jsonnet_expr=o.get("jsonnet-expr"),
            jsonnet_prelude=template.jsonnet_prelude,
        )


class Lowered:
    """A template lowered once (see :func:`lower`)."""

    def __init__(self, template: PipelineTemplate):
        self.template = template
        self.signature = get_signature(template.raw)
        order: list[StepDef] = []
        done = {INPUT_ALIAS}
        remaining = list(template.steps)
        while remaining:
            ready = [s for s in remaining if all(dep in done for dep in s.after)]
            if not ready:  # pragma: no cover — template validation rejects cycles
                raise ValueError("pipeline steps form a cycle")
            for s in ready:
                order.append(s)
                done.add(s.name)
                remaining.remove(s)
        self.steps = [_LoweredStep(self, s) for s in order]
        self.successors = Counter(dep for s in template.steps for dep in s.after)
        self.terminals = [s.name for s in template.steps if s.name not in self.successors]
        self.count = F.count(F.lit(1)).alias("events")
        self.mono_order = F.monotonically_increasing_id().alias(ORDER_COL)
        self.event_cols = [F.col(c) for c in EVENT_COLS]


_LOWERED: dict[int, tuple] = {}


def lower(template: PipelineTemplate) -> Lowered:
    """Lower ``template`` once per process (and SparkContext): check
    its programs, and build every step's Columns, SQL expressions and
    UDF objects.  A template must not be mutated after it is first
    compiled."""
    key = id(template)
    sc = SparkContext._active_spark_context
    hit = _LOWERED.get(key)
    if hit is not None and hit[0]() is template and hit[1] is sc:
        return hit[2]
    lowered = Lowered(template)
    ref = weakref.ref(template, lambda _r: _LOWERED.pop(key, None))
    _LOWERED[key] = (ref, sc, lowered)
    return lowered


# ------------------------------------------------------------------- bind


class _Binder:
    def __init__(self, lowered: Lowered, observe: bool):
        self.lowered = lowered
        self.enabled = observe
        self.observations: dict[str, Observation] = {}
        self.sinks: list[_Sink] = []
        self.shared: list[DataFrame] = []

    def observe(self, name: str, b: _Bound) -> _Bound:
        """Observed metrics ride the job that executes the plan — the
        reference's pipeline/step event counters
        (src/metrics.ts:30-117) at zero extra passes."""
        if not self.enabled:
            return b
        obs = Observation()
        self.observations[name] = obs
        return replace(b, df=b.df.observe(obs, self.lowered.count), obs=name,
                       observed=b.observed | {name})

    def share(self, name: str, b: _Bound) -> _Bound:
        """``name`` counts the rows of ``b``, which ``b.obs`` counts."""
        if not self.enabled:
            return b
        self.observations[name] = self.observations[b.obs]
        return replace(b, observed=b.observed | {name})


def bind(
    lowered: Lowered,
    input_df: DataFrame,
    arrival_ts: Optional[float] = None,
    observe: bool = False,
    applied_steps: Optional[set] = None,
    prewindowed_step: Optional[str] = None,
) -> PipelineResult:
    """Apply a lowered template to one input frame."""
    template = lowered.template

    def stamped_trace(trace_sql: str) -> Column:
        sql = new_event_trace_sql(trace_sql, template.name, lowered.signature, arrival_ts)
        return F.expr(sql + " AS t")

    if prewindowed_step is not None:
        ls = next(ls for ls in lowered.steps if ls.step.name == prewindowed_step)
        stamped_df = input_df.select(
            "n",
            "d",
            stamped_trace(f"from_json(t_json, '{TRACE_TYPE.simpleString()}')"),
            *ls.flush_cols,
        )
    else:
        cols = input_df.columns
        t = stamped_trace("`t`")
        stamped_df = input_df.select(
            *[t if c == "t" else _quoted(c) for c in cols],
            *([] if ORDER_COL in cols else [lowered.mono_order]),
        )

    b = _Binder(lowered, observe)
    stamped = b.observe(INPUT_ALIAS, _Bound(stamped_df))
    outputs: dict[str, _Bound] = {}
    for ls in lowered.steps:
        step = ls.step
        if applied_steps and step.name in applied_steps:
            # already executed stream-side by the runner: identity
            # pass-through of the (filtered, renamed) input
            outputs[step.name] = b.share(step.name, stamped)
            continue
        sources = [stamped if dep == INPUT_ALIAS else outputs[dep] for dep in step.after]
        source = sources[0]
        for extra in sources[1:]:
            source = _Bound(
                source.df.unionByName(extra.df),
                observed=source.observed | extra.observed,
                reads=source.reads | extra.reads,
            )
        outputs[step.name] = ls.bind(b, source, prewindowed=step.name == prewindowed_step)

    bound = dict(outputs, **{INPUT_ALIAS: stamped})
    fanned_out = [bound[n].df for n, k in lowered.successors.items() if k > 1 and n in bound]
    if lowered.terminals:
        output = outputs[lowered.terminals[0]].df
        for name in lowered.terminals[1:]:
            output = output.unionByName(outputs[name].df)
    else:
        output = stamped.df.select(*lowered.event_cols)

    return PipelineResult(
        template=template,
        signature=lowered.signature,
        step_outputs={name: o.df for name, o in outputs.items()},
        output=output,
        sinks=b.sinks,
        observations=b.observations,
        shared=b.shared + fanned_out,
    )


def compile_pipeline(
    spark: SparkSession,
    template: PipelineTemplate,
    input_df: Optional[DataFrame] = None,
    arrival_ts: Optional[float] = None,
    observe: bool = False,
    applied_steps: Optional[set] = None,
    prewindowed_step: Optional[str] = None,
) -> PipelineResult:
    """Lower the template (once; see :func:`lower`) and bind it to the
    input.  ``input_df`` overrides the template's input form (the
    library/test entry, mirroring how the reference tests drive
    pipelines with synthetic channels, __tests__/api.ts:24-56);
    otherwise batch-supported forms are ``file``/``tail`` (NDJSON path
    with optional wrap) and ``stdin``.

    ``applied_steps`` / ``prewindowed_step`` support the stateful
    streaming runner: steps the runner already applied stream-side
    (pattern filters, renames) pass input through unchanged, and
    ``input_df`` is then the stateful count-or-time operator's flushed
    rows (count_or_time.FLUSH_SCHEMA), whose windows the named step
    consumes instead of re-windowing within the micro-batch.

    Nothing is persisted or executed here: :meth:`PipelineResult.execute`
    runs the sinks and the output."""
    lowered = lower(template)
    dead = None
    if input_df is None:
        if template.input_form in ("file", "tail"):
            o = template.input_options or {}
            path = o if isinstance(o, str) else o["path"]
            wrap = None if isinstance(o, str) else o.get("wrap")
            input_df, dead = read_ndjson(spark, path, wrap=wrap)
        elif template.input_form == "stdin":
            from ..sources.stdin import read_stdin

            o = template.input_options or {}
            wrap = o.get("wrap") if isinstance(o, dict) else None
            input_df, dead = read_stdin(spark, wrap=wrap)
        else:
            raise NotImplementedError(
                f"input form '{template.input_form}' has no batch executor; "
                "provide input_df or use the streaming mode"
            )
    result = bind(lowered, input_df, arrival_ts, observe, applied_steps, prewindowed_step)
    result.dead_letters = dead
    return result
