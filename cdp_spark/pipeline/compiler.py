"""Compile a validated PipelineTemplate onto a DataFrame DAG (batch).

Reference execution model (src/pipeline.ts:109-254): a central bus
routes every event from a step to all of its successors; fan-in is the
implicit union of predecessors; terminal-step output leaves the
pipeline.  Spark mapping: each step is a DataFrame expression over the
union of its predecessors' outputs — there is no bus, no queues, no
backpressure to reimplement; Catalyst sees the whole DAG and optimizes
across step boundaries (shared scans, pushed filters, collapsed
projections).

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

from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..events import read_ndjson, stamp_new_events, stamp_old_events, event_timestamp
from ..operators import deduplicate, keep, keep_when, rename
from ..operators.transform import send_receive_http, send_receive_jq, send_receive_jsonnet
from ..patterns import pattern_to_column
from ..utils import get_signature
from ..windows import (
    WINDOW_COL,
    count_or_time_windows,
    sliding_count_windows,
    tumbling_count_windows,
)
from ..io.sinks import (
    make_broker_action,
    make_expose_action,
    make_file_action,
    make_file_dir_action,
    make_http_action,
    make_http_value_action,
    make_stdout_action,
    sink_payload_lines,
)
from .template import INPUT_ALIAS, PipelineTemplate, StepDef

ORDER_COL = "_ord"


@dataclass
class PipelineResult:
    """Compiled pipeline: per-step outputs, terminal output, sinks."""

    template: PipelineTemplate
    signature: str
    step_outputs: dict[str, DataFrame]
    output: DataFrame
    sinks: list[tuple[str, Callable[[], None]]] = field(default_factory=list)
    # Input lines that failed event validation (the reference's
    # dead-letter channel, src/dead-letter.ts:19-32): (line, reason).
    dead_letters: Optional[DataFrame] = None
    # step name (or "$input") -> Observation, populated when compiled
    # with observe=True; values readable after output executes.
    observations: dict[str, "Observation"] = field(default_factory=dict)
    # Frames that more than one action reads: each sink step's input
    # (its sink action and the forwarded output) and every step output
    # with more than one successor.  ``execute`` persists them.
    shared: list[DataFrame] = field(default_factory=list)

    def run_sinks(self) -> None:
        for _name, action in self.sinks:
            action()

    def execute(self, consume: Callable[[DataFrame], None]) -> None:
        """Run the sinks, then ``consume(output)``, with every shared
        frame persisted for the duration, so each operator runs once:
        a DataFrame is a plan, and each action re-executes it (window
        flushes, Jsonnet reduces, HTTP calls) unless it is cached.
        Spark's CacheManager substitutes cached plans when an action is
        planned, so the sink and output frames built before the
        ``persist`` read the cache.  The cache is released whether the
        run succeeds or raises."""
        held: list[DataFrame] = []
        try:
            for df in self.shared:
                # two sinks after one step share one cached plan
                if df.storageLevel == StorageLevel.NONE:
                    held.append(df.persist())
            self.run_sinks()
            consume(self.output)
        finally:
            for df in held:
                df.unpersist()


@dataclass
class _Ctx:
    spark: SparkSession
    template: PipelineTemplate
    signature: str
    sinks: list[tuple[str, Callable[[], None]]]
    shared: list[DataFrame] = field(default_factory=list)


def _with_order(df: DataFrame) -> DataFrame:
    if ORDER_COL in df.columns:
        return df
    return df.withColumn(ORDER_COL, F.monotonically_increasing_id())


def _renumber(df: DataFrame) -> DataFrame:
    """Re-derive a dense arrival order after windows multiplied or
    reordered rows: order by (window, prior order)."""
    keys = [c for c in (WINDOW_COL, ORDER_COL) if c in df.columns]
    w = Window.partitionBy().orderBy(*[F.col(k) for k in keys])
    return (
        df.withColumn("_new_ord", F.row_number().over(w))
        .drop(*[c for c in (WINDOW_COL, ORDER_COL) if c in df.columns])
        .withColumnRenamed("_new_ord", ORDER_COL)
    )


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


def _apply_windowing(df: DataFrame, step: StepDef) -> DataFrame:
    if step.window_events == 1 and step.window_seconds <= 0:
        # Default 1-event vectors (src/api.ts:345): window id == order.
        return df.withColumn(WINDOW_COL, F.col(ORDER_COL))
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


def _window_is_multi(step: StepDef) -> bool:
    return step.window_events > 1 or step.window_seconds > 0


def _apply_function(ctx: _Ctx, step: StepDef, df: DataFrame) -> DataFrame:
    fn, opts = step.function_name, step.function_options
    if fn == "rename":
        out = rename(
            df,
            replace=opts.get("replace"),
            prepend=opts.get("prepend"),
            append=opts.get("append"),
        )
    elif fn == "deduplicate":
        o = opts or {}
        out = deduplicate(
            df,
            ORDER_COL,
            consider_name=o.get("consider-name", True),
            consider_data=o.get("consider-data", True),
            consider_trace=o.get("consider-trace", False),
        )
    elif fn == "keep":
        if isinstance(opts, int):
            out = keep(df, ORDER_COL, first=opts)
        else:
            out = keep(df, ORDER_COL, first=opts.get("first"), last=opts.get("last"))
    elif fn == "keep-when":
        out = keep_when(df, opts)
    elif fn == "send-receive-jq":
        expr = opts if isinstance(opts, str) else opts["jq-expr"]
        wrap = None if isinstance(opts, str) else opts.get("wrap")
        out = send_receive_jq(
            df, expr, order_col=ORDER_COL, prelude=ctx.template.jq_prelude, wrap=wrap
        )
        out = stamp_old_events(out, ctx.template.name, ctx.signature)
    elif fn == "send-receive-jsonnet":
        expr = opts if isinstance(opts, str) else opts["jsonnet-expr"]
        wrap = None if isinstance(opts, str) else opts.get("wrap")
        out = send_receive_jsonnet(
            df, expr, order_col=ORDER_COL, prelude=ctx.template.jsonnet_prelude, wrap=wrap
        )
        out = stamp_old_events(out, ctx.template.name, ctx.signature)
    elif fn == "send-receive-http":
        if isinstance(opts, str):
            o2: dict = {"target": opts}
        else:
            o2 = opts
        out = send_receive_http(
            df,
            o2["target"],
            order_col=ORDER_COL,
            method=o2.get("method", "POST"),
            headers=o2.get("headers"),
            wrap=o2.get("wrap"),
            jq_expr=o2.get("jq-expr"),
            jq_prelude=ctx.template.jq_prelude,
            jsonnet_expr=o2.get("jsonnet-expr"),
            jsonnet_prelude=ctx.template.jsonnet_prelude,
        )
        out = stamp_old_events(out, ctx.template.name, ctx.signature)
    elif fn.startswith("send-") or fn == "expose-http":
        out = _attach_sink(ctx, step, df)
    else:  # pragma: no cover — template validation rejects unknowns
        raise ValueError(f"unknown step function {fn}")
    return out


def _attach_sink(ctx: _Ctx, step: StepDef, df: DataFrame) -> DataFrame:
    """Sinks forward events unchanged and register a side-effect
    action (fork shape, src/step-functions/send-file.ts:121-135)."""
    fn = step.function_name
    opts = step.function_options
    o = opts if isinstance(opts, dict) else {}
    lines = sink_payload_lines(
        df,
        ORDER_COL,
        jq_expr=o.get("jq-expr"),
        jq_prelude=ctx.template.jq_prelude,
        jsonnet_expr=o.get("jsonnet-expr"),
        jsonnet_prelude=ctx.template.jsonnet_prelude,
    )
    if fn == "send-stdout":
        action = make_stdout_action(lines)
    elif fn == "send-file":
        path = opts if isinstance(opts, str) else o["path"]
        # Per-step `spark-dir` picks the executor-parallel directory
        # writer; the driver-side single-file append is the
        # reference-parity default for local/debug use (exact
        # byte-order append to ONE file).
        action = (
            make_file_dir_action(lines, path)
            if o.get("spark-dir")
            else make_file_action(lines, path)
        )
    elif fn == "send-http":
        target = opts if isinstance(opts, str) else o["target"]
        if o.get("jq-expr") is not None or o.get("jsonnet-expr") is not None:
            # one request per produced value, raw string bodies
            action = make_http_value_action(
                lines, target, method=o.get("method", "POST"), headers=o.get("headers")
            )
        else:
            action = make_http_action(
                lines, target, method=o.get("method", "POST"), headers=o.get("headers")
            )
    elif fn == "expose-http":
        action = make_expose_action(
            df,
            step.name,
            options=o,
            jq_prelude=ctx.template.jq_prelude,
            jsonnet_prelude=ctx.template.jsonnet_prelude,
        )
    else:
        action = make_broker_action(
            fn,
            df,
            options=o if isinstance(opts, dict) else {"url": opts},
            pipeline_name=ctx.template.name,
            step_name=step.name,
            jq_expr=o.get("jq-expr"),
            jq_prelude=ctx.template.jq_prelude,
            jsonnet_expr=o.get("jsonnet-expr"),
            jsonnet_prelude=ctx.template.jsonnet_prelude,
        )
    ctx.sinks.append((step.name, action))
    ctx.shared.append(df)
    return df


def compile_step(
    ctx: _Ctx, step: StepDef, source: DataFrame, prewindowed: bool = False
) -> DataFrame:
    if prewindowed:
        # The streaming runner already filtered the pattern and
        # assembled count-or-time windows with Spark-managed state —
        # source carries WINDOW_COL/ORDER_COL in flush order.
        windowed, passed = source, None
        out = _apply_function(ctx, step, windowed)
        if WINDOW_COL in out.columns or _window_is_multi(step) or step.function_name.startswith(
            "send-receive"
        ):
            out = _renumber(out)
        return out.select("n", "d", "t", ORDER_COL)
    if step.pattern is not None:
        pred = pattern_to_column(step.pattern, "n")
        matched = source.filter(pred)
        passed = source.filter(~pred) if step.pattern_mode == "pass" else None
    else:
        matched, passed = source, None

    windowed = _apply_windowing(matched, step)
    out = _apply_function(ctx, step, windowed)
    if WINDOW_COL in out.columns or _window_is_multi(step) or step.function_name.startswith(
        "send-receive"
    ):
        out = _renumber(out)
    if passed is not None:
        out = out.select("n", "d", "t", ORDER_COL).unionByName(
            passed.select("n", "d", "t", ORDER_COL)
        )
    return out.select("n", "d", "t", ORDER_COL)


def compile_pipeline(
    spark: SparkSession,
    template: PipelineTemplate,
    input_df: Optional[DataFrame] = None,
    arrival_ts: Optional[float] = None,
    observe: bool = False,
    applied_steps: Optional[set] = None,
    prewindowed_step: Optional[str] = None,
) -> PipelineResult:
    """Lower the template to DataFrames.  ``input_df`` overrides the
    template's input form (the library/test entry, mirroring how the
    reference tests drive pipelines with synthetic channels,
    __tests__/api.ts:24-56); otherwise batch-supported forms are
    ``file``/``tail`` (NDJSON path with optional wrap).

    ``applied_steps`` / ``prewindowed_step`` support the stateful
    streaming runner: steps the runner already applied stream-side
    (pattern filters, renames) pass input through unchanged, and the
    named windowed step consumes the WINDOW_COL/ORDER_COL already on
    ``input_df`` instead of re-windowing within the micro-batch.

    Nothing is persisted here: the frames that several actions read
    are listed on ``PipelineResult.shared`` for
    :meth:`PipelineResult.execute`."""
    signature = get_signature(template.raw)
    ctx = _Ctx(
        spark=spark,
        template=template,
        signature=signature,
        sinks=[],
    )

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
    input_df = _with_order(input_df)
    ts = F.lit(float(arrival_ts)) if arrival_ts is not None else None
    stamped = stamp_new_events(input_df, template.name, signature, arrival_ts=ts)

    # Observed metrics ride the job that executes the plan — the
    # reference's pipeline/step event counters (src/metrics.ts:30-117)
    # at zero extra passes.  Every step is upstream of `output` (it is
    # the union of all terminals), so executing output populates all.
    observations: dict[str, Observation] = {}

    def _observe(name: str, df: DataFrame) -> DataFrame:
        if not observe:
            return df
        obs = Observation()
        observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("events"))

    stamped = _observe(INPUT_ALIAS, stamped)

    outputs: dict[str, DataFrame] = {}
    remaining = list(template.steps)
    while remaining:
        progressed = False
        for step in list(remaining):
            if all(dep == INPUT_ALIAS or dep in outputs for dep in step.after):
                if applied_steps and step.name in applied_steps:
                    # already executed stream-side by the runner:
                    # identity pass-through of the (filtered, renamed)
                    # input
                    outputs[step.name] = _observe(step.name, stamped)
                    remaining.remove(step)
                    progressed = True
                    continue
                sources = [
                    stamped if dep == INPUT_ALIAS else outputs[dep] for dep in step.after
                ]
                source = sources[0]
                for extra in sources[1:]:
                    source = source.unionByName(extra)
                outputs[step.name] = _observe(
                    step.name,
                    compile_step(
                        ctx, step, source, prewindowed=step.name == prewindowed_step
                    ),
                )
                remaining.remove(step)
                progressed = True
        if not progressed:  # pragma: no cover — template validation rejects cycles
            raise ValueError("pipeline steps form a cycle")

    successors = Counter(dep for s in template.steps for dep in s.after)
    ctx.shared.extend(
        outputs[name] for name, n in successors.items() if n > 1 and name in outputs
    )
    terminals = [s.name for s in template.steps if s.name not in successors]
    if terminals:
        output = outputs[terminals[0]]
        for name in terminals[1:]:
            output = output.unionByName(outputs[name])
    else:
        output = stamped.select("n", "d", "t", ORDER_COL)

    return PipelineResult(
        template=template,
        signature=signature,
        step_outputs=outputs,
        output=output,
        sinks=ctx.sinks,
        dead_letters=dead,
        observations=observations,
        shared=ctx.shared,
    )
