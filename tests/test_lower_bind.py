"""Per-trigger work of the pipeline compiler: a template is lowered once
and each batch is bound with a handful of DataFrame operations and JVM
calls; a driver-side sink's one action fills the observed counters."""

from __future__ import annotations

import gc
import json

from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from cdp_spark.metrics import PipelineMetrics
from cdp_spark.pipeline import from_yaml
from cdp_spark.pipeline.compiler import bind, compile_pipeline, lower
from cdp_spark.streaming.count_or_time import FLUSH_SCHEMA

# The drainbench keyed-window template (drainbench/workloads.py).
KEYED_WINDOW = """
name: drainbench-keyed-window
input:
  tail: /unused
steps:
  windows:
    match/drop: "m.#"
    window: {events: 4, seconds: 3600, key: data.k}
    reduce:
      send-receive-jsonnet: |-
        function(events) {
          n: "window",
          d: {
            k: events[0].d.k,
            c: std.length(events),
            s: std.sum([e.d.v for e in events]),
          },
        }
  store:
    after: [windows]
    flatmap:
      send-file: %s
"""

# Methods of Dataset that add a plan node, each one a full analysis.
_DATAFRAME_OPS = {
    "select", "selectExpr", "filter", "where", "withColumn", "withColumns", "drop",
    "withColumnRenamed", "agg", "groupBy", "mapInPandas", "observe", "unionByName",
    "union", "join", "orderBy", "sort", "repartition", "coalesce",
}


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _flushed_batch(spark, windows: int = 100):
    """Rows shaped like the stateful operator's flush of one trigger."""
    rows = [
        (f"k{w}", 0, i, "m.ev", json.dumps({"k": f"k{w}", "v": i}), "[]")
        for w in range(windows)
        for i in range(4)
    ]
    return spark.createDataFrame(rows, FLUSH_SCHEMA)


def test_bind_of_the_keyed_window_template_is_a_handful_of_jvm_calls(spark, tmp_path):
    """One trigger's bind of the drainbench template, after ``lower``:
    at most 10 DataFrame operations and 200 py4j round trips (the
    per-trigger compile before lowering took ~29 and ~1,000)."""
    template = from_yaml(KEYED_WINDOW % (tmp_path / "out.ndjson"))
    batch = _flushed_batch(spark)
    lowered = lower(template)
    assert lower(template) is lowered

    def bind_once(ts: float):
        return bind(
            lowered, batch, arrival_ts=ts, observe=True, applied_steps=set(),
            prewindowed_step="windows",
        )

    bind_once(1.0)  # the first bind loads the classes it touches
    gc.collect()
    commands: list[str] = []
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        commands.append(command)
        return send(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        result = bind_once(2.0)
    finally:
        GatewayClient.send_command = send
    # py4j's "m" commands release proxies of earlier work whenever
    # Python's collector runs; they are not this bind's calls
    calls = [c.split("\n") for c in commands if not c.startswith("m\n")]
    ops = [c[2] for c in calls if c[0] == "c" and c[2] in _DATAFRAME_OPS]
    assert len(ops) <= 10, ops
    assert len(calls) <= 200

    # and it is the same pipeline: one window event per key, in
    # (key, window) order
    result.execute()
    lines = [json.loads(line) for line in (tmp_path / "out.ndjson").read_text().splitlines()]
    assert [(e["n"], e["d"]) for e in lines] == [
        ("window", {"k": k, "c": 4, "s": 6}) for k in sorted(f"k{w}" for w in range(100))
    ]
    assert [tp["p"] for tp in lines[0]["t"]] == ["drainbench-keyed-window"]
    metrics = PipelineMetrics()
    metrics.update_from(result)
    assert metrics.pipeline_events_total["incoming"] == 400
    assert metrics.step_events_total[("windows", "outgoing")] == 100
    assert metrics.step_events_total[("store", "outgoing")] == 100


def test_unwindowed_send_file_counts_each_row_once(spark, tmp_path):
    """A multi-partition input straight into a driver-side sink: the
    sink's one action fills every observation with the row count (no
    sort-sampling job executes the observed plan twice), the output is
    not run, and nothing stays persisted."""
    out = tmp_path / "out.ndjson"
    template = from_yaml(
        f"""
name: unwindowed
input:
  stdin:
steps:
  store:
    flatmap:
      send-file: {out}
"""
    )
    df = spark.range(0, 100, 1, 4).select(
        F.lit("m.x").alias("n"),
        F.col("id").cast("string").alias("d"),
        F.lit(None).cast("array<struct<i:double,p:string,h:string>>").alias("t"),
    )
    before = _persistent_rdds(spark)
    result = compile_pipeline(spark, template, input_df=df, arrival_ts=5.0, observe=True)
    assert result.actions(consume=False) == 1
    result.execute()
    metrics = PipelineMetrics()
    metrics.update_from(result)
    assert metrics.pipeline_events_total["incoming"] == 100
    assert metrics.step_events_total[("store", "outgoing")] == 100
    assert [json.loads(line)["d"] for line in out.read_text().splitlines()] == list(range(100))
    assert _persistent_rdds(spark) == before


def test_unfilled_observation_runs_the_output(spark, tmp_path):
    """A step after the last driver-side sink is observed where no
    sink's action runs: ``execute`` runs the output for it, and
    persists the sink's input, which both actions read."""
    template = from_yaml(
        f"""
name: tail-step
input:
  stdin:
steps:
  store:
    flatmap:
      send-file: {tmp_path / 'out.ndjson'}
  renamed:
    after: [store]
    match/drop: "a.#"
    flatmap:
      rename: {{prepend: seen.}}
"""
    )
    df = spark.createDataFrame(
        [(n, "1", None) for n in ("a.x", "b.x", "a.y")],
        "n string, d string, t array<struct<i:double,p:string,h:string>>",
    )
    result = compile_pipeline(spark, template, input_df=df, observe=True)
    assert result.actions(consume=False) == 2
    result.execute()
    metrics = PipelineMetrics()
    metrics.update_from(result)
    assert metrics.step_events_total[("store", "outgoing")] == 3
    assert metrics.step_events_total[("renamed", "outgoing")] == 2
