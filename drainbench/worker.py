"""The measured process of one drain-mode run.

Started by ``run.py`` with a spec file (JSON) as its only argument:
opens the Spark session, sets the workload up, drives the pre-generated
backlog through the public entry points one file per trigger, stops
the query once it is idle, checks the outputs and writes a result file.
Per-trigger numbers come from ``StreamingQueryProgress``; with
``trace`` set, spans around the public calls into each layer are
recorded as well (see :class:`Tracer`).  Nothing in ``cdp_spark`` is
changed: the spans wrap its functions from here.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from datetime import datetime

from workloads import KEYED_WINDOW_YAML


class Tracer:
    """Spans ``(name, start, end)`` kept in memory and attributed to
    triggers by time afterwards.  ``foreachBatch`` bodies run one at a
    time, so a span lies inside the trigger that contains it."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._sinks_end = threading.local()

    def add(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append((name, start, end))

    def wrap(self, owner, attr: str, name: str) -> None:
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                tracer.add(name, t0, time.time())

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the calls the pipeline runner and the fold runner make
        into each layer.  ``metrics.observe`` runs from the end of the
        sinks to the end of ``update_from``: the runner executes the
        output (``output.count()``, which fills the observations) and
        then folds the counters in."""
        from cdp_spark.datapipe import dedup_index
        from cdp_spark.metrics import PipelineMetrics
        from cdp_spark.pipeline.compiler import PipelineResult
        from cdp_spark.streaming import fold_runner, runner

        self.wrap(runner, "compile_pipeline", "pipeline.compiler.compile")
        self.wrap(fold_runner.IncrementFoldRunner, "process_batch", "streaming.fold_runner.batch")
        self.wrap(fold_runner.IncrementFoldRunner, "fold_now", "streaming.fold_runner.fold")
        self.wrap(fold_runner, "iter_checkpoint", "streaming.fold_runner.snapshot")
        self.wrap(dedup_index, "minhash_index_fold", "datapipe.dedup_index.fold")

        run_sinks = PipelineResult.run_sinks
        update_from = PipelineMetrics.update_from
        tracer = self

        def traced_run_sinks(result):
            t0 = time.time()
            try:
                return run_sinks(result)
            finally:
                t1 = time.time()
                tracer._sinks_end.t = t1
                tracer.add("io.sinks.run_sinks", t0, t1)

        def traced_update_from(metrics, result):
            t0 = getattr(tracer._sinks_end, "t", None) or time.time()
            try:
                return update_from(metrics, result)
            finally:
                tracer.add("metrics.observe", t0, time.time())

        PipelineResult.run_sinks = traced_run_sinks
        PipelineMetrics.update_from = traced_update_from


# ------------------------------------------------------------- the drain


def log(msg: str) -> None:
    print(f"[drainbench {time.time():.3f}] {msg}", file=sys.stderr, flush=True)


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _log_offset(offset: str) -> int:
    """The file source's ``logOffset`` (-1 before the first batch).
    PySpark renders the offset as ``str()`` of the parsed JSON."""
    m = re.search(r"logOffset\W*(\d+)", offset or "")
    return int(m.group(1)) if m else -1


def drain(query, n_files: int, deadline: float) -> list[dict]:
    """Wait until the file source has committed a batch holding the
    last backlog file, then until the query is between triggers, and
    stop it there.  The end of the drain is read from the source's
    ``logOffset`` (one file per trigger, so batch ``k`` ends at offset
    ``k``), never from ``numInputRows``, which counts every re-execution
    of the batch's plan.  Returns the progress of every data trigger,
    in order."""
    seen: dict[int, object] = {}
    while True:
        for p in query.recentProgress:
            seen[p.batchId] = p
        ends = [_log_offset(p.sources[0].endOffset) for p in seen.values() if p.sources]
        if ends and max(ends) >= n_files - 1:
            break
        if not query.isActive:
            raise RuntimeError(f"query stopped before the drain ended: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"drain incomplete: {max(ends, default=-1) + 1}/{n_files} files")
        time.sleep(0.02)
    # Stopping a trigger mid-flight interrupts the Python batch body
    # (and leaves a StackOverflowError in the stream thread): stop only
    # between triggers.
    log(f"drain done: {max(ends) + 1} files")
    while query.status["isTriggerActive"]:
        if time.time() > deadline:
            raise TimeoutError("query never went idle after the drain")
        time.sleep(0.002)
    log("idle; stopping")
    query.stop()
    log("stopped")
    triggers = []
    for bid in sorted(seen):
        p = seen[bid]
        src = p.sources[0]
        if _log_offset(src.endOffset) == _log_offset(src.startOffset):
            continue  # no new file: a no-data batch
        start = _epoch_s(p.timestamp)
        dur = p.durationMs
        state = p.stateOperators[0] if p.stateOperators else None
        triggers.append(
            {
                "batch": bid,
                "start": start,
                "end": start + dur["triggerExecution"] / 1000.0,
                "lat_s": dur["triggerExecution"] / 1000.0,
                "add_batch_s": dur.get("addBatch", 0) / 1000.0,
                "input_rows": p.numInputRows,
                "state_update_s": (state.allUpdatesTimeMs / 1000.0) if state else 0.0,
                "state_commit_s": (state.commitTimeMs / 1000.0) if state else 0.0,
                "state_rows": state.numRowsTotal if state else 0,
                "state_bytes": state.memoryUsedBytes if state else 0,
            }
        )
    if len(triggers) != n_files:
        raise RuntimeError(f"{len(triggers)} data triggers for {n_files} files")
    return triggers


def job_submit_times(spark) -> list[float]:
    """Submission times (epoch s) of the jobs the session has run, from
    Spark's status store (kept with the UI off too)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    times = []
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        if sub.isDefined():
            times.append(sub.get().getTime() / 1000.0)
    return times


# ------------------------------------------------------------- workloads


def run_keyed_window(spark, spec: dict, manifest: dict):
    from cdp_spark.metrics import PipelineMetrics
    from cdp_spark.pipeline import from_yaml
    from cdp_spark.streaming import run_pipeline_stream, stream_ndjson_files

    root = spec["root"]
    out_path = os.path.join(root, "out", "windows.ndjson")
    os.makedirs(os.path.dirname(out_path))
    template = from_yaml(
        KEYED_WINDOW_YAML.format(
            input=os.path.join(root, "in"),
            events=spec["params"]["gen"]["window_events"],
            out=out_path,
        )
    )
    # The window's timer (seconds: 3600) never fires within a run:
    # every key's events fill whole windows (gen.py).  Without no-data
    # batches the query goes idle once the backlog is drained and can
    # be stopped between triggers; with them it runs timer-check
    # batches back to back, each a full pipeline trigger.  Batches
    # with data are unaffected.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    stream = stream_ndjson_files(spark, os.path.join(root, "in"), max_files_per_trigger=1)
    query = run_pipeline_stream(
        template,
        input_stream=stream,
        metrics=PipelineMetrics(),
        checkpoint_dir=os.path.join(root, "checkpoint"),
    )

    def check() -> tuple[int, bool, dict]:
        got: dict[str, list[int]] = {}
        windows = 0
        with open(out_path, encoding="utf-8") as f:
            for line in f:
                d = json.loads(line)["d"]
                acc = got.setdefault(d["k"], [0, 0])
                acc[0] += d["c"]
                acc[1] += d["s"]
                windows += 1
        failed = 0
        for key in set(got) | set(manifest["expected"]):
            exp = manifest["expected"].get(key, [0, 0])
            g = got.get(key, [0, 0])
            # a key whose counts agree but whose sums do not lost or
            # gained events it cannot name: count all of them
            failed += abs(exp[0] - g[0]) or (exp[0] if exp[1] != g[1] else 0)
        info = {"windows": windows, "expected_windows": manifest["windows"]}
        return failed, windows == manifest["windows"], info

    return query, check


def run_fold_dedup(spark, spec: dict, manifest: dict, layers: dict):
    from cdp_spark.datapipe import dedup_index as di
    from cdp_spark.streaming.fold_runner import IncrementFoldRunner

    root = spec["root"]
    p = spec["params"]["run"]
    index = os.path.join(root, "index")
    t0 = time.time()
    corpus = spark.read.schema("doc_id long, text string").json(manifest["corpus"])
    di.minhash_index_write(corpus, index, num_perm=p["num_perm"])
    layers["datapipe.dedup_index.index_write_s"] = time.time() - t0
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(root, "in"))
    )
    runner = IncrementFoldRunner(
        stream,
        index,
        os.path.join(root, "work"),
        threshold=p["threshold"],
        bands=p["bands"],
        fold_every_batches=spec["params"]["gen"]["fold_every"],
    )
    query = runner.start(checkpoint_dir=os.path.join(root, "checkpoint"))

    def check() -> tuple[int, bool, dict]:
        flags = runner.flags(spark).select("doc_id", "dup_of").collect()
        spooled = {
            r.doc_id
            for r in spark.read.parquet(os.path.join(root, "work", "increments"))
            .select("doc_id")
            .collect()
        }
        by_doc: dict[int, list[int]] = {}
        for r in flags:
            by_doc.setdefault(r.doc_id, []).append(r.dup_of)
        planted = {int(k): v for k, v in manifest["planted"].items()}
        fresh = set(manifest["fresh"])
        undecided = len(set(planted) | fresh) - len((set(planted) | fresh) & spooled)
        multi = sum(1 for v in by_doc.values() if len(v) > 1)
        hits = sum(1 for d, t in planted.items() if by_doc.get(d) == [t])
        false_pos = sum(1 for d in by_doc if d in fresh)
        recall = hits / len(planted) if planted else 1.0
        fp_rate = false_pos / len(fresh) if fresh else 0.0
        files = sum(len(fs) for _, _, fs in os.walk(index) if fs)
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(index) for f in fs
        )
        layers["datapipe.dedup_index.index_files"] = files
        layers["datapipe.dedup_index.index_mb"] = size / 1e6
        layers["datapipe.dedup_index.flagged_share"] = len(by_doc) / manifest["offered"]
        info = {
            "folds": runner.folds_done,
            "expected_folds": manifest["folds"],
            "recall": recall,
            "fresh_false_positive_rate": fp_rate,
            "undecided": undecided,
            "multi_flagged": multi,
        }
        ok = (
            runner.folds_done == manifest["folds"]
            and recall >= p["min_recall"]
            and fp_rate <= p["max_false_positive_rate"]
        )
        return undecided + multi, ok, info

    return query, check


# ------------------------------------------------------------------ main


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    with open(spec["manifest"]) as f:
        manifest = json.load(f)
    tracer = Tracer() if spec["trace"] else None
    if tracer is not None:
        tracer.install()

    from cdp_spark.session import get_spark

    layers: dict[str, float] = {}
    t0 = time.time()
    spark = get_spark("drainbench")
    layers["session.get_spark_s"] = time.time() - t0
    try:
        if spec["workload"] == "tail_keyed_window":
            query, check = run_keyed_window(spark, spec, manifest)
        else:
            query, check = run_fold_dedup(spark, spec, manifest, layers)
        triggers = drain(query, len(manifest["files"]), spec["deadline"])
        jobs = job_submit_times(spark)
        failed, correct, info = check()
        log("checked")
    finally:
        spark.stop()
        log("session stopped")
    for tr in triggers:
        tr["jobs"] = sum(1 for t in jobs if tr["start"] <= t <= tr["end"])
    result = {
        "triggers": triggers,
        "layers": layers,
        "failed": failed,
        "correct": correct,
        "check": info,
        "spans": tracer.spans if tracer is not None else [],
    }
    tmp = spec["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, spec["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
