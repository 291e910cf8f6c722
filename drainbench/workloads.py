"""Workload definitions: the template and the sizes of each workload.

``tail_keyed_window``: NDJSON files -> ``match/drop`` -> a keyed
count-or-time window (``key: data.k``) reduced by
``send-receive-jsonnet`` -> a ``send-file`` sink, run by
``run_pipeline_stream`` with ``PipelineMetrics``.  Chosen because it is
the stateful path of the pipeline runner: every trigger updates and
commits ``applyInPandasWithState`` state, evaluates Jsonnet in Python
workers, and compiles and executes the rest of the DAG per batch
(compile, sinks, observe).  It never touches ``datapipe``.

``corpus_fold_dedup``: JSON document files -> ``IncrementFoldRunner``
flagging against a MinHash index built in set-up, folding after every
10th batch.  Chosen because it is the persisted-index lifecycle: reads
(flags) every trigger, writes (folds, snapshot reloads) at a fixed
cadence.  It never calls ``compile_pipeline``.

Each workload is the other's bypass.  Sizes are fixed per workload;
``seconds`` sets only the number of steady triggers, by the nominal
trigger time below, so a run's work does not depend on how fast the
host is.
"""

from __future__ import annotations

KEYED_WINDOW_YAML = """\
name: drainbench-keyed-window
input:
  tail: {input}
steps:
  windows:
    match/drop: "m.#"
    window: {{events: {events}, seconds: 3600, key: data.k}}
    reduce:
      send-receive-jsonnet: |-
        function(events) {{
          n: "window",
          d: {{
            k: events[0].d.k,
            c: std.length(events),
            s: std.sum([e.d.v for e in events]),
          }},
        }}
  store:
    after: [windows]
    flatmap:
      send-file: {out}
"""

# Sizes per workload.  ``warmup``: triggers before the measured ones,
# counted in set-up.  The first runs cold (class loading, JIT, Python
# worker start) and the next are still well above the later triggers:
# on the fold workload flag-only triggers fall from ~1.5 s to ~1.0 s
# over the first six.
#
# The fold workload folds after every 10th batch: one of its 11 steady
# triggers folds (~2x a flag-only trigger), so p50 and p75 both fall
# well inside the flag-only triggers.  With 2 folds in 12, p75 was the
# slowest flag-only trigger and spread 11% between runs (4% for 1 in
# 11); nearer the step between the two shapes it jumps between runs.
# Folding after every batch gives one shape but ~6.5 s triggers, too
# few of which fit a run.
_SIZES = {
    "tail_keyed_window": {
        "warmup": 2,
        "nominal_trigger_s": 3.4,
        "gen": {"events_per_file": 400, "window_events": 4, "keys": 5000},
        "smoke_gen": {"events_per_file": 40, "window_events": 4, "keys": 50},
        "run": {},
    },
    "corpus_fold_dedup": {
        "warmup": 3,
        "nominal_trigger_s": 1.6,
        "gen": {"docs_per_file": 150, "corpus_docs": 2000, "fold_every": 10},
        "smoke_gen": {"docs_per_file": 20, "corpus_docs": 100, "fold_every": 2},
        "run": {
            "num_perm": 32,
            "bands": 8,
            "threshold": 0.5,
            "min_recall": 0.98,
            "max_false_positive_rate": 0.01,
        },
    },
}

WORKLOADS = tuple(_SIZES)
SMOKE_STEADY_TRIGGERS = 3


def workload_params(workload: str, seconds: int, smoke: bool) -> dict:
    """Generator and runner parameters of one run."""
    sizes = _SIZES[workload]
    if smoke:
        steady = SMOKE_STEADY_TRIGGERS
        gen = dict(sizes["smoke_gen"])
    else:
        steady = max(4, round(seconds / sizes["nominal_trigger_s"]))
        gen = dict(sizes["gen"])
    gen["files"] = sizes["warmup"] + steady
    return {"gen": gen, "run": dict(sizes["run"]), "warmup": sizes["warmup"]}
