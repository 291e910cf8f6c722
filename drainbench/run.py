"""Drain-mode benchmark of the CDP pipeline runner and the fold lifecycle.

    python3 drainbench/run.py --workload tail_keyed_window --seed 1 \
        --seconds 18 --trace 0

Run from the root of a checkout.  One run:

1. host calibration (a fixed CPU spin and ``load1``);
2. this process writes the seeded backlog (``gen.py``) into a fresh
   work directory under ``.drainbench/work/``: input files with
   strictly increasing mtimes, and later the checkpoint and outputs;
3. ``worker.py`` is started as the measured process.  It drives the
   backlog through the public entry points, one file per trigger, in a
   closed loop: the engine pulls the next file when the previous trigger
   ends, so every run processes the same batches.  A thread here samples
   the RSS of its whole process tree (Python driver, JVM, Python
   workers);
4. calibration again, then the result: a summary line, and as the last
   line of standard output one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.  A side file with every
   trigger, the calibration and the backlog hash is written to
   ``.drainbench/runs/``.

The host is shared: its speed drifts by a quarter and more within
minutes, with nothing in the benchmark's VM to show for it.  The
sampling thread therefore also runs a fixed pure-Python probe every
0.1 s and times it in thread CPU time, which the guest's own scheduling
does not inflate but a slower host does.  Every end-to-end time is
scaled trigger by trigger (set-up over its own span) to a host on which
the probe takes ``PROBE_REF_S``; the unscaled numbers are kept in the
side file.  Peak RSS is not scaled.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
workload twice, untraced and then with spans around the calls into
each layer, and reports the per-layer metrics and the tracing overhead
(traced minus untraced).  ``--smoke`` shrinks the inputs to a toy size.
The run exits non-zero without a result when the program cannot be
run or an output check cannot be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from workloads import WORKLOADS, workload_params  # noqa: E402

# (name, unit) of what --trace 0 prints.
END_TO_END = (
    ("setup_s", "s"),
    ("events_per_s", "1/s"),
    ("lat_p50_s", "s"),
    ("lat_p75_s", "s"),
    ("peak_rss_mb", "MB"),
)

# (name, unit) of what --trace 1 prints.  Per-trigger values are the
# median over the steady triggers; ``*_share`` is the layer's part of
# the steady wall time.  A layer the workload never calls reads 0.
PER_LAYER = (
    ("pipeline.compiler.compile_s", "s"),
    ("pipeline.compiler.compile_share", "ratio"),
    ("io.sinks.run_sinks_s", "s"),
    ("io.sinks.run_sinks_share", "ratio"),
    ("metrics.observe_s", "s"),
    ("metrics.observe_share", "ratio"),
    ("streaming.runner.trigger_overhead_s", "s"),
    ("streaming.runner.source_reads_per_event", "ratio"),
    ("streaming.runner.jobs_per_trigger", "count"),
    ("streaming.runner.first_trigger_s", "s"),
    ("streaming.runner.steady_triggers", "count"),
    ("streaming.count_or_time.state_update_s", "s"),
    ("streaming.count_or_time.state_commit_s", "s"),
    ("streaming.count_or_time.state_rows", "count"),
    ("streaming.count_or_time.state_mb", "MB"),
    ("streaming.fold_runner.flag_s", "s"),
    ("streaming.fold_runner.flag_share", "ratio"),
    ("streaming.fold_runner.snapshot_s", "s"),
    ("datapipe.dedup_index.fold_s", "s"),
    ("datapipe.dedup_index.fold_share", "ratio"),
    ("datapipe.dedup_index.index_write_s", "s"),
    ("datapipe.dedup_index.index_files", "count"),
    ("datapipe.dedup_index.index_mb", "MB"),
    ("datapipe.dedup_index.flagged_share", "ratio"),
    ("session.get_spark_s", "s"),
    ("host.spin_s", "s"),
    ("host.spin_end_s", "s"),
    ("host.load1", "count"),
    ("host.load1_end", "count"),
    ("host.steal_share", "ratio"),
    ("host.scale", "ratio"),
    ("tracing.overhead_lat_p50_s", "s"),
    ("tracing.overhead_events_per_s", "1/s"),
)

# A run must end within 180 s; the worker is killed before that.
RUN_LIMIT_S = 170.0
SPIN_LOOPS = 2_000_000
# Host-speed probe run beside the measured process: PROBE_LOOPS
# iterations every PROBE_EVERY_S.  Time metrics are scaled
# to a host on which the probe takes PROBE_REF_S (see ``host_scale``).
PROBE_LOOPS = 200_000
PROBE_EVERY_S = 0.1
PROBE_REF_S = 0.0125
DRIVER_MEM = "1g"


# ------------------------------------------------------------ host state


def probe() -> tuple[float, float]:
    """(epoch s at its end, CPU seconds) of one fixed pure-Python spin.
    Thread CPU time, not wall time: time the guest's scheduler gives to
    the measured process instead is not counted, so the probe reads how
    fast the host runs this VM, not how busy the benchmark keeps it."""
    t0 = time.thread_time()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i
    dt = time.thread_time() - t0
    return time.time(), dt


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def calibrate() -> dict:
    """A fixed pure-Python spin (median of 3), the 1-minute load and
    the CPU counters: diagnostic only, so a run slowed by other work on
    the host (or, in a VM, by other guests: steal time) can be told from
    the files."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(SPIN_LOOPS):
            acc += i * i
        times.append(time.perf_counter() - t0)
    steal, total = _cpu_jiffies()
    return {
        "spin_s": statistics.median(times),
        "load1": os.getloadavg()[0],
        "steal_jiffies": steal,
        "total_jiffies": total,
    }


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state is
    [0], ppid [1], start time [19]); None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(entry))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(pid: int, seen: dict[int, str]) -> dict[str, int]:
    """RSS bytes of ``pid`` and all its descendants, summed per
    command name; every process met is added to ``seen`` (pid -> start
    time).  A child of the JVM still running the JVM's own executable
    is a process the JVM is spawning (Hadoop shells out for local file
    permissions) that shares the JVM's address space until it execs; it
    is not counted a second time."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    by_comm: dict[str, int] = {}
    todo = [(pid, True)]
    while todo:
        p, counted = todo.pop()
        exe = _exe(p)
        for c in kids.get(p, ()):
            c_exe = _exe(c)
            todo.append((c, not (c_exe == exe and os.path.basename(exe) == "java")))
        st = _stat(p)
        if st is None:
            continue
        seen[p] = st[19]
        if not counted:
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        by_comm[comm] = by_comm.get(comm, 0) + rss
    return by_comm


def _alive(seen: dict[int, str]) -> list[int]:
    """Processes of ``seen`` still running (same start time, so not a
    reused pid; not a zombie)."""
    out = []
    for pid, started in seen.items():
        st = _stat(pid)
        if st is not None and st[19] == started and st[0] != "Z":
            out.append(pid)
    return out


def _reap(proc: subprocess.Popen, seen: dict[int, str]) -> None:
    """Stop every process the worker started (the Python daemon runs
    in a process group of its own, and orphans leave the tree), then
    wait until all have gone: SIGTERM, SIGKILL after 20 s."""
    tree_rss(proc.pid, seen)
    deadline = time.time() + 20
    while True:
        proc.poll()
        alive = _alive(seen)
        if not alive:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# ---------------------------------------------------------------- worker


def log(msg: str) -> None:
    print(f"[drainbench {time.time():.3f}] {msg}", file=sys.stderr, flush=True)


def run_worker(root: str, work: str, spec: dict, deadline: float, log_path: str) -> dict:
    """Start the measured process, sample its tree's RSS until it
    exits, and return its result with the spawn time and peak RSS.
    The worker's output (Spark's log included) goes to ``log_path``."""
    spec = dict(spec, root=work, result=os.path.join(work, "result.json"), deadline=deadline - 5)
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # A fixed, modest driver heap: with the 16g default the JVM's
    # resident size follows GC timing, and peak RSS wanders between
    # identical runs.
    env["CDP_SPARK_DRIVER_MEM"] = DRIVER_MEM
    peak = [0, {}]
    probes: list[tuple[float, float]] = []
    seen: dict[int, str] = {}
    stop = threading.Event()
    with open(log_path, "wb") as out:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            stdout=out,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )

        def sample() -> None:
            # one thread, one thing at a time: the probe never waits
            # for the GIL (the main thread only waits for the worker)
            while not stop.is_set():
                by_comm = tree_rss(proc.pid, seen)
                total = sum(by_comm.values())
                if total > peak[0]:
                    peak[:] = [total, by_comm]
                probes.append(probe())
                stop.wait(PROBE_EVERY_S)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop.set()
            sampler.join()
            log(f"worker exited with {code}")
            _reap(proc, seen)
            proc.wait()
            log(f"{len(seen)} worker processes ended")
    if code != 0 or not os.path.isfile(spec["result"]):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise RuntimeError(
            "worker timed out" if code is None else f"worker exited with {code}"
        )
    with open(spec["result"]) as f:
        result = json.load(f)
    result["t_spawn"] = t_spawn
    result["peak_rss_mb"] = peak[0] / 1e6
    result["peak_rss_by_command_mb"] = {k: v / 1e6 for k, v in peak[1].items()}
    result["probes"] = probes
    return result


# --------------------------------------------------------------- metrics


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def host_scale(probes: list, lo: float, hi: float) -> float:
    """Reference probe time over the mean probe time in [lo, hi], its
    highest and lowest fifth left out: how much faster (> 1) or slower
    the host ran then than the reference host.  The nearest probes
    stand in for a window shorter than the probe period."""
    inside = sorted(dt for t, dt in probes if lo <= t - dt and t <= hi)
    if len(inside) < 3:
        mid = (lo + hi) / 2
        inside = sorted(dt for _, dt in sorted(probes, key=lambda p: abs(p[0] - mid))[:3])
    cut = len(inside) // 5
    kept = inside[cut:len(inside) - cut]
    return PROBE_REF_S / (sum(kept) / len(kept))


def end_to_end(result: dict, warmup: int, events_per_file: int, scaled: bool = True) -> dict:
    """End-to-end metrics; with ``scaled``, every time is multiplied by
    the host's speed while it was measured (``host_scale``), so a run
    on a host slowed by other guests reads as on the reference host."""
    steady = result["triggers"][warmup:]
    probes = result["probes"]

    def scale(lo: float, hi: float) -> float:
        return host_scale(probes, lo, hi) if scaled else 1.0

    lat = [t["lat_s"] * scale(t["start"], t["end"]) for t in steady]
    # a trigger's slot runs to the next trigger's start
    ends = [t["start"] for t in steady[1:]] + [steady[-1]["end"]]
    wall = sum((e - t["start"]) * scale(t["start"], t["end"]) for t, e in zip(steady, ends))
    t_first = steady[0]["start"]
    return {
        "setup_s": (t_first - result["t_spawn"]) * scale(result["t_spawn"], t_first),
        "events_per_s": events_per_file * len(steady) / wall,
        "lat_p50_s": _median(lat),
        "lat_p75_s": statistics.quantiles(lat, n=4, method="inclusive")[2],
        "peak_rss_mb": result["peak_rss_mb"],
    }


def _span_totals(spans: list, name: str, triggers: list[dict]) -> list[float]:
    """Seconds of ``name`` spans inside each trigger (batch bodies run
    one at a time, so a span lies inside the trigger containing it)."""
    out = []
    for tr in triggers:
        lo, hi = tr["start"] - 1e-3, tr["end"] + 1e-3
        out.append(sum(e - s for n, s, e in spans if n == name and s >= lo and e <= hi))
    return out


def per_layer(result: dict, warmup: int, events_per_file: int) -> dict:
    triggers = result["triggers"]
    steady = triggers[warmup:]
    wall = steady[-1]["end"] - steady[0]["start"]
    spans = result["spans"]
    m: dict[str, float] = {}

    for name in ("pipeline.compiler.compile", "io.sinks.run_sinks", "metrics.observe"):
        per = _span_totals(spans, name, steady)
        m[name + "_s"] = _median(per)
        m[name + "_share"] = sum(per) / wall
    batch = _span_totals(spans, "streaming.fold_runner.batch", steady)
    fold = _span_totals(spans, "streaming.fold_runner.fold", steady)
    flag = [b - f for b, f in zip(batch, fold)]
    m["streaming.fold_runner.flag_s"] = _median(flag)
    m["streaming.fold_runner.flag_share"] = sum(flag) / wall
    # snapshots and index folds happen on fold triggers only: their
    # per-fold median, not a per-trigger one
    snap = _span_totals(spans, "streaming.fold_runner.snapshot", steady)
    m["streaming.fold_runner.snapshot_s"] = _median([s for s in snap if s > 0])
    folds = _span_totals(spans, "datapipe.dedup_index.fold", steady)
    m["datapipe.dedup_index.fold_s"] = _median([s for s in folds if s > 0])
    m["datapipe.dedup_index.fold_share"] = sum(folds) / wall
    m["streaming.runner.trigger_overhead_s"] = _median(
        [t["lat_s"] - t["add_batch_s"] for t in steady]
    )
    m["streaming.runner.source_reads_per_event"] = sum(
        t["input_rows"] for t in steady
    ) / (events_per_file * len(steady))
    m["streaming.runner.jobs_per_trigger"] = _median([t["jobs"] for t in steady])
    m["streaming.runner.first_trigger_s"] = triggers[0]["lat_s"]
    m["streaming.runner.steady_triggers"] = len(steady)
    m["streaming.count_or_time.state_update_s"] = _median([t["state_update_s"] for t in steady])
    m["streaming.count_or_time.state_commit_s"] = _median([t["state_commit_s"] for t in steady])
    m["streaming.count_or_time.state_rows"] = steady[-1]["state_rows"]
    m["streaming.count_or_time.state_mb"] = steady[-1]["state_bytes"] / 1e6
    for name in (
        "datapipe.dedup_index.index_write_s",
        "datapipe.dedup_index.index_files",
        "datapipe.dedup_index.index_mb",
        "datapipe.dedup_index.flagged_share",
    ):
        m[name] = result["layers"].get(name, 0)
    m["session.get_spark_s"] = result["layers"]["session.get_spark_s"]
    m["host.scale"] = _median(
        [host_scale(result["probes"], t["start"], t["end"]) for t in steady]
    )
    return m


# ------------------------------------------------------------------ main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy-size inputs")
    args = ap.parse_args(argv)

    started = time.time()
    # SIGTERM unwinds like an error, so the worker tree is still reaped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdp_spark", "__init__.py")):
        print(f"no cdp_spark package under {root}: run from a checkout root", file=sys.stderr)
        return 2
    state = os.path.join(root, ".drainbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    params = workload_params(args.workload, args.seconds, args.smoke)
    gen = params["gen"]
    events_per_file = gen.get("events_per_file") or gen["docs_per_file"]
    spec = {"workload": args.workload, "params": params}
    deadline = started + RUN_LIMIT_S

    runs_dir = os.path.join(state, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    calib_start = calibrate()
    results = []
    hashes = []
    try:
        for trace in ([False, True] if args.trace else [False]):
            manifest = generate(args.workload, work, args.seed, **gen)
            hashes.append(manifest["sha256"])
            manifest_path = os.path.join(work, "manifest.json")
            with open(manifest_path, "w") as f:
                json.dump(manifest, f)
            log(f"backlog written: {len(manifest['files'])} files")
            results.append(
                run_worker(
                    root,
                    work,
                    dict(spec, manifest=manifest_path, trace=trace),
                    deadline,
                    os.path.join(runs_dir, f"{run_id}.worker{len(results)}.log"),
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    calib_end = calibrate()
    if len(set(hashes)) != 1:
        print(f"seed {args.seed} gave different backlogs: {hashes}", file=sys.stderr)
        return 3

    # share of CPU time the hypervisor gave to others over the run
    steal_share = (calib_end["steal_jiffies"] - calib_start["steal_jiffies"]) / max(
        1, calib_end["total_jiffies"] - calib_start["total_jiffies"]
    )
    warmup = params["warmup"]
    e2e = end_to_end(results[0], warmup, events_per_file)
    correct = all(r["correct"] and r["failed"] == 0 for r in results)
    failed = max(r["failed"] for r in results)
    if args.trace:
        values = per_layer(results[1], warmup, events_per_file)
        traced = end_to_end(results[1], warmup, events_per_file)
        values["tracing.overhead_lat_p50_s"] = traced["lat_p50_s"] - e2e["lat_p50_s"]
        values["tracing.overhead_events_per_s"] = e2e["events_per_s"] - traced["events_per_s"]
        names = PER_LAYER
    else:
        values = dict(e2e)
        names = END_TO_END
    values["host.spin_s"] = calib_start["spin_s"]
    values["host.spin_end_s"] = calib_end["spin_s"]
    values["host.load1"] = calib_start["load1"]
    values["host.load1_end"] = calib_end["load1"]
    values["host.steal_share"] = steal_share

    with open(os.path.join(runs_dir, run_id + ".json"), "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "smoke": args.smoke,
                "backlog_sha256": hashes[0],
                "params": params,
                "calibration": {"start": calib_start, "end": calib_end},
                "end_to_end": e2e,
                "end_to_end_unscaled": end_to_end(results[0], warmup, events_per_file, scaled=False),
                "metrics": values,
                "runs": [
                    {
                        k: r[k]
                        for k in (
                            "triggers",
                            "layers",
                            "failed",
                            "correct",
                            "check",
                            "peak_rss_by_command_mb",
                            "probes",
                        )
                    }
                    for r in results
                ],
            },
            f,
            indent=1,
        )

    print(
        f"{args.workload} seed={args.seed} steady_triggers={len(results[0]['triggers']) - warmup}"
        f" check={results[0]['check']} spin_s={calib_start['spin_s']:.3f}/{calib_end['spin_s']:.3f}"
        f" load1={calib_start['load1']:.2f}/{calib_end['load1']:.2f} steal={steal_share:.3f}"
        f" backlog={hashes[0][:16]}"
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": gen["files"] * events_per_file,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
