#!/usr/bin/env python3
"""flock_spark benchmark: two workloads of registry entries, one fresh
process per run.

    python3 perfbench/run.py --workload olap_batch --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --self-check

Run from the root of a checkout. A run generates (or re-checks) its seeded
inputs under ``perfbench/_data``, starts ``worker.py`` in a fresh scratch
directory under ``perfbench/_work`` with a pinned environment, samples the
resident memory of its process tree, and prints one JSON line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probes  # noqa: E402
from workloads import (  # noqa: E402
    NEXMARK_EVENTS,
    SELF_CHECK_NEXMARK_EVENTS,
    SELF_CHECK_SIZE,
    WORKLOADS,
)

CPUS = 2
DRIVER_MEM = "2g"
WARMUP_PASSES = 3
RUN_TIMEOUT_S = 150
RSS_SAMPLE_S = 0.2

END_TO_END_UNITS = {"setup_s": "s", "queries_per_min": "1/min", "query_geomean_s": "s",
                    "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "staging.fixture_count": "count",
    "staging.fixture_mb": "MB",
    "staging.cold_pass_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.executor_run_s": "s",
    "build.write_mb": "MB",
    "plan.wall_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.scan_rows": "count",
    "exec.scan_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "udf.python_run_s": "s",
    "udf.python_boot_s": "s",
    "udf.python_init_s": "s",
    "udf.sent_mb": "MB",
    "udf.received_mb": "MB",
    "streaming.triggers": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s",
    "process.cpu_s": "s",
    "trace.overhead_s": "s",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def pinned_env(work: str, nexmark_events: int) -> dict[str, str]:
    env = dict(os.environ)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        # executor Python workers import flock_spark from here, not from a cwd
        PYTHONPATH=os.pathsep.join(p for p in (CHECKOUT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(min(CPUS, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONHASHSEED="0",
        PYTHONDONTWRITEBYTECODE="1",
        TZ="UTC",
        # stage_once fixtures, ephemeral drains and checkpoints
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        FLOCK_SPARK_NEXMARK_EVENTS=str(nexmark_events),
        PERFBENCH_SPAWNED=repr(time.time()),
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def stop_tree(proc: subprocess.Popen, known: dict[int, str]) -> None:
    """Wait until the worker and every process seen in its tree have ended;
    stop them if they outlive the worker or the run's time limit. The Python
    worker daemon starts a process group of its own, so a group signal to the
    worker's group would miss it."""

    def remaining() -> list[int]:
        return [p for p, start in known.items() if probes.alive(p, start)]

    def ended(timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            proc.poll()
            if not remaining():
                return True
            time.sleep(0.05)
        return False

    known.update(probes.tree_ids(proc.pid))
    if proc.poll() is not None and ended(10):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in remaining():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if ended(5):
            return


def run_worker(workload: str, seed: int, trace: int, size: str, nexmark_events: int,
               warmup: int, timed_passes: int) -> dict:
    """One measured run in a fresh process; returns the worker's result with
    the resident-memory samples of its process tree."""
    data = inputs.ensure(os.path.join(HERE, "_data"), seed, size)
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(HERE, "_work"))
    try:
        out, log = os.path.join(work, "result.json"), os.path.join(work, "worker.log")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
               "--seed", str(seed), "--trace", str(trace),
               "--data", data, "--warmup", str(warmup),
               "--timed-passes", str(timed_passes), "--out", out]
        env = pinned_env(work, nexmark_events)
        samples, known = [], {}
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                deadline = time.time() + RUN_TIMEOUT_S
                while proc.poll() is None and time.time() < deadline:
                    known.update(probes.tree_ids(proc.pid))
                    samples.append((time.time(), probes.tree_pss_mb(proc.pid)))
                    time.sleep(RSS_SAMPLE_S)
            finally:
                stop_tree(proc, known)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
        with open(out) as f:
            result = json.load(f)
        result["rss_samples"] = samples
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(r: dict) -> dict[str, float]:
    lo, hi = r["timed_window"]
    rss = [mb for t, mb in r["rss_samples"] if lo <= t <= hi]
    return {
        "setup_s": r["setup_s"],
        "queries_per_min": r["queries_per_min"],
        "query_geomean_s": r["query_geomean_s"],
        "peak_rss_mb": max(rss, default=0.0),
    }


def per_layer(r: dict) -> dict[str, float]:
    """Per-layer metrics from the spans: the traced pass summed per pass,
    the cold pass and session start as recorded."""
    spans = r["spans"]
    by_name = {s["name"]: s for s in spans}
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m["session.start_s"] = by_name["session.start"]["end"] - by_name["session.start"]["start"]
    m["registry.load_s"] = by_name["registry.load"]["end"] - by_name["registry.load"]["start"]
    cold = by_name["pass:cold"]
    m["staging.fixture_count"] = cold["fixture_count"]
    m["staging.fixture_mb"] = cold["fixture_mb"]
    m["staging.cold_pass_s"] = cold["end"] - cold["start"]
    triggers_ms = []
    for s in spans:
        if s["name"] in ("build", "plan", "exec"):
            m[f"{s['name']}.wall_s"] += s["end"] - s["start"]
        for k, v in s.items():
            if k in m and not k.endswith("wall_s") and isinstance(v, (int, float)):
                m[k] += v
        triggers_ms += s.get("trigger_ms", [])
    m["streaming.trigger_p50_ms"] = probes.median(triggers_ms)
    m["trace.overhead_s"] = r["traced_pass_s"] - r["untraced_pass_s"]
    return m


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def report(rs: list[dict], metrics: dict) -> dict:
    for r in rs:
        for f in r["failures"]:
            print(f"perfbench: {r['workload']} {f['pass']} {f['op']}: {f['error']}", file=sys.stderr)
    return {
        "correct": all(r["correct"] for r in rs),
        "attempted": sum(r["attempted"] for r in rs),
        "failed": sum(r["failed"] for r in rs),
        "metrics": metrics,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="every workload once on sf0.001-sized inputs, one pass each")
    ap.add_argument("--trace-out", help="also write the run's spans and latencies here")
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not os.path.isfile(os.path.join(CHECKOUT, "flock_spark", "registry.py")):
        fail(f"no flock_spark package under {CHECKOUT}: run from the root of a checkout")

    if args.self_check:
        rs, metrics = [], {}
        for name in WORKLOADS:
            try:
                r = run_worker(name, args.seed, 1, SELF_CHECK_SIZE, SELF_CHECK_NEXMARK_EVENTS,
                               warmup=0, timed_passes=1)
            except RuntimeError as e:
                fail(f"{name}: {e}")
            rs.append(r)
            values = {**end_to_end(r), **per_layer(r)}
            units = {**END_TO_END_UNITS, **PER_LAYER_UNITS}
            metrics.update({f"{name}.{k}": v for k, v in metric_block(values, units).items()})
            print(f"{name}: attempted {r['attempted']} failed {r['failed']} correct {r['correct']}")
        out = report(rs, metrics)
        print(json.dumps(out))
        sys.exit(0 if out["correct"] and out["failed"] == 0 else 1)

    if args.workload is None:
        fail("--workload is required (or --self-check)")
    w = WORKLOADS[args.workload]
    try:
        r = run_worker(w.name, args.seed, args.trace, w.size, NEXMARK_EVENTS,
                       warmup=WARMUP_PASSES, timed_passes=w.timed_passes(args.seconds))
    except RuntimeError as e:
        fail(str(e))
    if args.trace_out:
        with open(args.trace_out, "w") as f:
            json.dump({k: r[k] for k in ("workload", "seed", "spans", "latencies", "failures")}, f)
    if args.trace:
        metrics = metric_block(per_layer(r), PER_LAYER_UNITS)
    else:
        metrics = metric_block(end_to_end(r), END_TO_END_UNITS)
    print(json.dumps(report([r], metrics)))


if __name__ == "__main__":
    main()
