"""The measured process of one benchmark run (started by run.py).

Phases, in order:
  1. imports and session start (``session.get_spark``, ``registry.get_queries``);
  2. one cold pass over the workload's operations;
  3. untimed warm-up passes;
  4. ``--timed-passes`` timed passes, untraced;
  5. with ``--trace 1``, a last pass with spans around each operation's build,
     plan and exec;
  6. the check against each entry's DuckDB oracle, after Spark has stopped.

One pass is the checked pass, which writes each operation's result once as
parquet to the run's scratch directory after running it: the traced pass
when tracing, else the first warm-up pass, so that an untraced run spends no
extra pass on the check.

An operation is one call of an entry's ``fn(spark, data_dir)`` forced by a
``noop`` write. Pass orders after the cold pass are shuffled from ``--seed``.
The result and the spans are written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import threading
import time
from collections import Counter

import pyarrow.parquet as pq

# the parent's clock when it started this process; set-up time counts from it
SPAWNED = float(os.environ.get("PERFBENCH_SPAWNED", time.time()))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OP_TIMEOUT_S = 90


class Spans:
    """Spans kept in memory: name, start, end, parent and run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **counters) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **counters}
        )
        return len(self.items) - 1


class Runner:
    """Runs operations with a watchdog and records their failures."""

    def __init__(self, spark, registry, data_dir: str) -> None:
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.attempted = 0
        self.failures: list[dict] = []

    def guarded(self, pass_name: str, op: str, body):
        """Call ``body()``; an exception or a timeout fails the operation."""
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.daemon = True
        timer.start()
        try:
            return body()
        except Exception as e:  # a failing operation must not stop the run
            timed_out = not timer.is_alive()
            msg = f"timeout after {OP_TIMEOUT_S}s" if timed_out else f"{type(e).__name__}: {e}"
            self.failures.append({"pass": pass_name, "op": op, "error": msg.splitlines()[0][:300]})
            return None
        finally:
            timer.cancel()

    def build(self, op: str):
        return self.registry[op].fn(self.spark, self.data_dir)

    def execute(self, op: str):
        """One operation: build the DataFrame and force it with a noop write."""
        df = self.build(op)
        df.write.format("noop").mode("overwrite").save()
        return df

    def run(self, pass_name: str, op: str) -> float | None:
        """One untraced operation; returns its wall time, or None if it failed."""

        def body():
            t0 = time.perf_counter()
            self.execute(op)
            return time.perf_counter() - t0

        return self.guarded(pass_name, op, body)


def oracle_mismatch(result_dir: str, sql: str, data_dir: str) -> str | None:
    """None when the parquet result Spark wrote to ``result_dir`` equals the
    oracle's as a row multiset (columns matched by name), else the difference."""
    import duckdb
    from flock_spark.oracle import _canon, run_oracle

    def multiset(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [cols[i] for i in order], Counter(tuple(_canon(r[i]) for i in order) for r in rows)

    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        cols, rows = multiset([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    o_cols, o_rows = multiset(*run_oracle(sql, data_dir))
    if cols != o_cols:
        return f"columns {cols} != oracle {o_cols}"
    if rows != o_rows:
        diff = sum((rows - o_rows).values()) + sum((o_rows - rows).values())
        return f"{diff} rows differ from the oracle ({sum(rows.values())} vs {sum(o_rows.values())})"
    return None


def fixture_stats(tmp: str) -> tuple[int, float]:
    count, size = 0, 0
    for entry in os.listdir(tmp):
        if not entry.startswith("flock_spark_fix_"):
            continue
        count += 1
        for root, _, files in os.walk(os.path.join(tmp, entry)):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return count, size / probes.MB


def traced_op(runner: Runner, counters, listener, spans: Spans, parent: int, op: str, group: str):
    """One operation with spans around build, plan and exec, each holding
    the counters it caused. Returns (DataFrame, traced seconds)."""
    sc = runner.spark.sparkContext
    n_started = len(listener.started)
    cpu0 = probes.tree_cpu_s(os.getpid())
    t0 = time.time()
    sc.setJobGroup(f"{group}:build", op)
    df = runner.build(op)
    t1 = time.time()
    sc.setJobGroup(f"{group}:exec", op)
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
    sc.setLocalProperty("spark.jobGroup.id", None)
    counters.drain_events()
    # a drain runs its jobs on the query's own thread, in a job group named
    # after the query's run id
    run_ids = listener.started[n_started:]
    build = counters.stage_totals(counters.jobs([f"{group}:build", *run_ids]), "build")
    exec_ = counters.stage_totals(counters.jobs([f"{group}:exec"]), "exec")
    udf = counters.python_totals()
    stream = probes.streaming_totals([listener.progress.get(r, []) for r in run_ids])
    t4 = time.time()
    op_span = spans.add(f"op:{op}", t0, t3, parent, **udf, **stream, **{"process.cpu_s": cpu_s})
    spans.add("build", t0, t1, op_span, **build)
    spans.add("plan", t1, t2, op_span)
    spans.add("exec", t2, t3, op_span, **exec_)
    return df, t4 - t0


def stream_rows_check(listener, run_ids: list[str], data_dir: str, events_rows: int) -> str | None:
    """None when the drains consumed every source row, else the shortfall."""
    if not run_ids:
        return "the operation started no streaming query"
    for r in run_ids:
        events = listener.progress.get(r, [])
        if not events:
            return f"query {r} reported no progress"
        expected = sum(
            probes.source_rows(s.description, data_dir, events_rows) for s in events[0].sources
        )
        consumed = sum(p.numInputRows for p in events)
        if consumed != expected:
            return f"query {r} consumed {consumed} of {expected} source rows"
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warmup", type=int, required=True,
                    help="warm-up passes; at least 1 without --trace, whose first is checked")
    ap.add_argument("--timed-passes", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if not args.trace and args.warmup < 1:
        ap.error("an untraced run checks its results in its first warm-up pass: --warmup >= 1")
    w = WORKLOADS[args.workload]
    spans = Spans(f"{w.name}-seed{args.seed}-{os.getpid()}")
    rng = random.Random(args.seed)

    # phase 1: imports and session start
    from flock_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{w.name}",
        extra_conf={"spark.sql.warehouse.dir": os.path.abspath("warehouse")},
    )
    t1 = time.time()
    sc = spark.sparkContext
    from flock_spark.registry import REGISTRY, get_queries

    get_queries()
    t2 = time.time()
    root = spans.add("run", SPAWNED, SPAWNED)
    spans.add("session.start", t0, t1, root)
    spans.add("registry.load", t1, t2, root)
    runner = Runner(spark, REGISTRY, args.data)

    # phase 2: the cold pass stages fixtures, generates code, starts workers
    for op in w.ops:
        runner.run("cold", op)
    t3 = time.time()
    fixtures, fixture_mb = fixture_stats(os.environ["TMPDIR"])
    spans.add("pass:cold", t2, t3, root, fixture_count=fixtures, fixture_mb=fixture_mb)
    setup_s = t3 - SPAWNED

    def shuffled() -> list[str]:
        order = list(w.ops)
        rng.shuffle(order)
        return order

    listener = probes.ProgressListener()
    counters = probes.SparkCounters(spark)
    events_rows = pq.read_metadata(os.path.join(args.data, "events.parquet")).num_rows
    # each checked result is written here for the check, so that no result is
    # held in the measured process
    check_dir = os.path.abspath("check")
    written: list[str] = []
    stream_failures: dict[str, str] = {}

    def checked_pass(name: str, traced: bool) -> int:
        """A pass that writes each operation's result once for the check,
        after running it; traced, with spans around build, plan and exec."""
        start = time.time()
        span = spans.add(f"pass:{name}", start, start, root, traced=traced)
        spark.streams.addListener(listener)
        counters.drain_events()
        counters.skip_executions()
        traced_s = 0.0
        for op in shuffled():
            group = f"{spans.run_id}:{op}"
            n_started = len(listener.started)

            def body(op=op, group=group):
                if traced:
                    return traced_op(runner, counters, listener, spans, span, op, group)
                return runner.execute(op), 0.0

            got = runner.guarded(name, op, body)
            if got is None:
                continue
            df, dt = got
            traced_s += dt
            sc.setJobGroup(f"{group}:check", op)
            try:
                df.write.parquet(os.path.join(check_dir, op))
                written.append(op)
            except Exception as e:
                runner.failures.append({"pass": name, "op": op, "error": f"write: {e}"[:300]})
            sc.setLocalProperty("spark.jobGroup.id", None)
            counters.drain_events()
            counters.skip_executions()
            if w.stream and op in written:
                bad = stream_rows_check(
                    listener, listener.started[n_started:], args.data, events_rows
                )
                if bad:
                    stream_failures[op] = bad
        spark.streams.removeListener(listener)
        spans.items[span].update(end=time.time(), traced_s=traced_s)
        return span

    # phase 3: warm-up; untraced, its first pass is the checked one
    for i in range(args.warmup):
        if i == 0 and not args.trace:
            checked_pass("warm0", traced=False)
            continue
        s = time.time()
        for op in shuffled():
            runner.run(f"warm{i}", op)
        spans.add(f"pass:warm{i}", s, time.time(), root)

    # phase 4: timed passes, untraced
    latencies: dict[str, list[float]] = {op: [] for op in w.ops}
    pass_s: list[float] = []
    pass_rates: list[float] = []  # operations completed per minute of each pass
    timed_start = time.time()
    while len(pass_s) < args.timed_passes:
        s = time.perf_counter()
        done = 0
        for op in shuffled():
            dt = runner.run(f"timed{len(pass_s)}", op)
            if dt is not None:
                latencies[op].append(dt)
                done += 1
        pass_s.append(time.perf_counter() - s)
        pass_rates.append(done / pass_s[-1] * 60)
    timed_end = time.time()
    spans.add("pass:timed", timed_start, timed_end, root, passes=len(pass_s))

    # phase 5: traced, the last pass is the checked one
    traced_s = 0.0
    if args.trace:
        traced_s = spans.items[checked_pass("last", traced=True)]["traced_s"]
    spark.stop()
    # end the JVM now, so it shuts down while the check runs
    gateway_proc = getattr(sc._gateway, "proc", None)
    if gateway_proc is not None and gateway_proc.stdin is not None:
        gateway_proc.stdin.close()

    # phase 6: the check, outside every measured interval
    check_start = time.time()
    mismatches: dict[str, str] = dict(stream_failures)
    for op in written:
        try:
            bad = oracle_mismatch(os.path.join(check_dir, op), REGISTRY[op].oracle, args.data)
        except Exception as e:
            bad = f"check failed: {type(e).__name__}: {e}"[:300]
        if bad:
            mismatches.setdefault(op, bad)
    for op, why in mismatches.items():
        runner.failures.append({"pass": "check", "op": op, "error": why})
    spans.add("check", check_start, time.time(), root)
    spans.items[root]["end"] = time.time()

    medians = [probes.median(v) for v in latencies.values() if v]
    result = {
        "workload": w.name,
        "seed": args.seed,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "correct": not mismatches,
        "failures": runner.failures,
        "setup_s": setup_s,
        "queries_per_min": probes.median(pass_rates),
        "query_geomean_s": math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0,
        "timed_window": [timed_start, timed_end],
        "timed_passes": len(pass_s),
        "untraced_pass_s": probes.median(pass_s),
        "traced_pass_s": traced_s,
        "latencies": latencies,
        "spans": spans.items,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
