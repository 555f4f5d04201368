"""Readers for the counters the traced pass records.

Everything here reads Spark from outside the package: job groups through
``SparkContext.statusTracker``, stage metrics from the core status store
(present with the UI off), the Python-worker SQL metrics from the SQL status
store, and trigger progress through a ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

# SQL metric name -> per-layer counter (Spark 4.1 PythonSQLMetrics)
PYTHON_SQL_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "data sent to Python workers": "udf.sent_mb",
    "data returned from Python workers": "udf.received_mb",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": MB * MB}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")

# trigger phase -> per-layer counter, summed in seconds
TRIGGER_PHASES = {
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "latestOffset": "streaming.latest_offset_s",
}


def parse_sql_metric(text: str, as_mb: bool) -> float:
    """Total of a formatted SQL metric: its last line starts with the total,
    as in ``"total (min, med, max ...)\\n1.7 s (429 ms, ...)"`` or ``"0 ms"``."""
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if as_mb:
        return num * _SIZE_UNITS[unit] / MB
    return num * _TIME_UNITS[unit]


class ProgressListener(StreamingQueryListener):
    """Keeps the start and progress events of every streaming query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []  # run ids, in start order
        self.progress: dict[str, list] = {}  # run id -> progress events

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkCounters:
    """Reads job, stage, SQL and streaming counters for one operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_execution = 0

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the status stores and the streaming listener are up to date."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def skip_executions(self) -> None:
        """Mark every SQL execution seen so far as read."""
        self._executions()

    def _executions(self) -> list:
        found, misses, i = [], 0, self._next_execution
        while misses < 3:
            opt = self._sql_store.execution(i)
            if opt.isDefined():
                found.append(opt.get())
                self._next_execution = i + 1
                misses = 0
            else:
                misses += 1
            i += 1
        return found

    def jobs(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def stage_totals(self, job_ids: list[int], prefix: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
             "scan_rows", "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
             "write_mb"),
            0.0,
        )
        c["jobs"] = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += s.numCompleteTasks()
                c["executor_run_s"] += s.executorRunTime() / 1e3
                c["executor_cpu_s"] += s.executorCpuTime() / 1e9
                c["jvm_gc_s"] += s.jvmGcTime() / 1e3
                c["scan_rows"] += s.inputRecords()
                c["scan_mb"] += s.inputBytes() / MB
                c["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                c["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                c["spill_mb"] += s.diskBytesSpilled() / MB
                c["write_mb"] += s.outputBytes() / MB
        return {f"{prefix}.{k}": v for k, v in c.items()}

    def python_totals(self) -> dict[str, float]:
        """Python-worker SQL metrics of the executions since the last read."""
        out = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
        for ex in self._executions():
            values = self._sql_store.executionMetrics(ex.executionId())
            seen = set()
            it = ex.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                key = PYTHON_SQL_METRICS.get(pm.name())
                acc = pm.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get(), as_mb=key.endswith("_mb"))
        return out


def streaming_totals(progress: list) -> dict[str, float]:
    """Trigger counters over the progress events of one operation's queries;
    ``progress`` holds one list of events per query."""
    out = dict.fromkeys(
        ("streaming.triggers", "streaming.input_rows", "streaming.state_rows",
         "streaming.state_mb", "streaming.state_commit_s", *TRIGGER_PHASES.values()),
        0.0,
    )
    durations = []
    for events in progress:
        for p in events:
            out["streaming.triggers"] += 1
            out["streaming.input_rows"] += p.numInputRows
            d = p.durationMs
            durations.append(d.get("triggerExecution", 0))
            for phase, key in TRIGGER_PHASES.items():
                out[key] += d.get(phase, 0) / 1e3
            out["streaming.state_commit_s"] += sum(o.commitTimeMs for o in p.stateOperators) / 1e3
        if events:
            last = events[-1].stateOperators
            out["streaming.state_rows"] += sum(o.numRowsTotal for o in last)
            out["streaming.state_mb"] += sum(o.memoryUsedBytes for o in last) / MB
    out["trigger_ms"] = durations
    return out


def source_rows(description: str, data_dir: str, events_rows: int) -> int:
    """Rows held by the files behind a file stream source. Streams over the
    data directory read its ``events`` table (a glob-filtered directory
    scan); any other source reads every data file of its own directory."""
    m = re.match(r"FileStreamSource\[file:(.*)\]$", description)
    if m is None:
        raise ValueError(f"not a file stream source: {description}")
    path = m.group(1)
    if os.path.realpath(path) == os.path.realpath(data_dir):
        return events_rows
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(root, f)
            if f.endswith(".parquet"):
                total += pq.read_metadata(full).num_rows
            else:
                with open(full, "rb") as fh:
                    total += sum(1 for line in fh if line.strip())
    return total


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU of a process and its live descendants, including
    the CPU of children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(
        sum(int(x) for x in stat[11:15]) / tick for stat in _tree_stats(pid).values()
    )


def _tree_stats(root: int) -> dict[int, list[str]]:
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name, which may hold spaces
        stats[int(d)] = raw[raw.rindex(")") + 2 :].split()
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            tree[p] = stats[p]
            todo.extend(children.get(p, []))
    return tree


def tree_ids(pid: int) -> dict[int, str]:
    """A process and its live descendants, each with its start time, which
    tells a process from a later one that reuses its id."""
    return {p: st[19] for p, st in _tree_stats(pid).items()}


def alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return st[19] == start and st[0] != "Z"


def tree_pss_mb(pid: int) -> float:
    """Proportional set size of a process and its live descendants: resident
    memory with each shared page split among the processes that map it, so
    forked Python workers do not count the pages they share twice."""
    kb = 0
    for p in _tree_stats(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += sum(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except OSError:
            continue
    return kb * 1024 / MB


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
