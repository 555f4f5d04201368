"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The self-check test runs every workload once through the full harness on
the sf0.001 tables (about a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_inputs_are_the_shipped_tables_permuted_from_the_seed(tmp_path):
    a = inputs.ensure(str(tmp_path / "a"), 7, "sf0.001")
    b = inputs.ensure(str(tmp_path / "b"), 7, "sf0.001")
    c = inputs.ensure(str(tmp_path / "c"), 8, "sf0.001")
    for name, src in inputs.shipped("sf0.001").items():
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{name}.parquet")) for d in (a, b, c))
        shipped = pq.read_table(src)
        assert ta.equals(tb), name
        assert ta.equals(shipped) == (name not in inputs.PERMUTED), name
        assert ta.equals(tc) == (name not in inputs.PERMUTED), name
        keys = [(col, "ascending") for col in shipped.column_names if col != "embedding"]
        assert ta.sort_by(keys).equals(shipped.sort_by(keys)), name


def test_inputs_are_rewritten_when_a_row_count_is_wrong(tmp_path):
    d = inputs.ensure(str(tmp_path), 1, "sf0.001")
    events = os.path.join(d, "events.parquet")
    pq.write_table(pq.read_table(events).slice(0, 10), events)
    inputs.ensure(str(tmp_path), 1, "sf0.001")
    assert pq.read_metadata(events).num_rows == pq.read_metadata(
        inputs.shipped("sf0.001")["events"]).num_rows


def test_written_results_are_compared_with_the_oracle(tmp_path):
    sys.path.insert(0, os.path.dirname(HERE))
    from worker import oracle_mismatch

    region = pq.read_table(inputs.shipped("sf0.001")["region"])
    data = os.path.dirname(inputs.shipped("sf0.001")["region"])
    sql = "SELECT r_name, r_regionkey FROM region"
    pq.write_table(region, tmp_path / "part-0.parquet")
    assert oracle_mismatch(str(tmp_path), sql, data) is None
    pq.write_table(region.slice(1), tmp_path / "part-0.parquet")
    assert oracle_mismatch(str(tmp_path), sql, data) == "1 rows differ from the oracle (4 vs 5)"


def test_sql_metric_totals_are_parsed():
    total = "total (min, med, max (stageId: taskId))\n"
    assert probes.parse_sql_metric(total + "1.7 s (429 ms, 432 ms, 435 ms (stage 3.0: task 4))",
                                   as_mb=False) == 1.7
    assert probes.parse_sql_metric("0 ms", as_mb=False) == 0.0
    assert probes.parse_sql_metric(total + "1,024.0 KiB (1 B, 2 B, 3 B (stage 1.0: task 1))",
                                   as_mb=True) == 1.0


def test_self_check_runs_every_workload_correctly():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--self-check"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for w in WORKLOADS:
        assert f"{w}.query_geomean_s" in result["metrics"]
        assert f"{w}.exec.jobs" in result["metrics"]
