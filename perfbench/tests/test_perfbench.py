"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The workload tests run ``perfbench/run.py`` the way BENCHMARK.json's
command runs it, one process per run, at a tiny input size
(``PERFBENCH_SCALE``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.trace import (OUTSIDE, Span, layer_table,  # noqa: E402
                             read_event_log, self_times, union_length)


E2E_BY_WORKLOAD = {
    "backfill": ["compact_s", "scan_ms.p50"],
    "live_tail": ["fresh_ms.p50", "fresh_ms.p95", "commit_ms.p95"],
    "serve": ["lookup_ms.p50", "lookup_ms.p95", "scan_ms.p50", "feed_ms.p50"],
    "registry": ["pass_s"],
}
LISTED = ["backfill", "live_tail", "serve"]  # registry has no commits


def test_benchmark_json_stays_within_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert set(names) <= set(E2E_BY_WORKLOAD)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4


def test_self_time_subtracts_the_union_of_clipped_children():
    spans = [Span("operators.apply", 0, None, 0.0, 10.0),
             Span("lake.append", 1, 0, 1.0, 3.0),
             Span("lake.append", 2, 0, 2.0, 5.0),    # overlaps span 1
             Span("lake.append", 3, 0, 8.0, 12.0),   # runs past its parent
             Span("x", 4, 1, 1.5, 2.5)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1)


def _event_log(tmp_path) -> str:
    d = tmp_path / "eventlog"
    d.mkdir()
    grp = {"spark.jobGroup.id": "lake.append#1"}

    def task(stage, t0, t1):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": t0, "Finish Time": t1},
                "Task Metrics": {
                    "Executor Run Time": t1 - t0,
                    "Input Metrics": {"Bytes Read": 10},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                             "Local Bytes Read": 2},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                    "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 0}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0], "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": grp},
        task(0, 1000, 1100), task(0, 1000, 1100), task(0, 1000, 1400),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2000, "Stage IDs": [1], "Properties": {}},
        task(1, 2000, 2100),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2200},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 9000, "Stage IDs": [2], "Properties": {}},
        task(2, 9000, 9100),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9200},
    ]
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def test_event_log_rolls_up_per_span_and_window(tmp_path):
    work = read_event_log(_event_log(tmp_path), (0.0, 3.0))
    a = work["lake.append#1"]
    assert (a.jobs, a.tasks, a.input_bytes) == (1, 3, 30)
    assert (a.shuffle_read, a.shuffle_write, a.spill_bytes) == (9, 15, 21)
    assert a.job_wall_s == pytest.approx(0.5)
    assert a.skew == pytest.approx(4.0)  # 400 ms max over a 100 ms median
    assert work[None].jobs == 1 and work[OUTSIDE].jobs == 1

    spans = [Span("lake.append", 1, None, 0.9, 1.6)]
    rows = layer_table(spans, work, (0.0, 3.0))
    assert [r["layer"] for r in rows] == ["lake.append", "unattributed"]
    assert rows[0]["spark"].jobs == 1
    assert rows[-1]["self_s"] == pytest.approx(3.0 - 0.7)
    assert rows[-1]["spark"].jobs == 1  # the in-window job outside spans


def _fake_table(path, rows):
    """A table directory with one data file and a head manifest."""
    os.makedirs(os.path.join(path, "manifest"))
    os.makedirs(os.path.join(path, "data"))
    tbl = pa.table({
        "doc_id": [r[0] for r in rows],
        "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
        "n_tok": pa.array([r[2] for r in rows], pa.int32()),
        "source": [r[3] for r in rows],
        "_rev": [r[4] for r in rows],
        "_deleted": [r[5] for r in rows]})
    pq.write_table(tbl, os.path.join(path, "data", "part-0.parquet"))
    with open(os.path.join(path, "manifest", "v1.json"), "w") as f:
        json.dump({"files": [{"path": "data/part-0.parquet"}]}, f)


def test_table_oracle_dedups_by_rev_and_catches_a_mismatch(tmp_path):
    from perfbench.oracle import table_mismatches

    rows = [("a", [1, 2], 2, "btc", 1, False),
            ("a", [3], 1, "btc", 5, False),      # newer image wins
            ("b", [4], 1, "ltc", 2, False),
            ("b", None, None, None, 7, True)]    # deleted
    _fake_table(str(tmp_path / "t"), rows)
    good = [("a", (3,), 1, "btc")]
    assert table_mismatches(str(tmp_path / "t"), good) == []
    bad = [("a", (3, 9), 1, "btc")]
    assert table_mismatches(str(tmp_path / "t"), bad)
    assert table_mismatches(str(tmp_path / "t"), good + [("c", (1,), 1, "x")])


def test_doc_state_counts_net_feed_changes():
    from perfbench.oracle import DocState

    st = DocState()
    ep = pd.DataFrame({
        "seq": [0, 1, 2, 3], "op": ["I", "I", "U", "D"],
        "doc_id": ["a", "b", "a", "c"],
        "tokens": [[1], [2], [3], None], "n_tok": [1, 1, 1, None],
        "source": ["btc"] * 4})
    assert st.apply(ep) == 2  # a, b upserted; c never alive
    assert st.docs["a"] == ("a", (3,), 1, "btc")
    ep2 = pd.DataFrame({
        "seq": [4, 5], "op": ["D", "U"], "doc_id": ["a", "b"],
        "tokens": [None, [50_257 + 1]], "n_tok": [None, 1],
        "source": ["btc", "btc"]})
    assert st.apply(ep2) == 1  # a deleted; b's update is invalid
    assert set(st.docs) == {"b"}


def _run(workload, trace, code=None):
    env = {**os.environ, "PERFBENCH_SCALE": "0.05"}
    args = ["--workload", workload, "--seed", "3", "--seconds", "2",
            "--trace", str(trace)]
    cmd = ([sys.executable, os.path.join(BENCH, "run.py"), *args] if code is None
           else [sys.executable, "-c", code, *args])
    return subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True,
                          text=True, timeout=600)




@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", LISTED)
def test_workload_emits_every_metric_with_its_unit(workload, trace):
    end_to_end, per_layer = run.definition()
    p = _run(workload, trace)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = per_layer if trace else end_to_end
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    names = [*end_to_end, "driver_rss_mb", "fail_frac",
             *E2E_BY_WORKLOAD[workload]]
    for name in names:
        line = [x for x in p.stdout.splitlines()
                if x.strip().startswith(name + " ")]
        assert line and "(n=" in line[0], (name, p.stdout)
    if trace:
        assert "unattributed" in p.stdout and "tracing overhead" in p.stdout


def test_registry_runs_on_generated_tables_and_prints_each_query():
    from perfbench.workloads import Registry

    p = _run("registry", 1)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["attempted"] == 22
    assert [x for x in p.stdout.splitlines() if x.strip().startswith("pass_s ")]
    for name in Registry.queries():
        assert f"query.{name}_ms " in p.stdout, name


def test_star_schema_is_seeded():
    from perfbench.starschema import TABLES, tables

    a, b, c = tables(5, 0.1), tables(5, 0.1), tables(6, 0.1)
    assert list(a) == TABLES
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_injected_oracle_mismatch_exits_nonzero():
    code = ("import sys; sys.path.insert(0, '.');"
            "import perfbench.oracle as o; real = o.expected_docs;"
            "o.expected_docs = lambda d: real(d)[1:];"
            "from perfbench import run; sys.exit(run.main(sys.argv[1:]))")
    p = _run("backfill", 0, code=code)
    assert p.returncode == 1, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    assert "MISMATCH" in p.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
