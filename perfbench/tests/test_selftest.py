"""Self-test of the benchmark's output checks.

For each workload, a small run corrupts one program output just before
its check reads it and must come back ``correct: false`` with the
corruption named. The check helpers are also tested on hand-made
inputs, and run.py must refuse to run without the engine sources.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The two corrupted runs start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


# ---------------------------------------------------------------------------
# Corrupted runs (each in its own process: one JVM per run)
# ---------------------------------------------------------------------------

def _corrupted_copy(warehouse_dir: str, event_id: int) -> str:
    """A copy of the warehouse whose fact has lost one landed SCD-1
    update. The check reads the copy, so the run's own warehouse (which
    later stages still read) stays intact."""
    copy = warehouse_dir + "_corrupt"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(warehouse_dir, copy)
    path = os.path.join(copy, "f_events")
    table = pq.read_table(path)
    df = table.to_pandas()
    df.loc[df["event_id"] == event_id, "event_value"] -= 1.0
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pandas(df, schema=table.schema, preserve_index=False),
        os.path.join(path, "part-0.parquet"),
    )
    return copy


def _patched_main(workload: str) -> int:
    """Run ``workload`` small, with one output corrupted before its check."""
    import run
    import workloads

    workloads.N_EVENTS, workloads.N_USERS, workloads.N_ITEMS = 3_000, 300, 200
    workloads.REFRESHES, workloads.CHANGE_READS = 1, 6
    workloads.DEDUP_STORE, workloads.DEDUP_BATCH = 200, 40
    real_day, real_gate = checks.check_warehouse_day, checks.check_gate
    real_land = gen.EventSource.land_delta
    landed = []

    def land_delta(self, day, out_dir):
        delta = real_land(self, day, out_dir)
        landed.append(delta)
        return delta

    def corrupt_day(warehouse_dir, source, event_rows):
        if landed:
            warehouse_dir = _corrupted_copy(warehouse_dir, landed[-1].updated_ids[0])
        return real_day(warehouse_dir, source, event_rows)

    def corrupt_gate(decisions, id_col, batches):
        exact = int(batches[-1].exact_ids[0])
        decisions = decisions.copy()
        decisions.loc[decisions[id_col] == exact, "keep"] = True
        return real_gate(decisions, id_col, batches)

    gen.EventSource.land_delta = land_delta
    checks.check_warehouse_day = corrupt_day
    checks.check_gate = corrupt_gate
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "1"])


@pytest.mark.parametrize(
    "workload, expected",
    [
        ("daily_etl", "f_events.event_value differs from the expected state"),
        ("dedup_stream", "planted exact copies kept"),
    ],
)
def test_corrupted_output_fails_the_check(workload, expected):
    proc = subprocess.run(
        [sys.executable, __file__, workload],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-3000:]
    meta, result = json.loads(lines[-2])["meta"], json.loads(lines[-1])
    assert proc.returncode == 1
    assert result["correct"] is False
    assert 1 <= result["failed"] < result["attempted"]
    assert any(expected in p for p in meta["problems"]), meta["problems"]


# ---------------------------------------------------------------------------
# Check helpers on hand-made inputs
# ---------------------------------------------------------------------------

def test_compare_rows_catches_a_changed_value():
    expected = pd.DataFrame({"period": ["2024-01-01"], "item_view": [3]})
    assert checks.compare_rows(["item_view", "period"], [(3, "2024-01-01")], expected) == []
    assert checks.compare_rows(["item_view", "period"], [(4, "2024-01-01")], expected)
    assert checks.compare_rows(["item_view", "period"], [], expected)


def test_compare_rows_float_tolerance():
    expected = pd.DataFrame({"pct": [12.345678]})
    assert checks.compare_rows(["pct"], [(12.345679,)], expected) == []
    assert checks.compare_rows(["pct"], [(12.3457,)], expected)


def test_check_manifest_catches_a_wrong_row_count(tmp_path):
    oracle = {v: pd.DataFrame({"x": [1, 2]}) for v in checks.KPI_VIEWS}
    views = {v: {"rows": 2} for v in checks.KPI_VIEWS}
    (tmp_path / "manifest.json").write_text(json.dumps({"views": views}))
    assert checks.check_manifest(str(tmp_path), oracle) == []
    views[checks.KPI_VIEWS[0]]["rows"] = 3
    (tmp_path / "manifest.json").write_text(json.dumps({"views": views}))
    assert checks.check_manifest(str(tmp_path), oracle)


def test_check_gate_catches_missing_and_unsent_decisions():
    batch = gen.Batch(ids=np.array([1, 2, 3]), exact_ids=np.array([3]),
                      near_ids=np.array([2]), table=None)
    good = pd.DataFrame({"doc_id": [1, 2, 3], "keep": [True, False, False]})
    assert checks.check_gate(good, "doc_id", [batch]) == ([[]], 1.0)
    assert checks.check_gate(good.iloc[:2], "doc_id", [batch])[0][0]
    unsent = pd.concat([good, pd.DataFrame({"doc_id": [9], "keep": [True]})])
    assert checks.check_gate(unsent, "doc_id", [batch])[0][0]


def test_check_added_catches_a_wrong_sync():
    added = pd.DataFrame({"vec_id": [1, 2, 3], "keep": [True, False, True]})
    assert checks.check_added([(3, True), (1, True), (2, False)], added, "vec_id") == []
    assert checks.check_added([(1, True), (2, False)], added, "vec_id")
    assert checks.check_added([(1, True), (2, True), (3, True)], added, "vec_id")


def test_driver_refuses_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_etl",
         "--seed", "1", "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(_patched_main(sys.argv[1]))
