"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The gate tests are pure Python. The smoke tests run each workload at a
tenth of its input size through the real command, one Spark JVM at a
time (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

import pytest

import gates

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from gepris_spark.replay import replay  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _oracle():
    t = datetime(2021, 10, 18)
    rows = [
        {
            "url": f"https://gepris.dfg.de/gepris/projekt/{i % 7}",
            "priority_type": i % 2,
            "recency_ts": t - timedelta(minutes=i),
        }
        for i in range(20)
    ]
    return replay(rows, batch_size=5)


def test_gate_accepts_the_oracle_itself():
    oracle = _oracle()
    rows = gates.oracle_visit_rows(oracle.visits)
    assert gates.visit_log_failures(list(rows), rows) == 0
    assert gates.url_seen_failures(set(oracle.url_seen), oracle.url_seen) == 0


def test_gate_catches_two_swapped_seq_values():
    want = gates.oracle_visit_rows(_oracle().visits)
    got = list(want)
    (s0, *a), (s1, *b) = got[1], got[3]
    got[1], got[3] = (s1, *a), (s0, *b)
    failed = gates.visit_log_failures(sorted(got), want)
    assert failed == 2
    assert failed / len(want) > 0


def test_gate_catches_missing_visits_and_seen_urls():
    oracle = _oracle()
    want = gates.oracle_visit_rows(oracle.visits)
    assert gates.visit_log_failures(want[:-1], want) == 1
    assert gates.url_seen_failures(set(oracle.url_seen) | {"https://x/gepris/a/1"}, oracle.url_seen) == 1


def test_details_gate():
    ok = {"n_items": 90, "n_nonsuccess": 10, "n_unresolved_retries": 0}
    assert gates.details_failures(ok, 100) == 0
    assert gates.details_failures({**ok, "n_items": 89}, 100) == 1
    assert gates.details_failures({**ok, "n_unresolved_retries": 2}, 100) == 2


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180,
    )
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
