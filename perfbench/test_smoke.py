"""Smoke tests of the benchmark itself: every workload end to end at tiny
sizes, traced and untraced, and the metric names and units printed match
BENCHMARK.json. Run from the repo root:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert E2E == run.E2E_UNITS
    assert LAYERS == run.LAYER_UNITS
    assert E2E["setup_s"] == "s"


def test_capped_result_gate(monkeypatch):
    import serve_mix

    monkeypatch.setattr(serve_mix, "LIMIT", 2)
    want = serve_mix.Expect(["a", "b"], [(1, 2.0), (3, 4.0), (3, 4.0)])

    def resp(rows, truncated=True):
        return {"ok": True, "truncated": truncated, "columns": ["b", "a"], "rows": rows}

    assert want.ok(resp([[4.0, 3], [4.0, 3]]))
    assert not want.ok(resp([[4.0, 3], [4.0, 5]]))  # a row the oracle lacks
    assert not want.ok(resp([[2.0, 1], [2.0, 1]]))  # more often than in the oracle
    assert not want.ok(resp([[4.0, 3], [2.0, 1]], truncated=False))


def test_stream_gate_counts_duplicate_rows():
    import numpy as np
    import pandas as pd
    import rainstorm_stream

    files = [np.array([1, 0, 2]), np.array([0, 3, 1])]
    rows = {"_seq": [0, 0, 1, 1], "word": ["w0", "w2", "w1", "w2"], "count": [1, 2, 3, 3]}
    assert rainstorm_stream._check_batches(pd.DataFrame(rows), files, 2) == 0
    dup = {k: v[:2] + v[1:2] + v[2:] for k, v in rows.items()}  # w2 twice in batch 0
    dup["count"][1] = 1
    assert rainstorm_stream._check_batches(pd.DataFrame(dup), files, 2) == 1


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_end_to_end(workload: str, trace: int):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = LAYERS if trace else E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


def test_refuses_to_run_outside_a_checkout(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
