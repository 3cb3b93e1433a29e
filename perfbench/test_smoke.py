"""Smoke check of the benchmark: one pass of every workload, untraced and
traced, on inputs about the size of sf0.001 (``lake`` on the sf0.001
fixture tables).

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each run prints every metric ``BENCHMARK.json`` names, with
its unit, and that no operation failed or mismatched its oracle.
"""

import dataclasses
import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

SMALL = {"forest": {"embeddings": 600}, "lake": {"fixture": "sf0.001"}}
# workload-specific timings that only the detail line carries
DETAIL = {"forest": {"train_s"}, "lake": {"commit_s", "read_s"}}

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture
def small_inputs(monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    for name, small in SMALL.items():
        w = dataclasses.replace(workloads.WORKLOADS[name], **small)
        monkeypatch.setitem(workloads.WORKLOADS, name, w)
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_workloads_match_spec():
    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
    assert sorted(SMALL) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMALL))
def test_one_pass_prints_every_metric(small_inputs, capsys, workload, trace):
    argv = ["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", str(trace)]
    assert run.main(argv) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert detail["error_rate"] == 0, detail["errors"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expect = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expect
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    assert detail["inputs"] and all(t["rows"] > 0 for t in detail["inputs"].values())
    assert DETAIL[workload] | {"peak_rss_mb", "cache_growth"} <= set(detail)
