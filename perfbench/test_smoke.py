"""Smoke test of the benchmark: every workload at the tiny size, untraced
and traced, from a working directory outside the checkout; the metric
names and units it prints must be exactly those BENCHMARK.json declares.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_spec_matches_the_metric_tables():
    sys.path.insert(0, HERE)
    import run
    from workloads import WORKLOADS

    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"]
                                              for m in SPEC["end_to_end"])


def test_hot_conversations_have_a_fixed_length(tmp_path):
    """Every seed gets the same skew: each hot conversation has exactly
    hot_turns content turns, with increasing turn_idx and ts."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from inputs import corpus

    for seed in (1, 2):
        v1 = corpus(str(tmp_path / str(seed)), n_convs=5, seed=seed,
                    n_hot=2, hot_turns=40)["v1_frame"]
        hot = v1[v1["conv_id"].str.startswith("c9")]
        assert sorted(hot["conv_id"].unique()) == ["c90000000", "c90000001"]
        for _, conv in hot.groupby("conv_id"):
            assert (conv["role"] != "tool").sum() == 40
            assert conv["turn_idx"].is_monotonic_increasing
            assert conv["turn_idx"].is_unique
            assert conv["ts"].is_monotonic_increasing


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_declared_metrics(workload, trace, tmp_path):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "tiny"], cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    if not trace:
        for name in ("job_s", "cpu_s", "rows_per_s", "setup_s"):
            assert out["metrics"][name]["value"] > 0
        for name in ("triple_precision", "triple_recall", "ok_frac"):
            assert out["metrics"][name]["value"] == 1.0
    # nothing left behind in the checkout
    assert not os.listdir(os.path.join(ROOT, ".bench_data", "perfbench"))


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: no
    result, non-zero exit."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "build_full", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
