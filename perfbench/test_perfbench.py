"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests take a second.  The traced-run tests start a Spark
session per workload and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_library_sequences_deterministic_per_seed():
    a, pa = gen.library_sequences((1, 0), 500, 50, 0.1)
    b, pb = gen.library_sequences((1, 0), 500, 50, 0.1)
    c, _ = gen.library_sequences((2, 0), 500, 50, 0.1)
    d, _ = gen.library_sequences((1, 1), 500, 50, 0.1)
    assert np.array_equal(a, b) and np.array_equal(pa, pb)
    assert not np.array_equal(a, c)
    assert not np.array_equal(a, d)
    assert pa.sum() == 50
    assert a.dtype == np.int8 and a.min() >= 0 and a.max() <= 2


def test_regime_signal_deterministic_per_seed():
    a, la = gen.regime_signal((1, 3), [0, -1, 1], 300)
    b, lb = gen.regime_signal((1, 3), [0, -1, 1], 300)
    c, _ = gen.regime_signal((2, 3), [0, -1, 1], 300)
    assert np.array_equal(a, b) and np.array_equal(la, lb)
    assert not np.array_equal(a, c)
    assert list(np.unique(la)) == [-1, 0, 1]


def test_stream_files_deterministic_and_every_key_new_or_switching():
    a, pa = gen.stream_file((1, 5), 0, 4, 5, 250)
    b, pb = gen.stream_file((1, 5), 0, 4, 5, 250)
    c, _ = gen.stream_file((2, 5), 0, 4, 5, 250)
    assert a == b and pa == pb
    assert a != c
    assert [w for _, w, _ in a[:5]] == [0, 1, 2, 3, 4]
    # each file: two new keys, two that switch; a key lives two files
    for index in range(6):
        _, phases = gen.stream_file((1, 5), index, 4, 1, 50)
        assert sorted(phases.values()) == [0, 0, 1, 1]
    _, p0 = gen.stream_file((1, 5), 0, 4, 1, 50)
    _, p1 = gen.stream_file((1, 5), 1, 4, 1, 50)
    assert [k for k, ph in p1.items() if ph == 1] == [k for k, ph in p0.items() if ph == 0]


COUNTS = (".jobs", ".stages", ".tasks", ".calls", ".rounds", ".exchanges", ".python_evals", ".state_instances")


def _traced(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_run_emits_every_per_layer_metric_and_repeats_its_counts(workload):
    first, second = _traced(workload), _traced(workload)
    spec = _spec()
    for line in (first, second):
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
        assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]
        for m in spec["per_layer"]:
            assert line["metrics"][m["name"]]["unit"] == m["unit"]
    counts = [n for n in first["metrics"] if n.endswith(COUNTS)]
    assert {n: first["metrics"][n]["value"] for n in counts} == {n: second["metrics"][n]["value"] for n in counts}


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "score_library", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
