"""scripts/aggregate_repeats.py: usage on a missing glob, and the schema
marker that dates the meaning of its per-query ``n``."""

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "aggregate_repeats.py")


def _run(*args):
    return subprocess.run([sys.executable, SCRIPT, *args], capture_output=True, text=True, timeout=60)


def test_no_pattern_prints_usage_and_exits_2():
    for args in ((), ("--allow-errors",)):
        res = _run(*args)
        assert res.returncode == 2
        assert "usage:" in res.stderr
        assert "Traceback" not in res.stderr


def test_output_carries_schema_and_counts_all_reps(tmp_path):
    reps = [
        {"queries": {"qa": {"sec": 2.0, "rows": 5}, "qb": {"sec": 9.0, "error": "broadcast OOM"}}},
        {"queries": {"qa": {"sec": 4.0, "rows": 5}, "qb": {"sec": 3.0, "rows": 7}}},
    ]
    for i, d in enumerate(reps):
        (tmp_path / f"rep{i}.json").write_text(json.dumps(d))
    out = tmp_path / "agg.json"
    res = _run(str(tmp_path / "rep*.json"), str(out), "--allow-errors")
    assert res.returncode == 0, res.stderr
    agg = json.loads(out.read_text())
    assert agg["schema"] == 2
    assert (agg["queries"]["qa"]["n"], agg["queries"]["qa"]["n_ok"]) == (2, 2)
    assert (agg["queries"]["qb"]["n"], agg["queries"]["qb"]["n_ok"], agg["queries"]["qb"]["errors"]) == (2, 1, 1)
    assert agg["queries"]["qa"]["median"] == 3.0
    # without --allow-errors an errored rep fails the aggregation
    assert _run(str(tmp_path / "rep*.json")).returncode == 1
