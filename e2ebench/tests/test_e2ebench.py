"""Tests of the end-to-end benchmark itself. They live apart from the
engine's suite under tests/ because each traced run starts its own
Spark session.

    python -m pytest e2ebench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402


def _tree_bytes(d: str) -> dict:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_inputs_are_byte_identical_for_one_seed(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.generate(workload, 7, a)
    inputs.generate(workload, 7, b)
    inputs.generate(workload, 8, c)
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert ta == tb
    assert ta.keys() == tc.keys() and ta != tc  # the seed draws the values


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_traced_job_and_stage_counts_repeat_across_seeds(workload, tmp_path):
    """Job and stage counts are the noise-free signal: two traced runs
    with different seeds must give every op the same counts."""
    procs = []
    for seed in (1, 2):
        rec = str(tmp_path / f"records-{seed}.json")
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", "1", "--trace", "1", "--records", rec]
        procs.append((rec, subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                            stderr=subprocess.DEVNULL, text=True)))
    counts = []
    for rec, proc in procs:
        stdout, _ = proc.communicate(timeout=600)
        assert proc.returncode == 0
        result = json.loads(stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        assert set(result["metrics"]) == set(run.per_layer_units())
        with open(rec) as f:
            records = json.load(f)
        per_op = {}
        for r in records:
            per_op.setdefault(r["op"], set()).add((r["spark.jobs"], r["spark.stages"]))
        assert set(per_op) == set(run.WORKLOADS[workload])
        assert all(len(v) == 1 for v in per_op.values()), per_op
        counts.append(per_op)
    assert counts[0] == counts[1]
