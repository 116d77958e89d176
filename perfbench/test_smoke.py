"""Smoke test of the benchmark harness at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json prints with its unit,
that every per-layer metric is produced by at least one workload, that an
injected wrong answer (one flipped cluster label) counts as a failed
operation, and that the benchmark refuses to run without the engine
package.
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
PAGES = {"batch": "300", "stream": "600"}


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    p = subprocess.run(
        [
            sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--pages", PAGES[workload], *extra,
        ],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1]}
    assert printed == {n: m["unit"] for n, m in res["metrics"].items()}
    return res


@pytest.mark.parametrize("workload", ["batch", "stream"])
def test_end_to_end_metrics_and_injected_wrong_answer(workload):
    res = _result(_run(workload, 0, "--inject-wrong"))
    spec = _spec()
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    assert all(m["value"] > 0 for m in res["metrics"].values())
    # the untimed warm-up is checked honestly; every timed operation
    # carries the flipped label and must fail
    assert res["attempted"] > res["failed"] > 0
    assert res["correct"] is False


def test_per_layer_metrics_cover_the_spec():
    spec_units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    produced: set[str] = set()
    for workload in ("batch", "stream"):
        p = _run(workload, 1)
        res = _result(p)
        assert res["correct"] is True and res["failed"] == 0
        assert {n: m["unit"] for n, m in res["metrics"].items()} == spec_units
        absent: set[str] = set()
        for line in p.stderr.splitlines():
            if line.startswith("perfbench: not run by this workload:"):
                absent = set(line.split(":", 2)[2].split())
        produced |= set(spec_units) - absent
    assert produced == set(spec_units)


def test_refuses_without_the_engine_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    p = _run("batch", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
