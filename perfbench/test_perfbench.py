"""Tests of the benchmark itself at a tiny size.

Run from the repository root: ``python -m pytest perfbench/ -q``. Each case
starts the benchmark in a fresh process, as a caller would, with the
workload sizes shrunk (sf 0.001, a 2k-event raw batch, 60 documents).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

_TINY = """
import sys
sys.path.insert(0, {here!r})
import workloads as W
W.Ingest.n_events = 2000
W.ANALYTICS_SIZES = W.Sizes(sf=0.001, n_docs=60)
import run
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace)]
    proc = subprocess.run(
        [sys.executable, "-c", _TINY.format(here=HERE), *argv],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    return result


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


EXACT = ["spark.jobs", "spark.stages", "pipeline.curated_rows",
         "pipeline.rejected_rows", "pipeline.corrupt_rows"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_metrics_named_with_units_and_counts_repeat(workload):
    _assert_metrics(_run(workload, trace=0), SPEC["end_to_end"])
    first, second = _run(workload, trace=1), _run(workload, trace=1)
    _assert_metrics(first, SPEC["per_layer"])
    assert first["metrics"]["spark.jobs"]["value"] > 0
    for name in EXACT:
        assert first["metrics"][name] == second["metrics"][name], name


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
